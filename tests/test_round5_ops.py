"""Round-5 regression tests: ADVICE r4 fixes (hypertable state
migration, Hadoop-FS stream marker, epsilon-null params upgrade,
hole-in-hole repair semantics) and the pinned golden-oracle layer."""

import json
import os

import numpy as np
import pandas as pd
import pytest


# ---------------------------------------------------------------------------
# hypertable: pre-chk state dirs self-migrate (ADVICE r4 #1)
# ---------------------------------------------------------------------------

def test_hypertable_pre_chk_state_migrates(spark, tmp_path):
    """An out_dir whose _rollup_state predates the chk column must
    refresh once (NULL chk = changed) and self-migrate, not fail
    max_by('chk', ...) resolution."""
    from geo_sim_processing_a_spark.operators.hypertable import (
        read_rollup, refresh)
    out = str(tmp_path / "ht_legacy")
    e = spark.createDataFrame(
        pd.DataFrame({"event_id": [1, 2], "user_id": [1, 1],
                      "event_type": ["a", "b"],
                      "ts": pd.to_datetime(["2024-01-01 10:05",
                                            "2024-01-01 11:10"]),
                      "value": [1.0, 2.0]}))
    refresh(spark, e, out, bucket="hour")
    # rewrite the state WITHOUT the chk column (legacy layout)
    state_path = f"{out}/_rollup_state"
    legacy = spark.read.parquet(state_path).drop("chk").toPandas()
    import shutil
    shutil.rmtree(state_path)
    spark.createDataFrame(legacy).write.parquet(state_path)

    r2 = refresh(spark, e, out, bucket="hour")  # must not raise
    assert r2["buckets_refreshed"] == 2          # NULL chk → recompute once
    r3 = refresh(spark, e, out, bucket="hour")
    assert r3["buckets_refreshed"] == 0          # migrated: stable again
    vals = {(r["event_type"]): r["total_value"]
            for r in read_rollup(spark, out).collect()}
    assert vals == {"a": 1.0, "b": 2.0}


# ---------------------------------------------------------------------------
# Hadoop-FS text marker helpers (ADVICE r4 #2)
# ---------------------------------------------------------------------------

def test_fs_text_marker_roundtrip(spark, tmp_path):
    from geo_sim_processing_a_spark.sources.manifest import (
        fs_exists, fs_read_text, fs_write_text)
    marker = str(tmp_path / "ckpt" / "_pipeline_stream_id")
    assert not fs_exists(spark, marker)
    fs_write_text(spark, marker, "abc123")
    assert fs_exists(spark, marker)
    assert fs_read_text(spark, marker) == "abc123"
    # exclusive create: a second writer must fail loudly, not clobber
    with pytest.raises(Exception):
        fs_write_text(spark, marker, "other")
    assert fs_read_text(spark, marker) == "abc123"


def test_stream_marker_via_hadoop_fs(spark, tmp_path):
    """run_incremental_pipeline's stream-identity marker goes through
    the Hadoop FS API: a file:// checkpoint URI reads/writes the real
    local path, not a literal './file:/...' directory."""
    from geo_sim_processing_a_spark.sources.manifest import (
        fs_read_text, fs_write_text)
    ckpt = tmp_path / "ckpt_uri"
    marker_uri = f"file://{ckpt}/_pipeline_stream_id"
    fs_write_text(spark, marker_uri, "sid42")
    # visible at the plain local path — no './file:' literal dir
    assert (ckpt / "_pipeline_stream_id").read_text() == "sid42"
    assert fs_read_text(spark, marker_uri) == "sid42"
    assert not os.path.exists("./file:")


# ---------------------------------------------------------------------------
# params-file epsilon-null upgrade (ADVICE r4 #4)
# ---------------------------------------------------------------------------

def test_params_epsilon_null_upgrade(tmp_path):
    """A pre-existing params file with "epsilon": null (written before
    resolved-epsilon recording) must be accepted when every other key
    matches, and upgraded in place with the resolved value."""
    from geo_sim_processing_a_spark.plans.pipeline import _check_run_params
    out = str(tmp_path / "run")
    os.makedirs(out)
    legacy = {"res": 6, "diameter_tol": 0.004, "kernel": "sherbend",
              "smooth": False, "epsilon": None}
    path = os.path.join(out, "_params_simplify.json")
    with open(path, "w") as f:
        f.write(json.dumps(legacy, sort_keys=True))
    resolved = dict(legacy, epsilon=[1e-12, 1e-13])
    _check_run_params(out, "simplify", **resolved)  # must not raise
    stored = json.loads(open(path).read())
    assert stored["epsilon"] == [1e-12, 1e-13]      # upgraded in place
    # and a REAL mismatch still raises (other key differs)
    with pytest.raises(ValueError):
        _check_run_params(out, "simplify", **dict(resolved, res=7))
    # re-resume with the now-recorded resolved epsilon: fine
    _check_run_params(out, "simplify", **resolved)


# ---------------------------------------------------------------------------
# repair_polygon: hole-in-hole (ADVICE r4 #5)
# ---------------------------------------------------------------------------

def _sq(x0, y0, s):
    return np.array([(x0, y0), (x0 + s, y0), (x0 + s, y0 + s),
                     (x0, y0 + s), (x0, y0)], dtype=float)


def test_repair_polygon_nested_hole_deleted():
    """A ring nested inside an already-kept hole is OUTSIDE the polygon
    under construction — the reference's inner.within(s_geom_outer)
    deletes it."""
    from geo_sim_processing_a_spark.kernels.simplify import repair_polygon
    exterior = _sq(0, 0, 100)
    hole = _sq(10, 10, 40)
    nested = _sq(20, 20, 10)          # strictly inside `hole`
    kept, deleted = repair_polygon([exterior, hole, nested])
    assert deleted == 1
    assert len(kept) == 2
    assert np.array_equal(kept[1], hole)


def test_repair_polygon_touching_holes_kept():
    """Two holes touching at a boundary point/edge both survive (the
    round-4 within-semantics: touching allowed)."""
    from geo_sim_processing_a_spark.kernels.simplify import repair_polygon
    exterior = _sq(0, 0, 100)
    hole_a = _sq(10, 10, 20)
    hole_b = _sq(30, 10, 15)          # shares the x=30 edge with hole_a
    kept, deleted = repair_polygon([exterior, hole_a, hole_b])
    assert deleted == 0
    assert len(kept) == 3


def test_repair_polygon_hole_crossing_into_hole_deleted():
    """A ring partially overlapping a kept hole's interior pokes
    outside the polygon closure — deleted."""
    from geo_sim_processing_a_spark.kernels.simplify import repair_polygon
    exterior = _sq(0, 0, 100)
    hole = _sq(10, 10, 40)
    crossing = _sq(45, 20, 10)        # straddles hole's x=50 edge
    kept, deleted = repair_polygon([exterior, hole, crossing])
    assert deleted == 1
    assert [len(r) for r in kept] == [5, 5]


def test_repair_polygon_disjoint_holes_unaffected():
    from geo_sim_processing_a_spark.kernels.simplify import repair_polygon
    exterior = _sq(0, 0, 100)
    holes = [_sq(10, 10, 10), _sq(40, 40, 10), _sq(70, 70, 10)]
    kept, deleted = repair_polygon([exterior] + holes)
    assert deleted == 0
    assert len(kept) == 4


# ---------------------------------------------------------------------------
# golden-oracle layer
# ---------------------------------------------------------------------------

def test_golden_oracle_files_exist():
    """Every non-SQL-expressible query ships a pinned expected-output
    parquet for the driver SF (sf0.01) and the test SFs."""
    from geo_sim_processing_a_spark.plans.driver_queries import (
        GOLDEN_ORACLE_QUERIES, all_oracles, all_queries)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for sf in ("sf0.001", "sf0.01"):
        for name in GOLDEN_ORACLE_QUERIES:
            path = os.path.join(repo, "tests", "data", "expected", sf,
                                f"{name}.parquet")
            assert os.path.exists(path), f"missing golden {sf}/{name}"
    # every query now carries SOME oracle: union of SQL + golden = all
    assert set(all_oracles()) == set(all_queries())


def test_golden_oracle_matches_live_run(spark):
    """Spot-check (cheap queries at sf0.001): the live kernel output
    equals the pinned golden multiset, through the same canonical form
    the generator uses."""
    import pyarrow.parquet as pq
    from geo_sim_processing_a_spark.plans.driver_queries import all_queries
    from tools.make_golden_oracles import canon_multiset, expected_dir
    qs = all_queries()
    for name in ("q_raster_tiles", "q_dedup_clusters",
                 "q_text_extract_parity"):
        live = qs[name](spark, "/root/testdata/sf0.001").toArrow()
        pinned = pq.read_table(
            os.path.join(expected_dir("sf0.001"), f"{name}.parquet"))
        assert canon_multiset(live) == canon_multiset(pinned), name


# ---------------------------------------------------------------------------
# sharded SimHash radius-7: volume + in-shard pigeonhole recall
# (fast variant of tools/simhash_shard_proof.py; VERDICT r4 #3)
# ---------------------------------------------------------------------------

def test_simhash_sharded_volume_and_recall(spark):
    from geo_sim_processing_a_spark.operators.dedup import (
        simhash_candidate_volume, simhash_pairs, simhash_signatures)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = [r.asDict() for r in docs.orderBy("doc_id").limit(20).collect()]
    twins = []
    for i, row in enumerate(base):
        toks = row["text"].split()
        for j in range(min(1 + i % 6, len(toks))):
            toks[(j * 7) % len(toks)] = f"edt{i}x{j}"
        twins.append(dict(row, doc_id=1_000_000 + row["doc_id"],
                          text=" ".join(toks)))
    corpus = docs.unionByName(spark.createDataFrame(twins))

    # ground truth: planted twins whose MEASURED signature Hamming is
    # 4..7 (radius-3 bands would miss them; radius-7 must not)
    sig = {r["doc_id"]: r["simhash"]
           for r in simhash_signatures(corpus).collect()}
    planted = [(r["doc_id"], 1_000_000 + r["doc_id"])
               for r in base
               if 4 <= bin(sig[r["doc_id"]]
                           ^ sig[1_000_000 + r["doc_id"]]).count("1") <= 7]
    assert planted, "edit strengths produced no Hamming-4..7 twins"

    # analytic volume: sharding by lang must strictly cut candidates
    vol_u = sum(r["candidates"] for r in
                simhash_candidate_volume(corpus, max_hamming=7).collect())
    vol_s = sum(r["candidates"] for r in
                simhash_candidate_volume(corpus, max_hamming=7,
                                         shard_cols=("lang",)).collect())
    assert 0 < vol_s < vol_u

    # executed sharded join: every planted (same-lang by construction)
    # pair is recalled — the pigeonhole guarantee holds within shards
    pairs_s = {(r["id_a"], r["id_b"])
               for r in simhash_pairs(corpus, max_hamming=7,
                                      shard_cols=("lang",)).collect()}
    for a, b in planted:
        assert (a, b) in pairs_s or (b, a) in pairs_s, (a, b)


# ---------------------------------------------------------------------------
# URL canonicalization + per-domain cap (operators/urls.py)
# ---------------------------------------------------------------------------

def test_normalize_url_rules(spark):
    """Every rule of the documented canonicalization contract on
    adversarial hand-built cases."""
    from pyspark.sql import functions as F
    from geo_sim_processing_a_spark.operators.urls import normalize_url
    cases = [
        # (input, expected)
        ("HTTPS://WWW.Example.COM:443/Path/To?q=1#frag",
         "https://www.example.com/Path/To?q=1"),
        ("http://Host.Org:80", "http://host.org"),
        ("http://host.org:8080/x", "http://host.org:8080/x"),  # kept
        ("https://h.com/", "https://h.com"),                   # bare root
        ("https://h.com/a/", "https://h.com/a/"),              # non-root kept
        ("https://h.com/?utm_source=a", "https://h.com"),      # lone tracking
        ("https://h.com/p?utm_a=1&utm_b=2&x=3", "https://h.com/p?x=3"),
        ("https://h.com/p?x=3&fbclid=abc", "https://h.com/p?x=3"),
        ("https://h.com/p?gclid=1&x=2&utm_c=3", "https://h.com/p?x=2"),
        ("https://h.com/p?Case=Kept", "https://h.com/p?Case=Kept"),
        ("https://h.com:443/?utm_x=1#f", "https://h.com"),     # all rules
        # substring confusion (review r5): params merely CONTAINING a
        # tracking name are NOT tracking params
        ("https://h.com/p?xutm_a=1&b=2", "https://h.com/p?xutm_a=1&b=2"),
        ("https://h.com/p?a=1&myfbclid=9&c=2",
         "https://h.com/p?a=1&myfbclid=9&c=2"),
        ("https://h.com/p?utm_a=1&utm_b=2", "https://h.com/p"),
        ("https://h.com/p?", "https://h.com/p"),   # bare '?' dropped
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], ["url"])
    got = [r["n"] for r in
           df.select(normalize_url(F.col("url")).alias("n")).collect()]
    assert got == [e for _, e in cases]


def test_registrable_domain(spark):
    from pyspark.sql import functions as F
    from geo_sim_processing_a_spark.operators.urls import registrable_domain
    cases = [("www.example.com", "example.com"),
             ("a.b.example.co.uk", "example.co.uk"),
             ("example.org", "example.org"),
             ("localhost", "localhost"),
             ("deep.sub.blog.example.org", "example.org")]
    df = spark.createDataFrame([(h,) for h, _ in cases], ["host"])
    got = [r["d"] for r in
           df.select(registrable_domain(F.col("host")).alias("d")).collect()]
    assert got == [e for _, e in cases]


def test_domain_cap_equals_global_window(spark):
    """The skew-aware split (pass-through cold + windowed hot) must be
    row-identical to the naive global row_number formulation."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window
    from geo_sim_processing_a_spark.operators.urls import domain_cap
    rows = []
    for dom, n in (("big.com", 40), ("mid.com", 6), ("small.com", 3),
                   ("two.com", 2)):
        for i in range(n):
            rows.append((len(rows), f"text {dom} {i % 5}", dom))
    docs = spark.createDataFrame(rows, ["doc_id", "text", "domain"])
    got = {r["doc_id"] for r in domain_cap(docs, cap=5).collect()}
    w = Window.partitionBy("domain").orderBy(
        F.md5(F.coalesce(F.col("text"), F.lit("")).cast("binary")), "doc_id")
    expect = {r["doc_id"] for r in
              docs.withColumn("rn", F.row_number().over(w))
              .where(F.col("rn") <= 5).collect()}
    assert got == expect
    assert len(got) == 5 + 5 + 3 + 2
    # cold path is genuinely sort-free: under-cap rows keep ALL ids
    assert {r for r in got if r >= 46} == set(range(46, 51))


def test_domain_cap_null_text_deterministic(spark):
    from geo_sim_processing_a_spark.operators.urls import domain_cap
    docs = spark.createDataFrame(
        [(i, None if i % 2 else f"t{i}", "d.com") for i in range(10)],
        "doc_id long, text string, domain string")
    a = {r["doc_id"] for r in domain_cap(docs, cap=3).collect()}
    b = {r["doc_id"] for r in
         domain_cap(docs.repartition(7), cap=3).collect()}
    assert a == b and len(a) == 3


def test_registrable_domain_exact_psl(spark):
    """Longest-suffix PSL match: longest rule wins, a host that IS a
    public suffix maps to NULL, and no-rule hosts fall back to the
    two-label approximation."""
    from geo_sim_processing_a_spark.operators.urls import (
        registrable_domain_exact)
    psl = spark.createDataFrame(
        [("com",), ("uk",), ("co.uk",), ("ac.uk",)], ["suffix"])
    docs = spark.createDataFrame(
        [(1, "deep.sub.example.co.uk"),   # co.uk beats uk -> example.co.uk
         (2, "www.example.com"),          # example.com
         (3, "co.uk"),                    # IS a suffix -> NULL
         (4, "a.b.weird.zz"),             # no rule -> approx weird.zz
         (5, "example.ac.uk")],           # example.ac.uk
        ["doc_id", "host"])
    got = {r["doc_id"]: r["domain_exact"]
           for r in registrable_domain_exact(docs, psl).collect()}
    assert got == {1: "example.co.uk", 2: "example.com", 3: None,
                   4: "weird.zz", 5: "example.ac.uk"}


def test_gopher_rules_pathological_docs(spark):
    """Each Gopher rule tripped by a purpose-built document."""
    from geo_sim_processing_a_spark.operators.text import with_gopher_rules
    good = ("the quick brown fox and that dog have fun with words to be "
            "seen of all " * 5)
    cases = {
        0: good,                                    # passes everything
        1: "too few words",                         # g1 (short)
        2: " ".join(["ab"] * 60),                   # g2 (mean wl < 3)
        3: " ".join(["word"] * 30 + ["#"] * 30),    # g3 (symbols)
        4: "\n".join(["- bullet item here"] * 10),  # g4 (all bullets)
        5: "\n".join(["trailing off..."] * 10),     # g5 (ellipsis)
        6: " ".join(["word123"] * 30 + ["123"] * 30),  # g6 (numeric words)
        7: " ".join(["sans stopword lexicon"] * 20),   # g7 (no stopwords)
        8: None,                                    # NULL text
    }
    df = spark.createDataFrame(list(cases.items()),
                               "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in with_gopher_rules(df).collect()}
    assert got[0]["gopher_pass"] is True
    assert got[1]["g1"] is False
    assert got[2]["g2"] is False
    assert got[3]["g3"] is False
    assert got[4]["g4"] is False
    assert got[5]["g5"] is False
    assert got[6]["g6"] is False
    assert got[7]["g7"] is False
    assert got[8]["g1"] is False and got[8]["gopher_pass"] is False
    for k in (1, 2, 3, 4, 5, 6, 7, 8):
        assert got[k]["gopher_pass"] is False


def test_normalize_url_idempotent(spark):
    """A canonicalizer must be a projection: normalize(normalize(u)) ==
    normalize(u) over the full cross-product of messy components."""
    import itertools
    from pyspark.sql import functions as F
    from geo_sim_processing_a_spark.operators.urls import normalize_url
    urls = []
    for scheme, host, port, path, query, frag in itertools.product(
            ("https", "HTTPS", "http", "HtTp"),
            ("Ex.COM", "a.b.example.co.uk", "x.org"),
            ("", ":80", ":443", ":8080"),
            ("", "/", "/P/q", "/P/q/"),
            ("", "?utm_source=1", "?a=1&utm_b=2", "?utm_a=1&b=2&utm_c=3",
             "?A=Z"),
            ("", "#F1")):
        urls.append(f"{scheme}://{host}{port}{path}{query}{frag}")
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    once = df.select("url", normalize_url(F.col("url")).alias("n1"))
    twice = once.select("url", "n1", normalize_url(F.col("n1")).alias("n2"))
    bad = twice.where(F.col("n1") != F.col("n2")).collect()
    assert not bad, bad[:5]


def test_curate_corpus_fuzzy_removes_near_dups(spark):
    """Planted near-duplicates (one token changed in a 60-token doc)
    survive EXACT curation but collapse to one survivor under the
    fuzzy path; the survivor is the min-id canonical, and distinct
    docs are untouched."""
    from geo_sim_processing_a_spark.operators.curation import (
        curate_corpus, curate_corpus_fuzzy)
    base = " ".join(f"tok{j}" for j in range(60))
    rows = [(0, "en", base),
            (1, "en", base.replace("tok30", "tokX")),   # near-dup of 0
            (2, "en", base.replace("tok31", "tokY")),   # near-dup of 0
            (3, "en", " ".join(f"other{j}" for j in range(60)))]
    docs = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    exact_ids = {r["doc_id"] for r in curate_corpus(docs).collect()}
    fuzzy_ids = {r["doc_id"] for r in curate_corpus_fuzzy(docs).collect()}
    assert exact_ids == {0, 1, 2, 3}      # all texts distinct byte-wise
    assert fuzzy_ids == {0, 3}            # cluster collapsed to min id


# ---------------------------------------------------------------------------
# cross-engine fuzz: the SQL oracles must agree with the Spark columns
# on adversarial inputs (newlines, \x0b, unicode) — not just on the
# well-formed driver data.  Catches Java-regex vs RE2 divergences
# (e.g. $ before trailing newline; \s including \x0B only in Java).
# ---------------------------------------------------------------------------

def _fuzz_strings(seed, n, alphabet, maxlen):
    import random
    rng = random.Random(seed)
    return ["".join(rng.choice(alphabet) for _ in range(rng.randint(0, maxlen)))
            for _ in range(n)]


def test_url_normalize_cross_engine_fuzz(spark):
    import duckdb
    import string
    from pyspark.sql import functions as F
    from geo_sim_processing_a_spark.operators.urls import normalize_url
    alphabet = (string.ascii_letters + string.digits
                + " .-_/?#&=:%~•…\n\t\x0b" + "äöüñ中文")
    hosts = _fuzz_strings(1, 800, alphabet.replace("/", "").replace("?", "")
                          .replace("#", ""), 16)
    rests = _fuzz_strings(2, 800, alphabet, 30)
    urls = [f"{s}://{h}{p}{r}" for s, h, p, r in
            zip(["http", "https", "HTTP", "HtTpS"] * 200, hosts,
                ["", ":80", ":443", ":8080"] * 200, rests)]
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    got = [r["n"] for r in
           df.select(normalize_url(F.col("url")).alias("n")).collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE t(url VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(u,) for u in urls])
    sql = r"""
SELECT regexp_replace(
  regexp_replace(
    regexp_replace(
      lower(regexp_extract(x2, '^([^/?#]*://[^/?#]*)', 1))
        || regexp_replace(x2, '^[^/?#]*://[^/?#]*', '', 'g'),
      '^(http://[^/?#:]*):80(\z|[/?#][\s\S]*)', '\1\2', 'g'),
    '^(https://[^/?#:]*):443(\z|[/?#][\s\S]*)', '\1\2', 'g'),
  '^(https?://[^/?#]*)/\z', '\1', 'g') AS n
FROM (
  SELECT CASE WHEN length(query) = 0 THEN base
              WHEN len([p for p in string_split(query, '&')
                        if NOT regexp_matches(p, '^(utm_[^=&#]*|fbclid|gclid)=')]) = 0
                THEN base
              ELSE base || '?' || array_to_string(
                     [p for p in string_split(query, '&')
                      if NOT regexp_matches(p, '^(utm_[^=&#]*|fbclid|gclid)=')], '&')
         END AS x2
  FROM (SELECT regexp_extract(regexp_replace(url, '#[\s\S]*', '', 'g'),
                              '^([^?]*)', 1) AS base,
               regexp_extract(regexp_replace(url, '#[\s\S]*', '', 'g'),
                              '^[^?]*\?([\s\S]*)', 1) AS query
        FROM t))
"""
    exp = [r[0] for r in con.execute(sql).fetchall()]
    bad = [(u, g, e) for u, g, e in zip(urls, got, exp) if g != e]
    assert not bad, bad[:3]


def test_gopher_cross_engine_fuzz(spark):
    import duckdb
    import string
    from geo_sim_processing_a_spark.plans.driver_queries import _sql_gopher
    from geo_sim_processing_a_spark.operators.text import with_gopher_rules
    alphabet = (string.ascii_letters + string.digits
                + " .-_#*•…\n\t\x0b\r\f" + "äö中the with and ")
    texts = [None, "", " ", "\n\n\n", "...", "• - *", "the\x0bbe", "to of"]
    texts += _fuzz_strings(7, 1000, alphabet, 200)
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    cols = ["doc_id", "n_words", "n_lines", "g1", "g2", "g3", "g4", "g5",
            "g6", "g7", "gopher_pass"]
    got = {r["doc_id"]: tuple(r[c] for c in cols[1:])
           for r in with_gopher_rules(df).select(*cols).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)",
                    list(enumerate(texts)))
    exp = {r[0]: tuple(r[1:]) for r in con.execute(_sql_gopher()).fetchall()}
    bad = [(k, got[k], exp[k]) for k in got if got[k] != exp.get(k)]
    assert not bad, bad[:3]


def test_text_features_cross_engine_fuzz(spark):
    """token/bpe counts, punct ratio base strings and fingerprint md5
    agree with the DuckDB formulations on adversarial whitespace."""
    import duckdb
    import string
    from pyspark.sql import functions as F
    from geo_sim_processing_a_spark.operators.text import (
        WS_CLASS, bpe_token_count, fingerprint, token_count)
    alphabet = string.ascii_letters + " .,!?#\n\t\x0b\r\f_0123456789äö中"
    texts = ["", " ", "a\x0bb", "x \x0b y", "tab\tand\nnl"]
    texts += _fuzz_strings(11, 1200, alphabet, 120)
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    got = {r["doc_id"]: (r["tc"], r["bc"], r["fp"]) for r in
           df.select("doc_id",
                     token_count(F.col("text")).alias("tc"),
                     bpe_token_count(F.col("text")).alias("bc"),
                     fingerprint(F.col("text")).alias("fp")).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(texts)))
    ws = "[ \\t\\n\\x0b\\f\\r]"
    exp = {r[0]: (r[1], r[2], r[3]) for r in con.execute(f"""
        SELECT doc_id,
               len(string_split_regex(trim(text), '{ws}+')),
               len(regexp_extract_all(text,
                   '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\x0b\\f\\r]')),
               md5(lower(trim(regexp_replace(text, '{ws}+', ' ', 'g'))))
        FROM t""").fetchall()}
    bad = [(k, got[k], exp[k]) for k in got if got[k] != exp[k]]
    assert not bad, bad[:3]


def test_curate_job_cli(spark, tmp_path, monkeypatch):
    """The spark-submit curation entry point runs end-to-end from argv
    (reusing the test session via getOrCreate) and writes a
    split-partitioned table matching its printed stats."""
    import json
    import sys
    from jobs import curate_job

    out = str(tmp_path / "curated")
    monkeypatch.setattr(sys, "argv", [
        "curate_job.py", "--docs-path",
        "/root/testdata/sf0.001/documents.parquet", "--out", out,
        "--min-tokens", "5"])
    import io
    from contextlib import redirect_stdout
    buf = io.StringIO()
    # the job calls spark.stop(); guard the shared test session by
    # re-creating via getOrCreate on next use (session fixture is
    # function-scoped per module run order... safer: intercept stop)
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    with redirect_stdout(buf):
        curate_job.main()
    line = [l for l in buf.getvalue().splitlines()
            if l.startswith("CURATE_STATS ")][0]
    stats = json.loads(line[len("CURATE_STATS "):])
    assert stats["docs_in"] == 500
    assert stats["docs_out"] == sum(stats["splits"].values()) > 0
    back = spark.read.parquet(out)
    assert back.count() == stats["docs_out"]
    assert set(r["split"] for r in back.select("split").distinct().collect()) \
        == set(stats["splits"])


def test_domain_cap_null_domain_capped(spark):
    """NULL domains form one capped group (SQL NULL-partition
    semantics) instead of slipping through the anti-join uncapped."""
    from geo_sim_processing_a_spark.operators.urls import domain_cap
    rows = [(i, f"t{i}", None) for i in range(10)] + \
           [(100 + i, f"u{i}", "d.com") for i in range(2)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, domain string")
    got = domain_cap(docs, cap=3).collect()
    nulls = [r for r in got if r["domain"] is None]
    assert len(nulls) == 3                   # capped, not passed through
    assert len(got) == 5                     # 3 null + 2 d.com
    assert "_dk" not in docs.columns and "_dk" not in got[0].asDict()


def test_repair_polygon_vertex_transit_deleted():
    """A ring edge that crosses a kept hole touching its boundary ONLY
    at hole vertices (corner-to-corner transit) still pokes into the
    hole interior — deleted (review r5: the endpoint-equality skip in
    the crossing test missed exactly this)."""
    import numpy as np
    from geo_sim_processing_a_spark.kernels.simplify import repair_polygon
    exterior = _sq(0, 0, 100)
    hole = _sq(10, 10, 40)
    # triangle whose long edge runs (5,5)->(55,55): through the hole,
    # meeting its boundary only at the corners (10,10) and (50,50)
    transit = np.array([(5.0, 5.0), (55.0, 55.0), (55.0, 5.0), (5.0, 5.0)])
    kept, deleted = repair_polygon([exterior, hole, transit])
    assert deleted == 1
    assert len(kept) == 2


def test_repair_polygon_vertex_entry_deleted():
    """Edge entering the hole interior exactly through one hole vertex
    with its midpoint outside the hole — interval sampling catches it."""
    import numpy as np
    from geo_sim_processing_a_spark.kernels.simplify import repair_polygon
    exterior = _sq(0, 0, 100)
    hole = _sq(10, 10, 40)
    # edge (2,2)->(14,14): enters the hole at corner (10,10); its
    # midpoint (8,8) is OUTSIDE the hole
    entry = np.array([(2.0, 2.0), (14.0, 14.0), (14.0, 2.0), (2.0, 2.0)])
    kept, deleted = repair_polygon([exterior, hole, entry])
    assert deleted == 1


# ---------------------------------------------------------------------------
# bigram-LM perplexity filter (operators/lm.py)
# ---------------------------------------------------------------------------

def _lm_expected(docs, min_count=2, k=0.1):
    """Independent pure-Python reference for bigram_lm_score (mirrors
    the documented math, not the Spark plan)."""
    import math
    from collections import Counter
    tok = {i: t.strip().split() for i, t in docs}
    tok = {i: [w for w in ws if w] for i, ws in tok.items()}
    uni = Counter(w for ws in tok.values() for w in ws)
    vocab = {w for w, c in uni.items() if c >= min_count}
    V = len(vocab)
    mp = {i: [w if w in vocab else "<unk>" for w in ws]
          for i, ws in tok.items()}
    bi = Counter((ws[j], ws[j + 1]) for ws in mp.values()
                 for j in range(len(ws) - 1))
    ctx = Counter()
    for (v, _), c in bi.items():
        ctx[v] += c
    out = {}
    for i, ws in mp.items():
        pairs = [(ws[j], ws[j + 1]) for j in range(len(ws) - 1)]
        if not pairs:
            continue
        s = 0
        for p in pairs:
            lp = math.log((bi[p] + k) / (ctx[p[0]] + k * (V + 1)))
            s += int(round(lp * 1e7))
        out[i] = (len(pairs), round(-s / (1e7 * len(pairs)), 6))
    return out


def test_bigram_lm_score_matches_reference(spark):
    from geo_sim_processing_a_spark.operators.lm import bigram_lm_score
    docs = [(1, "the cat sat on the mat"),
            (2, "the dog sat on the log"),
            (3, "the cat and the dog"),
            (4, "zzz"),                      # 1 token -> no bigrams
            (5, ""),                         # empty -> absent
            (6, "qqq www qqq www qqq"),      # self-repetition -> in vocab
            (7, "  the   cat  ")]            # ragged whitespace
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_bigrams"], r["ce"])
           for r in bigram_lm_score(df).collect()}
    exp = _lm_expected(docs)
    assert got == exp
    assert 4 not in got and 5 not in got
    # degenerate-vocab algebra: min_count too high -> every token is
    # <unk>, the single (unk,unk) bigram has P = (c+k)/(c+k*(0+1)) = 1,
    # so every scored doc's cross-entropy is exactly 0
    all_unk = {r["doc_id"]: r["ce"]
               for r in bigram_lm_score(df, min_count=10**9).collect()}
    assert set(all_unk) == set(exp)
    assert all(ce == 0.0 for ce in all_unk.values())


def test_perplexity_buckets(spark):
    from geo_sim_processing_a_spark.operators.lm import perplexity_buckets
    from pyspark.sql import functions as F
    df = spark.createDataFrame(
        [(1, 1.0), (2, 3.0), (3, 9.0)], "doc_id long, ce double")
    got = {r["doc_id"]: r["bucket"]
           for r in perplexity_buckets(df, 2.0, 5.0).collect()}
    assert got == {1: "head", 2: "middle", 3: "tail"}


# ---------------------------------------------------------------------------
# duplicate-substring spans (operators/spans.py)
# ---------------------------------------------------------------------------

def test_duplicate_spans_and_strip(spark):
    from geo_sim_processing_a_spark.operators.spans import (
        duplicate_spans, strip_duplicate_spans)
    docs = [(1, "a b c d e f g h"),
            (2, "x y a b c d e q"),       # shares 'a b c d e' with doc 1
            (3, "p q r s p q r s"),       # within-doc repetition
            (4, "u1 u2 u3 u4 u5"),        # fully unique
            (5, "a  b\tc d e")]           # ragged ws, same 5-token run
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r["doc_id"], r["span_id"]): (r["start_pos"], r["end_pos"],
                                         r["n_tokens"])
           for r in duplicate_spans(df, k=3, min_occurrences=2).collect()}
    # doc1/doc5: windows 0,1,2 over 'a b c d e' -> span tokens 0..4
    # doc2: same run at offset 2 -> 2..6
    # doc3: dup windows at 0,1,4,5; 4 <= 1+3 so ONE span covering 0..7
    assert got == {(1, 1): (0, 4, 5),
                   (2, 1): (2, 6, 5),
                   (3, 1): (0, 7, 8),
                   (5, 1): (0, 4, 5)}
    stripped = {r["doc_id"]: r["text_dedup"]
                for r in strip_duplicate_spans(df, k=3,
                                               min_occurrences=2).collect()}
    assert stripped == {1: "f g h", 2: "x y q", 3: "",
                        4: "u1 u2 u3 u4 u5", 5: ""}


def test_duplicate_spans_min_occurrences(spark):
    from geo_sim_processing_a_spark.operators.spans import duplicate_spans
    docs = [(i, "same same same text here") for i in range(3)] + \
           [(10, "twice shared phrase only"), (11, "twice shared phrase only")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    # at min_occurrences=3 only the 3x doc survives
    got = {r["doc_id"] for r in
           duplicate_spans(df, k=4, min_occurrences=3).collect()}
    assert got == {0, 1, 2}


# ---------------------------------------------------------------------------
# integer-quantized PageRank (operators/graph.pagerank)
# ---------------------------------------------------------------------------

def _pr_expected(edges, n_iter=10, scale=10**12):
    """Independent pure-Python reference of the integer recurrence."""
    e = sorted({(s, d) for s, d in edges if s != d})
    nodes = sorted({s for s, _ in e} | {d for _, d in e})
    deg = {}
    for s, _ in e:
        deg[s] = deg.get(s, 0) + 1
    n = len(nodes)
    base = (15 * scale) // (100 * n)
    r = {v: scale // n for v in nodes}
    for _ in range(n_iter):
        s_in = {v: 0 for v in nodes}
        for s, d in e:
            s_in[d] += r[s] // deg[s]
        r = {v: base + (85 * s_in[v]) // 100 for v in nodes}
    return r


def test_pagerank_matches_integer_reference(spark):
    from geo_sim_processing_a_spark.operators.graph import pagerank
    edges = [(0, 1), (1, 2), (2, 0),          # cycle
             (3, 0), (3, 1), (3, 2),          # 3 votes into the cycle
             (0, 1),                          # duplicate edge: deduped
             (4, 4),                          # self-loop: dropped
             (4, 0)]                          # 4 is dangling-ish source
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank_q"] for r in pagerank(df, n_iter=10).collect()}
    assert got == _pr_expected(edges)
    # cycle members receive node 3's and 4's votes: all rank above them
    assert min(got[0], got[1], got[2]) > max(got[3], got[4])


def test_pagerank_checkpoint_cadence_identical(spark):
    from geo_sim_processing_a_spark.operators.graph import pagerank
    edges = [(i, (i * 7 + 3) % 11) for i in range(40)]
    df = spark.createDataFrame(edges, "src long, dst long")
    a = {r["node"]: r["rank_q"]
         for r in pagerank(df, n_iter=6, checkpoint_every=1).collect()}
    b = {r["node"]: r["rank_q"]
         for r in pagerank(df, n_iter=6, checkpoint_every=5).collect()}
    assert a == b

# ---------------------------------------------------------------------------
# jaccard_contamination: per-(doc, probe) fuzzy decontamination
# ---------------------------------------------------------------------------

def test_jaccard_contamination_pairs(spark):
    """Planted overlap: doc 10 shares 5-grams with probe A only, doc 11
    with nothing; the probe's own text inside the corpus surfaces as a
    jaccard-1.0 self-pair.  Exact J verified by hand on distinct-gram
    sets."""
    from geo_sim_processing_a_spark.operators.text import (
        jaccard_contamination)
    base = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [(10, "x y " + base),          # shares a 5-gram run with probe A
         (11, "p q r s t u v w x"),    # disjoint
         (12, base)],                  # the probe itself, leaked verbatim
        ["doc_id", "text"])
    probes = spark.createDataFrame([("A", base)], ["probe_id", "text"])
    got = {(r["doc_id"], r["probe_id"]):
           (r["n_doc"], r["n_probe"], r["n_inter"], r["jaccard"])
           for r in jaccard_contamination(docs, probes, n=5,
                                          threshold=0.0).collect()}
    # probe A has 4 distinct 5-grams; doc 10 has 6, sharing the 4 that
    # avoid the "x y" prefix... actually doc 10's grams starting inside
    # base reproduce all 4 of A's grams -> inter = 4
    assert got[(12, "A")] == (4, 4, 4, 1.0)        # verbatim leak
    n_doc, n_probe, n_inter, j = got[(10, "A")]
    assert (n_probe, n_inter) == (4, 4) and n_doc == 6
    assert j == round(4 / (6 + 4 - 4), 6)
    assert (11, "A") not in got                    # no shared gram at all
    # threshold semantics: raising it drops the partial pair only
    kept = {(r["doc_id"], r["probe_id"])
            for r in jaccard_contamination(docs, probes, n=5,
                                           threshold=0.9).collect()}
    assert kept == {(12, "A")}

# ---------------------------------------------------------------------------
# semdedup: exact-integer k-means + within-cluster semantic dedup
# ---------------------------------------------------------------------------

def test_kmeans_recovers_separated_clusters(spark):
    """Three well-separated direction groups in 4-d must come out as
    three clusters regardless of input partitioning; negative
    components exercise the pmod floor-mean path."""
    from geo_sim_processing_a_spark.operators.semdedup import kmeans_clusters
    import math
    rows = []
    dirs = [(1.0, 0.0, 0.0, 0.0), (0.0, 1.0, 0.0, 0.0),
            (-0.7071, 0.0, -0.7071, 0.0)]
    # ids interleave the groups so the k seeds (k smallest ids) span
    # all three — seeding quality is the caller's contract, not the
    # operator's
    for g, d in enumerate(dirs):
        for j in range(5):
            eps = 0.01 * (j - 2)          # small within-group jitter
            v = [d[0] + eps, d[1] - eps, d[2] + eps / 2, d[3] + eps]
            n = math.sqrt(sum(x * x for x in v))
            rows.append((j * 3 + g, [x / n for x in v], g))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, g int")
    got = {r["vec_id"]: r["cluster"]
           for r in kmeans_clusters(df, k=3, iters=2).collect()}
    by_group = [{got[r[0]] for r in rows if r[2] == g} for g in range(3)]
    assert all(len(s) == 1 for s in by_group)          # each group one cluster
    assert len(set.union(*by_group)) == 3              # and all distinct
    got2 = {r["vec_id"]: r["cluster"]
            for r in kmeans_clusters(df.repartition(7), k=3, iters=2).collect()}
    assert got == got2


def test_semantic_dedup_drops_within_cluster_twin(spark):
    """A planted near-identical twin (higher id) is dropped; the
    orthogonal vector and the original survive; threshold above the
    pair's quantized cosine keeps everything."""
    from geo_sim_processing_a_spark.operators.semdedup import semantic_dedup
    rows = [(0, [1.0, 0.0, 0.0, 0.0]),
            (1, [0.0, 1.0, 0.0, 0.0]),
            (5, [0.9998, 0.02, 0.0, 0.0])]   # cos vs vec 0 ~ 0.9998
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["vec_id"]: (r["cluster"], r["keep"])
           for r in semantic_dedup(df, k=2, iters=1, threshold=0.95).collect()}
    assert got[0][1] and got[1][1] and not got[5][1]
    assert got[0][0] == got[5][0] != got[1][0]
    all_kept = semantic_dedup(df, k=2, iters=1, threshold=0.9999)
    assert all(r["keep"] for r in all_kept.collect())


# ---------------------------------------------------------------------------
# sequence packing (operators/packing.py)
# ---------------------------------------------------------------------------

def _pack_input(spark):
    import pandas as pd
    return spark.createDataFrame(pd.DataFrame({
        "doc_id": list(range(1, 41)),
        "n_tokens": [((i * 37) % 90) + 1 for i in range(1, 41)]}))


def test_prefix_sum_matches_global_window(spark):
    """The two-pass distributed prefix sum must equal the naive global
    window cumsum (the oracle's formulation) exactly."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window
    from geo_sim_processing_a_spark.operators.packing import _prefix_sum
    t = _pack_input(spark)
    got = {r["doc_id"]: r["c"]
           for r in _prefix_sum(t, "doc_id", "n_tokens", "c").collect()}
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    want = {r["doc_id"]: r["c"] for r in t.select(
        "doc_id", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        .cast("long").alias("c")).collect()}
    assert got == want


def test_prefix_sum_partition_invariance(spark):
    """Output is a pure function of the data, not the partition count."""
    from geo_sim_processing_a_spark.operators.packing import _prefix_sum
    t = _pack_input(spark)
    a = sorted(_prefix_sum(t, "doc_id", "n_tokens", "c",
                           partitions=1).collect())
    b = sorted(_prefix_sum(t.repartition(7), "doc_id", "n_tokens", "c",
                           partitions=13).collect())
    assert a == b


def test_pack_manifest_and_chunk_invariants(spark):
    """Chunks tile the token stream: contiguous doc spans, every chunk
    except the last owns exactly seq_len tokens, totals add up."""
    from geo_sim_processing_a_spark.operators.packing import (
        chunk_stats, pack_manifest)
    L = 64
    t = _pack_input(spark)
    m = pack_manifest(t, L).orderBy("doc_id").collect()
    total = sum(r["n_tokens"] for r in m)
    # doc spans are contiguous: next doc starts where the previous ended
    for prev, cur in zip(m, m[1:]):
        assert cur["tok_start"] == prev["tok_start"] + prev["n_tokens"]
        assert cur["chunk_first"] == cur["tok_start"] // L
        assert cur["chunk_offset"] == cur["tok_start"] % L
    ch = {r["chunk_id"]: r for r in chunk_stats(
        pack_manifest(t, L), L).collect()}
    n_chunks = (total + L - 1) // L
    assert set(ch) == set(range(n_chunks))
    assert sum(r["n_tokens"] for r in ch.values()) == total
    for cid, r in ch.items():
        if cid < n_chunks - 1:
            assert r["n_tokens"] == L
        assert r["first_doc"] <= r["last_doc"]


def test_pack_manifest_rejects_bad_seq_len(spark):
    from geo_sim_processing_a_spark.operators.packing import pack_manifest
    with pytest.raises(ValueError):
        pack_manifest(_pack_input(spark), 0)


# ---------------------------------------------------------------------------
# temperature-based group resampling (operators/sampling.py)
# ---------------------------------------------------------------------------

def test_temperature_sample_matches_rule_exactly(spark):
    """The distributed result must equal a brute-force Python
    recomputation of the integer acceptance rule, row for row."""
    import hashlib
    import math
    import pandas as pd
    from geo_sim_processing_a_spark.operators.sampling import (
        temperature_sample)
    rows = [(i, "en" if i % 10 != 0 else "sw", f"doc text {i}")
            for i in range(1, 401)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "lang", "text"]))
    target = 200
    got = sorted(r["doc_id"] for r in
                 temperature_sample(df, target).select("doc_id").collect())
    n_l = {}
    for _, lang, _ in rows:
        n_l[lang] = n_l.get(lang, 0) + 1
    s_l = {l: int(math.floor(math.sqrt(n) * 1000)) for l, n in n_l.items()}
    s_tot = sum(s_l.values())
    want = [i for i, lang, text in rows
            if (int(hashlib.md5(text.encode()).hexdigest()[:3], 16)
                * s_tot * n_l[lang]) < target * s_l[lang] * 4096]
    assert got == want


def test_temperature_sample_boosts_low_resource(spark):
    """α=0.5: a group whose a_l >= 1 is kept whole while the head group
    is thinned to ~target·q_l (md5-uniformity tolerance)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from geo_sim_processing_a_spark.operators.sampling import (
        temperature_sample)
    rows = ([(i, "en", f"head doc {i}") for i in range(900)]
            + [(1000 + i, "sw", f"rare doc {i}") for i in range(100)])
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "lang", "text"]))
    kept = {r["lang"]: r["n"] for r in
            temperature_sample(df, 500).groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert kept["sw"] == 100            # a_sw = 1.25 -> capped, all kept
    assert 300 <= kept["en"] <= 450     # a_en ~ 0.4167 of 900 = ~375


def test_temperature_sample_alpha_validation(spark):
    import pandas as pd
    from geo_sim_processing_a_spark.operators.sampling import (
        temperature_sample)
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "lang": ["en"], "text": ["x"]}))
    with pytest.raises(ValueError):
        temperature_sample(df, 1, alpha=0.7)
    with pytest.raises(ValueError):
        temperature_sample(df, -1)
    # alpha=0 and alpha=1 are exact-integer paths and must run
    assert temperature_sample(df, 1, alpha=0.0).count() in (0, 1)
    assert temperature_sample(df, 1, alpha=1.0).count() in (0, 1)


# ---------------------------------------------------------------------------
# DSIR importance resampling (operators/dsir.py)
# ---------------------------------------------------------------------------

def test_dsir_weights_match_python_reference(spark):
    """Distributed weights must equal a pure-Python recomputation of
    the hashed-unigram log-ratio model, integer for integer."""
    import hashlib
    import math
    import pandas as pd
    from pyspark.sql import functions as F
    from geo_sim_processing_a_spark.operators.dsir import dsir_weights
    rows = [(1, "t", "alpha beta alpha"), (2, "t", "alpha gamma"),
            (3, "r", "delta epsilon zeta"), (4, "r", "beta delta delta"),
            (5, "r", "alpha beta gamma")]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "src", "text"]))
    B = 64
    got = {r["doc_id"]: (r["n_tokens"], r["w7"]) for r in
           dsir_weights(df, F.col("src") == "t", n_buckets=B).collect()}

    def bucket(term):
        return int(hashlib.md5(term.encode()).hexdigest()[:4], 16) % B
    ct, cr = {}, {}
    for _, src, text in rows:
        for term in text.split():
            d = ct if src == "t" else cr
            d[bucket(term)] = d.get(bucket(term), 0) + 1
    nt, nr = sum(ct.values()), sum(cr.values())
    lam = {b: round((math.log((ct.get(b, 0) + 1.0) / (nt + B))
                     - math.log((cr.get(b, 0) + 1.0) / (nr + B))) * 1e7)
           for b in set(ct) | set(cr)}
    want = {}
    for doc_id, _, text in rows:
        toks = text.split()
        want[doc_id] = (len(toks), sum(lam[bucket(t)] for t in toks))
    assert got == want


def test_dsir_top_k_prefers_target_like_docs(spark):
    """Docs built from the target vocabulary must outrank docs built
    from the raw vocabulary."""
    import pandas as pd
    from pyspark.sql import functions as F
    from geo_sim_processing_a_spark.operators.dsir import dsir_top_k
    target = [(i, "t", "quantum physics lattice gauge theory")
              for i in range(10)]
    rawlike = [(100 + i, "r", "cheap pills casino jackpot winner")
               for i in range(50)]
    targety_raw = [(200 + i, "r", "quantum lattice theory notes")
                   for i in range(5)]
    df = spark.createDataFrame(
        pd.DataFrame(target + rawlike + targety_raw,
                     columns=["doc_id", "src", "text"]))
    top = [r["doc_id"] for r in
           dsir_top_k(df, F.col("src") == "t", k=15).collect()]
    # the 5 target-like raw docs must all be selected over spam
    assert set(range(200, 205)) <= set(top)
    assert not any(100 <= d < 150 for d in top[:15])


def test_dsir_bucket_validation(spark):
    import pandas as pd
    from pyspark.sql import functions as F
    from geo_sim_processing_a_spark.operators.dsir import dsir_weights
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "src": ["t"], "text": ["x"]}))
    with pytest.raises(ValueError):
        dsir_weights(df, F.col("src") == "t", n_buckets=100000, nibbles=2)


# ---------------------------------------------------------------------------
# BM25 search (operators/search.py)
# ---------------------------------------------------------------------------

def test_bm25_matches_python_reference(spark):
    """Distributed BM25 must equal a pure-Python recomputation of the
    Lucene-variant formula with identical quantization."""
    import math
    import pandas as pd
    from geo_sim_processing_a_spark.operators.search import bm25_search
    rows = [(1, "apple banana apple cherry"),
            (2, "banana banana banana"),
            (3, "cherry date elderberry fig grape"),
            (4, "apple date date date apple apple apple")]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    q = ["apple", "date"]
    got = [(r["doc_id"], r["n_match_terms"], r["score7"])
           for r in bm25_search(df, q, k=10).collect()]

    docs = {i: t.split() for i, t in rows}
    n, avgdl = len(docs), sum(len(t) for t in docs.values()) / len(docs)
    k1, b = 1.2, 0.75
    dfreq = {t: sum(1 for d in docs.values() if t in d) for t in q}
    want = {}
    for i, toks in docs.items():
        s7, m = 0, 0
        for t in q:
            tf = toks.count(t)
            if not tf:
                continue
            idf = math.log(1.0 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            s = (idf * (tf * (k1 + 1.0))) / (
                tf + k1 * (1.0 - b + b * len(toks) / avgdl))
            s7 += round(s * 1e7)
            m += 1
        if m:
            want[i] = (m, s7)
    expect = sorted(((i, m, s) for i, (m, s) in want.items()),
                    key=lambda r: (-r[2], r[0]))
    assert got == expect
    # doc 4 (apple-heavy + all the dates) must outrank everything
    assert got[0][0] == 4


def test_bm25_empty_query_raises(spark):
    import pandas as pd
    from geo_sim_processing_a_spark.operators.search import bm25_search
    df = spark.createDataFrame(pd.DataFrame({"doc_id": [1], "text": ["x"]}))
    with pytest.raises(ValueError):
        bm25_search(df, [])


# ---------------------------------------------------------------------------
# C4 heuristic cleaning battery (operators/c4.py)
# ---------------------------------------------------------------------------

def test_c4_line_rules(spark):
    """Each line rule drops exactly the lines it should; kept text
    preserves order."""
    from geo_sim_processing_a_spark.operators.c4 import with_c4_rules
    page = "\n".join([
        "short line.",                                # <5 words -> drop
        "this line has five words.",                  # keep
        "this line has no terminal punctuation",      # L1 -> drop
        "enable JavaScript to view this page.",       # L3 -> drop
        'he said "this line ends with a quote"',      # keep (quote terminal)
        "another good sentence with many words here!",  # keep
    ])
    df = spark.createDataFrame(pd.DataFrame({"doc_id": [1], "page": [page]}))
    r = with_c4_rules(df).toPandas().iloc[0]
    assert r["n_lines"] == 6 and r["n_kept"] == 3
    assert r["text_c4"].split("\n") == [
        "this line has five words.",
        'he said "this line ends with a quote"',
        "another good sentence with many words here!"]
    # 2 sentences survive ('.', '!'; the quote line has no [.!?])
    assert r["n_sentences"] == 2 and not r["c4_pass"]


def test_c4_page_rules(spark):
    """lorem ipsum / brace / bad word each fail the page independently
    of the line filter; a clean 3-sentence page passes."""
    from geo_sim_processing_a_spark.operators.c4 import with_c4_rules
    good = ("one full sentence with enough words here.\n"
            "two full sentences with enough words here.\n"
            "three full sentences with enough words here.")
    cases = {
        "good": good,
        "lorem": good + "\nlorem ipsum dolor sit amet text.",
        "brace": good + "\nvar x = { a: 1 }",          # line itself dropped
        "bad": good + "\nthis mentions badword openly today.",
    }
    df = spark.createDataFrame(pd.DataFrame(
        {"doc_id": range(len(cases)), "which": list(cases),
         "page": list(cases.values())}))
    r = with_c4_rules(df).toPandas().set_index("which")
    assert bool(r.loc["good", "c4_pass"])
    assert bool(r.loc["lorem", "has_lorem"]) and not r.loc["lorem", "c4_pass"]
    assert bool(r.loc["brace", "has_brace"]) and not r.loc["brace", "c4_pass"]
    # the brace line lacks terminal punct so it is line-dropped, yet the
    # PAGE-level rule still catches it
    assert r.loc["brace", "n_kept"] == 3
    assert bool(r.loc["bad", "has_badword"]) and not r.loc["bad", "c4_pass"]


def test_c4_null_and_word_boundary(spark):
    """NULL page fails deterministically; bad-word match is
    word-delimited (no substring false positive)."""
    from geo_sim_processing_a_spark.operators.c4 import with_c4_rules
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1],
                      "page": [None,
                               "the word badwordish is not on the list.\n"
                               "second proper sentence with words here.\n"
                               "third proper sentence with words here."]}))
    r = with_c4_rules(df).orderBy("doc_id").toPandas()
    assert r.loc[0, "n_kept"] == 0 and not r.loc[0, "c4_pass"]
    assert not r.loc[1, "has_badword"] and bool(r.loc[1, "c4_pass"])


# ---------------------------------------------------------------------------
# Distributed BPE tokenizer (operators/bpe.py)
# ---------------------------------------------------------------------------

def test_bpe_training_matches_python_reference(spark):
    """Full merge list (pairs, counts, order) exactly equals an
    independent pure-Python Sennrich-style trainer on the same word
    frequencies — including tie-break rounds."""
    from geo_sim_processing_a_spark.operators.bpe import (
        train_bpe, train_bpe_py, word_freqs)
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(6),
        "text": ["low lower lowest", "new newer newest",
                 "low low new", "wider wide widest",
                 "low-cost, newer!", "ties tie tie ties"]}))
    wf = word_freqs(docs)
    wf_pd = wf.toPandas()
    got = train_bpe(wf, n_merges=25)
    ref = pd.DataFrame(
        train_bpe_py(dict(zip(wf_pd.word, wf_pd.freq)), 25),
        columns=["rank", "left", "right", "merged", "pair_count"])
    pd.testing.assert_frame_equal(
        got.astype(ref.dtypes.to_dict()), ref)


def test_bpe_apply_matches_rank_order_application(spark):
    """Greedy lowest-rank application == applying merges in rank order
    (equivalent because a merge's parts always predate it), checked
    token-for-token; word order preserved through the explode/rebuild;
    NULL and empty text yield empty token lists."""
    from geo_sim_processing_a_spark.operators.bpe import (
        END_WORD, apply_bpe, train_bpe, word_freqs)
    import re
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(5),
        "text": ["the lowest price", "lower and lower", None, "",
                 "newest new low"]}))
    m = train_bpe(word_freqs(docs), n_merges=15)
    got = {r.doc_id: list(r.bpe_tokens)
           for r in apply_bpe(docs, m).collect()}

    def rank_order_encode(text):
        if not text:
            return []
        toks = re.findall(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0b\f\r]",
                          text.lower())
        out = []
        for w in toks:
            syms = list(w) + [END_WORD]
            for r in m.itertuples(index=False):
                i = 0
                while i < len(syms) - 1:
                    if syms[i] == r.left and syms[i + 1] == r.right:
                        syms[i:i + 2] = [r.merged]
                    else:
                        i += 1
            out.extend(syms)
        return out

    rows = {r.doc_id: r.text for r in docs.collect()}
    for did, text in rows.items():
        assert got[did] == rank_order_encode(text), did
    assert got[2] == [] and got[3] == []


def test_bpe_partition_invariance(spark):
    """Merge list identical at 1 vocab partition vs 8 (argmax +
    counts must not depend on physical layout)."""
    from geo_sim_processing_a_spark.operators.bpe import (
        train_bpe, word_freqs)
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text").limit(80))
    wf = word_freqs(docs)
    a = train_bpe(wf, n_merges=10, vocab_partitions=1,
                  checkpoint_every=1)
    b = train_bpe(wf.repartition(16), n_merges=10, vocab_partitions=8,
                  checkpoint_every=3)
    pd.testing.assert_frame_equal(a, b)


# ---------------------------------------------------------------------------
# Bloom-filter incremental snapshot dedup (operators/bloom.py)
# ---------------------------------------------------------------------------

def test_bloom_incremental_dedup_exact_and_both_paths(spark):
    """Result equals the plain anti-join exactly; the definite-novel
    (bloom-only) path AND the exact-confirm path both carry rows; the
    bloom-positive sliver stays near the true-duplicate count."""
    from geo_sim_processing_a_spark.operators.bloom import (
        bloom_build, bloom_positive_keys, incremental_dedup)
    from pyspark.sql import functions as F
    d = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
         .select("doc_id", "text"))
    old = d.select(F.md5("text").alias("key"))
    new = d.select(
        "doc_id",
        F.md5(F.when(F.col("doc_id") % 5 == 0, F.col("text"))
              .otherwise(F.concat(F.col("text"), F.lit(" x")))).alias("key"))
    got = incremental_dedup(new, old, with_path_flag=True).toPandas()
    want = set(r.doc_id for r in new.join(old, "key", "left_anti").collect())
    assert set(got.doc_id) == want
    assert (~got.via_confirm).sum() > 0          # bloom alone proved most
    # every true duplicate is bloom-positive (no false negatives)
    n_pos = bloom_positive_keys(new, bloom_build(old)).count()
    n_dup = new.join(old, "key", "left_semi").select("key").distinct().count()
    assert n_pos >= n_dup
    # FP sliver bounded: m=2^18 bits over 500 keys -> expect ~0 FPs
    assert n_pos - n_dup <= 5


def test_bloom_prebuilt_artifact_roundtrip(spark, tmp_path):
    """The word table persists to parquet and a later snapshot reuses
    it bit-exactly (the cross-batch artifact contract)."""
    from geo_sim_processing_a_spark.operators.bloom import (
        bloom_build, incremental_dedup)
    from pyspark.sql import functions as F
    old = spark.createDataFrame(
        pd.DataFrame({"key": [f"k{i}" for i in range(200)]}))
    path = str(tmp_path / "bloom_words")
    bloom_build(old).write.parquet(path)
    bloom = spark.read.parquet(path)
    new = spark.createDataFrame(
        pd.DataFrame({"key": [f"k{i}" for i in range(150, 260)]}))
    out = incremental_dedup(new, old, bloom=bloom).toPandas()
    assert set(out.key) == {f"k{i}" for i in range(200, 260)}


def test_bloom_build_validates_m(spark):
    from geo_sim_processing_a_spark.operators.bloom import bloom_build
    df = spark.createDataFrame(pd.DataFrame({"key": ["a"]}))
    with pytest.raises(ValueError):
        bloom_build(df, m_bits=100)


def test_c4_badword_adjacent_punctuation(spark):
    """Review fix: blocklist words adjacent to punctuation (not just
    whitespace) must still fail the page — '(nsfw)' and 'badword.'."""
    from geo_sim_processing_a_spark.operators.c4 import with_c4_rules
    good = ("one full sentence with enough words here.\n"
            "two full sentences with enough words here.\n"
            "three full sentences with enough words here.")
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1, 2],
        "page": [good + "\nthis page ends with badword.",
                 good + "\nlots of (nsfw) content in here.",
                 good]}))
    r = with_c4_rules(df).orderBy("doc_id").toPandas()
    assert list(r.has_badword) == [True, True, False]


def test_bloom_param_mismatch_refused(spark):
    """Review fix: probing an artifact with different m/k than it was
    built with would silently create false negatives — must raise."""
    from geo_sim_processing_a_spark.operators.bloom import (
        bloom_build, bloom_positive_keys, incremental_dedup)
    old = spark.createDataFrame(pd.DataFrame({"key": ["a", "b"]}))
    bloom = bloom_build(old, m_bits=1 << 20, k=7)
    new = spark.createDataFrame(pd.DataFrame({"key": ["a", "c"]}))
    with pytest.raises(ValueError, match="m_bits"):
        bloom_positive_keys(new, bloom)            # default m/k differ
    with pytest.raises(ValueError, match="m_bits"):
        incremental_dedup(new, old, bloom=bloom)
    # matching params pass
    assert bloom_positive_keys(new, bloom, m_bits=1 << 20, k=7).count() == 1
    legacy = bloom.drop("m_bits", "k")
    with pytest.raises(ValueError, match="metadata"):
        bloom_positive_keys(new, legacy, m_bits=1 << 20, k=7)


def test_apply_bpe_reserved_columns_refused(spark):
    from geo_sim_processing_a_spark.operators.bpe import apply_bpe
    import pandas as _pd
    m = _pd.DataFrame(columns=["rank", "left", "right", "merged",
                               "pair_count"])
    df = spark.createDataFrame(_pd.DataFrame(
        {"doc_id": [1], "text": ["x"], "word": ["clash"]}))
    with pytest.raises(ValueError, match="reserves"):
        apply_bpe(df, m)


# ---------------------------------------------------------------------------
# Mergeable sketches (operators/sketches.py)
# ---------------------------------------------------------------------------

def _tok_stream(spark, n=3000, groups=3):
    import pandas as _pd
    return spark.createDataFrame(_pd.DataFrame({
        "g": [f"g{i % groups}" for i in range(n)],
        "k": [f"key-{(i * i) % (n // 2)}" for i in range(n)]}))


def test_hll_merge_equals_one_shot(spark):
    """THE 100-TB property: union+max of per-partition sketches is
    register-identical to the one-shot sketch of the whole input."""
    from geo_sim_processing_a_spark.operators.sketches import (
        hll_merge, hll_sketch)
    df = _tok_stream(spark)
    whole = hll_sketch(df, "k", ["g"])
    import pyspark.sql.functions as _F
    parts = [hll_sketch(df.where(_F.md5("k") < _F.lit(c)), "k", ["g"])
             for c in ("6",)]
    parts.append(hll_sketch(df.where(~(_F.md5("k") < _F.lit("6"))),
                            "k", ["g"]))
    merged = hll_merge(*parts)
    assert sorted(map(tuple, whole.collect())) == \
        sorted(map(tuple, merged.collect()))


def test_hll_estimate_within_error_bound(spark):
    """Estimate within 5 standard errors (1.04/sqrt(512) ~ 4.6%) of
    the exact distinct count per group."""
    import pyspark.sql.functions as _F
    from geo_sim_processing_a_spark.operators.sketches import (
        hll_estimate, hll_sketch)
    df = _tok_stream(spark, n=6000, groups=2)
    est = {r["g"]: r["est"] for r in
           hll_estimate(hll_sketch(df, "k", ["g"]), ["g"]).collect()}
    exact = {r["g"]: r["t"] for r in
             df.groupBy("g").agg(
                 _F.countDistinct("k").alias("t")).collect()}
    for g, t in exact.items():
        assert abs(est[g] - t) / t < 5 * 1.04 / (512 ** 0.5), (g, est[g], t)


def test_hll_small_range_linear_counting(spark):
    """Tiny cardinalities land in the linear-counting branch and stay
    near-exact (the raw HLL formula alone would be far off)."""
    import pandas as _pd
    from geo_sim_processing_a_spark.operators.sketches import (
        hll_estimate, hll_sketch)
    df = spark.createDataFrame(_pd.DataFrame(
        {"k": [f"v{i}" for i in range(12)] * 5}))
    (row,) = hll_estimate(hll_sketch(df, "k")).collect()
    assert row["n_regs"] == 12          # 12 distinct, no register clash
    assert abs(row["est"] - 12) <= 1


def test_hll_p_validation(spark):
    import pandas as _pd
    from geo_sim_processing_a_spark.operators.sketches import hll_sketch
    df = spark.createDataFrame(_pd.DataFrame({"k": ["a"]}))
    with pytest.raises(ValueError, match="p must be"):
        hll_sketch(df, "k", p=2)


def test_cms_guarantee_and_merge(spark):
    """est >= exact for every present key (one-sided CMS error);
    union+sum of split sketches equals the one-shot sketch."""
    import pyspark.sql.functions as _F
    from geo_sim_processing_a_spark.operators.sketches import (
        cms_estimate, cms_merge, cms_sketch)
    df = _tok_stream(spark, n=4000, groups=1).select("k")
    sk = cms_sketch(df, "k")
    probes = df.distinct().limit(25)
    est = {r["k"]: r["est"] for r in
           cms_estimate(sk, probes, "k").collect()}
    exact = {r["k"]: r["c"] for r in
             df.groupBy("k").agg(_F.count(_F.lit(1)).alias("c")).collect()}
    for k, e in est.items():
        assert e >= exact[k], (k, e, exact[k])
    s1 = cms_sketch(df.where(_F.md5("k") < _F.lit("8")), "k")
    s2 = cms_sketch(df.where(~(_F.md5("k") < _F.lit("8"))), "k")
    assert sorted(map(tuple, sk.collect())) == \
        sorted(map(tuple, cms_merge(s1, s2).collect()))


def test_cms_absent_probe_reports_zero(spark):
    """A probe key absent from the data either reports 0 (some hash
    row's bucket is empty) or a small collision overcount — and is
    ALWAYS present in the output (one row per probe)."""
    import pandas as _pd
    from geo_sim_processing_a_spark.operators.sketches import (
        cms_estimate, cms_sketch)
    df = spark.createDataFrame(_pd.DataFrame({"k": ["a", "b", "a"]}))
    sk = cms_sketch(df, "k")
    probes = spark.createDataFrame(
        _pd.DataFrame({"k": ["a", "b", "never-seen"]}))
    rows = {r["k"]: r["est"] for r in
            cms_estimate(sk, probes, "k").collect()}
    assert rows == {"a": 2, "b": 1, "never-seen": 0}


def test_cms_weighted_counts(spark):
    """weight_col sums weights instead of row counts."""
    import pandas as _pd
    from geo_sim_processing_a_spark.operators.sketches import (
        cms_estimate, cms_sketch)
    df = spark.createDataFrame(_pd.DataFrame(
        {"k": ["a", "a", "b"], "w": [5, 2, 9]}))
    sk = cms_sketch(df, "k", weight_col="w")
    probes = spark.createDataFrame(_pd.DataFrame({"k": ["a", "b"]}))
    rows = {r["k"]: r["est"] for r in
            cms_estimate(sk, probes, "k").collect()}
    assert rows["a"] >= 7 and rows["b"] >= 9


def test_sketch_param_validation(spark):
    import pandas as _pd
    from geo_sim_processing_a_spark.operators.sketches import (
        cms_sketch, hll_merge)
    df = spark.createDataFrame(_pd.DataFrame({"k": ["a"]}))
    with pytest.raises(ValueError):
        cms_sketch(df, "k", depth=0)
    with pytest.raises(ValueError):
        hll_merge()


# ---------------------------------------------------------------------------
# Sliding-window chunking (text.chunk_documents)
# ---------------------------------------------------------------------------

def test_chunk_documents_overlap_and_coverage(spark):
    """Consecutive chunks share exactly `overlap` tokens; dropping
    each chunk's first `overlap` tokens (after chunk 0) reconstructs
    the document exactly; the tail token is always covered."""
    import pandas as _pd
    from geo_sim_processing_a_spark.operators.text import chunk_documents
    toks = [f"t{i}" for i in range(53)]
    df = spark.createDataFrame(_pd.DataFrame(
        {"doc_id": [1], "text": [" ".join(toks)]}))
    rows = (chunk_documents(df, 16, 4)
            .orderBy("chunk_id").collect())
    chunks = [r["chunk_text"].split(" ") for r in rows]
    assert all(r["n_chunks"] == len(rows) for r in rows)
    for a, b in zip(chunks, chunks[1:]):
        assert a[-4:] == b[:4]          # shared overlap
    rebuilt = chunks[0] + [t for c in chunks[1:] for t in c[4:]]
    assert rebuilt == toks
    assert chunks[-1][-1] == "t52"


def test_chunk_documents_edges(spark):
    """Short doc -> one chunk; empty text -> one empty chunk with 0
    tokens; parameter validation."""
    import pandas as _pd
    import pytest as _pytest
    from geo_sim_processing_a_spark.operators.text import chunk_documents
    df = spark.createDataFrame(_pd.DataFrame(
        {"doc_id": [1, 2], "text": ["a b c", "   "]}))
    rows = {r["doc_id"]: r for r in chunk_documents(df, 8, 2).collect()}
    assert rows[1]["n_chunks"] == 1 and rows[1]["chunk_text"] == "a b c"
    assert rows[1]["chunk_n_tokens"] == 3
    assert rows[2]["n_chunks"] == 1 and rows[2]["chunk_text"] == ""
    assert rows[2]["chunk_n_tokens"] == 0
    with _pytest.raises(ValueError):
        chunk_documents(df, 8, 8)
    with _pytest.raises(ValueError):
        chunk_documents(df, 0)


def test_chunk_documents_no_shuffle_plan(spark):
    """The chunk explode stays in the scan stage: no KEY shuffle in
    the plan before the output.  (Since r6 a round-robin
    parallelism-floor exchange may precede single-split scans — a
    no-op at scale; a hash/range Exchange would still fail here.)"""
    from geo_sim_processing_a_spark.operators.text import chunk_documents
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = chunk_documents(df, 32, 8)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (sampling.weighted_sample)
# ---------------------------------------------------------------------------

def _es_reference(rows, k):
    """Pure-Python Efraimidis-Spirakis twin on the same md5 uniforms:
    rows = [(id, content, w)] -> ids of the k largest quantized keys."""
    import hashlib
    import math
    keyed = []
    for rid, content, w in rows:
        if w is None or w <= 0:
            continue
        b = int(hashlib.md5(content.encode()).hexdigest()[:13], 16)
        u = (b + 1) / float(1 << 52)
        keyed.append((round(math.log(u) / w * 1e7), -rid))
    keyed.sort(reverse=True)
    return [-nid for _, nid in keyed[:k]]


def test_weighted_sample_matches_reference(spark):
    """Selection is EXACTLY the pure-Python E&S on the same content
    hashes (global and per-stratum)."""
    import pandas as _pd
    from geo_sim_processing_a_spark.operators.sampling import weighted_sample
    rows = [(i, f"content-{i * 7}", float(1 + (i * i) % 13))
            for i in range(200)]
    df = spark.createDataFrame(_pd.DataFrame(
        {"doc_id": [r[0] for r in rows],
         "text": [r[1] for r in rows],
         "w": [r[2] for r in rows],
         "g": [f"s{r[0] % 3}" for r in rows]}))
    got = [r["doc_id"] for r in
           weighted_sample(df, "w", 15, strata_cols=None).collect()]
    assert got == _es_reference(rows, 15)
    per = weighted_sample(df, "w", 5, strata_cols=["g"]).collect()
    for s in range(3):
        want = _es_reference([r for r in rows if r[0] % 3 == s], 5)
        got_s = [r["doc_id"] for r in sorted(
            (r for r in per if r["g"] == f"s{s}"),
            key=lambda r: r["ws_rank"])]
        assert got_s == want, (s, got_s, want)


def test_weighted_sample_repartition_invariant(spark):
    """Membership is content-addressed: identical selection at 1 and
    16 partitions."""
    from geo_sim_processing_a_spark.operators.sampling import weighted_sample
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = sorted(r["doc_id"] for r in
               weighted_sample(df, "n_chars", 20).collect())
    b = sorted(r["doc_id"] for r in
               weighted_sample(df.repartition(16), "n_chars", 20).collect())
    assert a == b


def test_weighted_sample_excludes_nonpositive(spark):
    import pandas as _pd
    import pytest as _pytest
    from geo_sim_processing_a_spark.operators.sampling import weighted_sample
    df = spark.createDataFrame(_pd.DataFrame(
        {"doc_id": [1, 2, 3], "text": ["a", "b", "c"],
         "w": [0.0, -1.0, 2.0]}))
    got = weighted_sample(df, "w", 10).collect()
    assert [r["doc_id"] for r in got] == [3]
    with _pytest.raises(ValueError):
        weighted_sample(df, "w", 0)
    with _pytest.raises(ValueError, match="reserves"):
        weighted_sample(df.withColumn("ws_rank", df.doc_id), "w", 1)


# ---------------------------------------------------------------------------
# JVM Morton encode / bbox cover / diamond SAT join (spark_joins)
# ---------------------------------------------------------------------------

def test_cell_encode_col_bit_twin(spark):
    """cell_encode_col is the bit-for-bit JVM twin of cells.encode,
    including the clamp at the world bounds."""
    import numpy as _np
    import pandas as _pd
    from pyspark.sql import functions as F
    from geo_sim_processing_a_spark.operators import cells as C
    from geo_sim_processing_a_spark.operators.spark_joins import (
        cell_encode_col)
    rng = _np.random.default_rng(7)
    lon = _np.concatenate([rng.uniform(-180, 180, 500),
                           [-180.0, 180.0, 179.999, -179.999, 0.0]])
    lat = _np.concatenate([rng.uniform(-90, 90, 500),
                           [-90.0, 90.0, 89.999, -89.999, 0.0]])
    df = spark.createDataFrame(_pd.DataFrame({"lon": lon, "lat": lat}))
    for res in (2, 6, 11):
        got = [r["c"] for r in
               df.select(cell_encode_col(F.col("lon"), F.col("lat"), res)
                         .alias("c")).collect()]
        want = C.encode(lon, lat, res).tolist()
        assert got == want, res


def test_grid_join_cover_matches_python(spark):
    """_grid_join's cover (_grid_cover: two sequence explodes into raw
    (ix, iy) cells) is exactly cells.cover_bbox, the Python reference,
    including the clamp at the world bounds."""
    import numpy as _np
    import pandas as _pd
    from pyspark.sql import functions as F

    from geo_sim_processing_a_spark.operators import cells as C
    from geo_sim_processing_a_spark.operators.spark_joins import _grid_cover
    res = 6
    rng = _np.random.default_rng(11)
    boxes = []
    for _ in range(50):
        x0, y0 = rng.uniform(-175, 170), rng.uniform(-85, 80)
        boxes.append((x0, y0, x0 + rng.uniform(0, 12), y0 + rng.uniform(0, 9)))
    boxes.append((-180.0, -90.0, -179.9, -89.9))   # clamp corner
    boxes.append((179.0, 89.0, 185.0, 95.0))       # clamp overflow
    df = spark.createDataFrame(_pd.DataFrame(
        [(i, *b) for i, b in enumerate(boxes)],
        columns=["id", "minx", "miny", "maxx", "maxy"]))
    box = [F.col(c) for c in ("minx", "miny", "maxx", "maxy")]
    got = {}
    for r in _grid_cover(df, box, "_g_", res, 1.0).collect():
        got.setdefault(r["id"], []).append(
            int(C.encode_ixiy(_np.array([r["ix"]]), _np.array([r["iy"]]),
                              res)[0]))
    for i, b in enumerate(boxes):
        assert sorted(got[i]) == sorted(C.cover_bbox(*b, res).tolist()), b


def _py_diamond_hit(a, b):
    """Pure-Python SAT twin: a/b = (cx, cy, w, h) ints."""
    dx, dy = b[0] - a[0], b[1] - a[1]
    for ux, uy in [(a[3], a[2]), (a[3], -a[2]), (b[3], b[2]), (b[3], -b[2])]:
        if abs(dx * ux + dy * uy) > (max(abs(a[2] * ux), abs(a[3] * uy))
                                     + max(abs(b[2] * ux), abs(b[3] * uy))):
            return False
    return True


def test_diamond_join_matches_bruteforce(spark):
    """diamond_join == brute-force SAT over random integer diamonds,
    including exact-touch pairs (closed semantics), one-unit-apart
    misses, and bbox-overlap-but-diamond-miss corner pairs (the refine
    must reject what range_join would keep)."""
    import pandas as _pd
    from geo_sim_processing_a_spark.operators.spark_joins import diamond_join
    rng = __import__("numpy").random.default_rng(3)
    A = [(int(rng.integers(-8000, 8000)), int(rng.integers(-8000, 8000)),
          int(rng.integers(200, 1500)), int(rng.integers(200, 1500)))
         for _ in range(40)]
    B = [(int(rng.integers(-8000, 8000)), int(rng.integers(-8000, 8000)),
          int(rng.integers(200, 1500)), int(rng.integers(200, 1500)))
         for _ in range(40)]
    # hand-built: exact touch at a vertex; 1-unit miss; bbox-overlap
    # corner case where diamonds miss
    A += [(0, 0, 1000, 1000), (0, 0, 1000, 1000), (0, 0, 1000, 1000)]
    B += [(2000, 0, 1000, 500), (2001, 0, 1000, 500), (1900, 1900, 1000, 1000)]
    la = spark.createDataFrame(_pd.DataFrame(
        [(i, *a) for i, a in enumerate(A)],
        columns=["a_id", "acx", "acy", "aw", "ah"]))
    rb = spark.createDataFrame(_pd.DataFrame(
        [(j, *b) for j, b in enumerate(B)],
        columns=["b_id", "bcx", "bcy", "bw", "bh"]))
    got = sorted((r["a_id"], r["b_id"]) for r in
                 diamond_join(la, rb, res=6).collect())
    want = sorted((i, j) for i, a in enumerate(A)
                  for j, b in enumerate(B) if _py_diamond_hit(a, b))
    assert got == want
    # the three hand-built pairs resolved as intended
    assert (40, 40) in got          # vertex touch counts (closed)
    assert (41, 41) not in got      # one unit apart
    assert (42, 42) not in got      # bboxes overlap, diamonds miss
    assert _bbox_overlap(A[42], B[42])


def _bbox_overlap(a, b):
    return (a[0] - a[2] <= b[0] + b[2] and a[0] + a[2] >= b[0] - b[2]
            and a[1] - a[3] <= b[1] + b[3] and a[1] + a[3] >= b[1] - b[3])


@pytest.mark.parametrize("name", ["q_poly_join", "q_segment_join",
                                   "q_range_join", "q_cell_encode",
                                   "q_pip_join"])
def test_join_plan_fully_jvm(spark, name):
    """The whole plan contains NO Python stage (no BatchEvalPython /
    ArrowEvalPython / mapInPandas / pandas group kernels) — cell keys,
    cover, dedup and refine are all codegen Column arithmetic."""
    from geo_sim_processing_a_spark.plans.driver_queries import all_queries
    df = all_queries()[name](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas"):
        assert bad not in plan, plan


# ---------------------------------------------------------------------------
# Histogram quantile sketch (sketches.hist_sketch / hist_quantiles)
# ---------------------------------------------------------------------------

def test_hist_sketch_merge_and_bound(spark):
    """Merge==one-shot; every quantile estimate within one bin width
    of the exact percentile; out-of-range values clamp to edge bins;
    NULLs drop."""
    import numpy as _np
    import pandas as _pd
    from pyspark.sql import functions as _F

    from geo_sim_processing_a_spark.operators.sketches import (
        hist_merge, hist_quantiles, hist_sketch)
    rng = _np.random.default_rng(5)
    vals = _np.concatenate([rng.normal(50, 12, 4000),
                            [-999.0, 999.0]])        # clamp probes
    pdf = _pd.DataFrame({"v": list(vals) + [None]})
    df = spark.createDataFrame(pdf, "v double")
    LO, HI, BINS = 0.0, 100.0, 256
    sk = hist_sketch(df, "v", lo=LO, hi=HI, bins=BINS)
    total = sk.agg(_F.sum("cnt")).first()[0]
    assert total == len(vals)                        # NULL dropped
    qs = [0.25, 0.5, 0.9]
    est = {r["q7"]: r["est7"] / 1e7 for r in
           hist_quantiles(sk, qs, lo=LO, hi=HI, bins=BINS).collect()}
    width = (HI - LO) / BINS
    inner = _np.sort(vals)
    for q in qs:
        exact = inner[max(int(_np.ceil(q * len(inner))), 1) - 1]
        assert abs(est[round(q * 1e7)] - exact) <= width + 1e-9, (q, est)
    s1 = hist_sketch(df.where(_F.col("v") < 50), "v",
                     lo=LO, hi=HI, bins=BINS)
    s2 = hist_sketch(df.where(~(_F.col("v") < 50)), "v",
                     lo=LO, hi=HI, bins=BINS)
    assert sorted(map(tuple, sk.collect())) == \
        sorted(map(tuple, hist_merge(s1, s2).collect()))


def test_hist_sketch_validation(spark):
    import pandas as _pd
    import pytest as _pytest
    from geo_sim_processing_a_spark.operators.sketches import (
        hist_quantiles, hist_sketch)
    df = spark.createDataFrame(_pd.DataFrame({"v": [1.0]}))
    with _pytest.raises(ValueError):
        hist_sketch(df, "v", bins=1)
    with _pytest.raises(ValueError):
        hist_sketch(df, "v", lo=5.0, hi=5.0)
    sk = hist_sketch(df, "v")
    with _pytest.raises(ValueError):
        hist_quantiles(sk, [])
    with _pytest.raises(ValueError):
        hist_quantiles(sk, [0.0])


# ---------------------------------------------------------------------------
# Inverted-index postings (search.build_postings)
# ---------------------------------------------------------------------------

def test_build_postings_matches_python_index(spark):
    """The postings table equals a naive pure-Python inverted index:
    ascending doc_ids, aligned tfs, concatenated ascending positions,
    df/total_tf consistent."""
    import pandas as _pd
    from geo_sim_processing_a_spark.operators.search import build_postings
    texts = {1: "b a b c a", 2: "a c c", 3: "b  b\tb", 4: ""}
    df = spark.createDataFrame(_pd.DataFrame(
        {"doc_id": list(texts), "text": list(texts.values())}))
    got = {r["term"]: r for r in build_postings(df).collect()}

    index = {}
    for did in sorted(texts):
        for pos, t in enumerate(texts[did].split()):
            index.setdefault(t, {}).setdefault(did, []).append(pos)
    assert set(got) == set(index)
    for t, docs in index.items():
        r = got[t]
        assert r["doc_ids"] == sorted(docs)
        assert r["tfs"] == [len(docs[d]) for d in sorted(docs)]
        assert r["positions"] == [p for d in sorted(docs) for p in docs[d]]
        assert r["df"] == len(docs)
        assert r["total_tf"] == sum(len(v) for v in docs.values())


def test_build_postings_df_pruning(spark):
    import pandas as _pd
    import pytest as _pytest
    from geo_sim_processing_a_spark.operators.search import build_postings
    df = spark.createDataFrame(_pd.DataFrame(
        {"doc_id": [1, 2, 3],
         "text": ["stop rare", "stop mid", "stop mid"]}))
    got = {r["term"] for r in
           build_postings(df, min_df=2, max_df=2).collect()}
    assert got == {"mid"}              # rare df=1 dropped, stop df=3 capped
    with _pytest.raises(ValueError):
        build_postings(df, min_df=0)
    with _pytest.raises(ValueError):
        build_postings(df, min_df=3, max_df=2)


# ---------------------------------------------------------------------------
# Segment intersection join (spark_joins.segment_join)
# ---------------------------------------------------------------------------

def _py_seg_hit(a, b):
    """Pure-Python CLRS twin: a/b = (x1, y1, x2, y2) ints."""
    def cross(ox, oy, ax, ay, bx, by):
        return (ax - ox) * (by - oy) - (ay - oy) * (bx - ox)

    def on(px, py, qx, qy, rx, ry):
        return (min(px, qx) <= rx <= max(px, qx)
                and min(py, qy) <= ry <= max(py, qy))
    d1 = cross(b[0], b[1], b[2], b[3], a[0], a[1])
    d2 = cross(b[0], b[1], b[2], b[3], a[2], a[3])
    d3 = cross(a[0], a[1], a[2], a[3], b[0], b[1])
    d4 = cross(a[0], a[1], a[2], a[3], b[2], b[3])
    if ((d1 > 0 > d2 or d1 < 0 < d2)
            and (d3 > 0 > d4 or d3 < 0 < d4)):
        return True
    return ((d1 == 0 and on(b[0], b[1], b[2], b[3], a[0], a[1]))
            or (d2 == 0 and on(b[0], b[1], b[2], b[3], a[2], a[3]))
            or (d3 == 0 and on(a[0], a[1], a[2], a[3], b[0], b[1]))
            or (d4 == 0 and on(a[0], a[1], a[2], a[3], b[2], b[3])))


def test_segment_join_matches_bruteforce(spark):
    """segment_join == brute-force CLRS over random integer segments
    plus hand-built degenerate cases: proper crossing, endpoint
    T-touch, collinear overlap, collinear disjoint, parallel miss,
    shared endpoint."""
    import numpy as _np
    import pandas as _pd
    from geo_sim_processing_a_spark.operators.spark_joins import segment_join
    rng = _np.random.default_rng(13)

    def seg():
        x, y = int(rng.integers(-8000, 8000)), int(rng.integers(-8000, 8000))
        return (x, y, x + int(rng.integers(-1500, 1500)),
                y + int(rng.integers(-1500, 1500)))

    A = [seg() for _ in range(60)]
    B = [seg() for _ in range(60)]
    A += [(0, 0, 1000, 0),      # proper crossing with B +0
          (0, 0, 1000, 0),      # T-touch: B endpoint on A interior
          (0, 0, 1000, 0),      # collinear overlap
          (0, 0, 1000, 0),      # collinear disjoint
          (0, 0, 1000, 0),      # parallel miss
          (0, 0, 1000, 0)]      # shared endpoint
    B += [(500, -500, 500, 500),
          (500, 0, 500, 800),
          (800, 0, 1800, 0),
          (1001, 0, 2000, 0),
          (0, 1, 1000, 1),
          (1000, 0, 1500, 900)]
    la = spark.createDataFrame(_pd.DataFrame(
        [(i, *a) for i, a in enumerate(A)],
        columns=["a_id", "ax1", "ay1", "ax2", "ay2"]))
    rb = spark.createDataFrame(_pd.DataFrame(
        [(j, *b) for j, b in enumerate(B)],
        columns=["b_id", "bx1", "by1", "bx2", "by2"]))
    got = sorted((r["a_id"], r["b_id"]) for r in
                 segment_join(la, rb, res=6).collect())
    want = sorted((i, j) for i, a in enumerate(A)
                  for j, b in enumerate(B) if _py_seg_hit(a, b))
    assert got == want
    hand = {(60 + k, 60 + k) for k in range(6)}
    assert hand & set(got) == {(60, 60), (61, 61), (62, 62), (65, 65)}


def test_pick_res_follows_extent():
    """pick_res targets O(100+) occupied cells across wildly different
    extents (VERDICT r5 #6) — a hardcoded res cannot do both ends."""
    from geo_sim_processing_a_spark.operators.spark_joins import pick_res
    import math

    def occupied(res, w, h):
        return (max(1, math.ceil(w / (360.0 / (1 << res))))
                * max(1, math.ceil(h / (180.0 / (1 << res)))))

    # global extent: coarse grid suffices
    r_globe = pick_res(-180, -90, 180, 90)
    assert occupied(r_globe, 360, 180) >= 256
    # the sf0.1 segment-join extent (+-10 degrees): needs res ~8
    r_mid = pick_res(-10.2, -10.2, 9.95, 9.945)
    assert r_mid > r_globe
    assert occupied(r_mid, 20.15, 20.145) >= 256
    # city-block extent: much finer still
    r_city = pick_res(13.30, 52.45, 13.50, 52.55)
    assert r_city > r_mid
    assert occupied(r_city, 0.2, 0.1) >= 256
    # coarser target -> coarser res; never exceeds max_res
    assert pick_res(-10, -10, 10, 10, target_cells=16) <= r_mid
    assert pick_res(0, 0, 1e-9, 1e-9) == 15


def test_segment_join_adaptive_res_output_identical(spark):
    """The extent-adaptive q_segment_join emits EXACTLY the pairs the
    round-5 hardcoded res=6 call produced (res only tunes candidate
    volume; bbox covers + the reference-point rule are res-exact)."""
    from geo_sim_processing_a_spark.operators.spark_joins import segment_join
    from geo_sim_processing_a_spark.plans.driver_queries import (
        _segments_from_customer, _segments_from_supplier, all_queries)
    sf = "/root/testdata/sf0.001"
    a = _segments_from_customer(spark, sf)
    b = _segments_from_supplier(spark, sf)
    old = sorted(map(tuple, segment_join(a, b, res=6).collect()))
    new = sorted(map(tuple, all_queries()["q_segment_join"](spark, sf)
                     .collect()))
    assert new == old and len(new) > 0


# ---------------------------------------------------------------------------
# Hierarchical HLL pyramid (sketches.cell_hll_pyramid)
# ---------------------------------------------------------------------------

def test_cell_hll_pyramid_rollup_equals_rebuild(spark):
    """Level-k registers built by max-merging level-(k-1) registers
    are bit-identical to sketching the raw data directly at the parent
    cell — the algebra that lets zoom levels avoid rescans."""
    import numpy as _np
    import pandas as _pd
    from pyspark.sql import functions as _F

    from geo_sim_processing_a_spark.operators import cells as C
    from geo_sim_processing_a_spark.operators.sketches import (
        cell_hll_pyramid, hll_estimate, hll_sketch)
    from geo_sim_processing_a_spark.operators.spark_joins import (
        cell_parent_col)
    rng = _np.random.default_rng(17)
    lon = rng.uniform(-170, 170, 2000)
    lat = rng.uniform(-80, 80, 2000)
    res = 8
    pdf = _pd.DataFrame({
        "cell": C.encode(lon, lat, res),
        "k": [f"u{i % 301}" for i in range(2000)]})
    df = spark.createDataFrame(pdf)
    pyr = cell_hll_pyramid(df, "k", levels=1)
    lvl1 = {r["cell"]: (r["n_regs"], r["ind_sum"], r["est"])
            for r in pyr.where(_F.col("level") == 1).collect()}
    direct = df.select(cell_parent_col(_F.col("cell"), 1).alias("cell"), "k")
    want = {r["cell"]: (r["n_regs"], r["ind_sum"], r["est"])
            for r in hll_estimate(
                hll_sketch(direct, "k", ["cell"]), ["cell"]).collect()}
    assert lvl1 == want
    # level-0 estimates track the exact per-cell distincts
    ex = {r["cell"]: r["d"] for r in
          df.groupBy("cell").agg(
              _F.countDistinct("k").alias("d")).collect()}
    for r in pyr.where(_F.col("level") == 0).collect():
        t = ex[r["cell"]]
        assert abs(r["est"] - t) <= max(3, 0.25 * t), (r, t)


# ---------------------------------------------------------------------------
# Session-2 review fixes: NULL handling + dtype guards
# ---------------------------------------------------------------------------

def test_sketches_drop_null_keys(spark):
    """NULL keys drop from both sketches (Spark's concat_ws SKIPS
    NULLs while SQL || propagates them — letting NULLs through would
    hash them to a real CMS bucket here and to NULL in any oracle)."""
    import pandas as _pd
    from pyspark.sql import functions as _F

    from geo_sim_processing_a_spark.operators.sketches import (
        cms_estimate, cms_sketch, hll_estimate, hll_sketch)
    df = spark.createDataFrame(
        _pd.DataFrame({"k": ["a", None, "b", None]}), "k string")
    sk = hll_sketch(df, "k")
    (row,) = hll_estimate(sk).collect()
    assert row["n_regs"] == 2
    cs = cms_sketch(df, "k")
    assert cs.agg(_F.sum("cnt")).first()[0] == 4 * 2  # depth=4, 2 keys
    probes = spark.createDataFrame(
        _pd.DataFrame({"k": ["a", None]}), "k string")
    got = {r["k"]: r["est"] for r in cms_estimate(cs, probes, "k").collect()}
    assert got == {"a": 1}


def test_chunk_documents_null_text(spark):
    """NULL text behaves exactly like empty text."""
    import pandas as _pd
    from geo_sim_processing_a_spark.operators.text import chunk_documents
    df = spark.createDataFrame(
        _pd.DataFrame({"doc_id": [1], "text": [None]}),
        "doc_id long, text string")
    (r,) = chunk_documents(df, 8, 2).collect()
    assert (r["n_chunks"], r["chunk_text"], r["chunk_n_tokens"]) == (1, "", 0)


def test_weighted_sample_null_content_dropped(spark):
    import pandas as _pd
    from geo_sim_processing_a_spark.operators.sampling import weighted_sample
    df = spark.createDataFrame(
        _pd.DataFrame({"doc_id": [1, 2], "text": [None, "x"],
                       "w": [5.0, 1.0]}),
        "doc_id long, text string, w double")
    assert [r["doc_id"] for r in weighted_sample(df, "w", 5).collect()] == [2]


def test_exact_joins_refuse_float_coords(spark):
    import pandas as _pd
    import pytest as _pytest
    from geo_sim_processing_a_spark.operators.spark_joins import (
        diamond_join, segment_join)
    d = spark.createDataFrame(_pd.DataFrame(
        {"a_id": [1], "acx": [0.5], "acy": [0.0],
         "aw": [1.0], "ah": [1.0]}))
    d_int = spark.createDataFrame(_pd.DataFrame(
        {"b_id": [1], "bcx": [0], "bcy": [0], "bw": [1], "bh": [1]}))
    with _pytest.raises(ValueError, match="integer coordinate"):
        diamond_join(d, d_int)
    s_f = spark.createDataFrame(_pd.DataFrame(
        {"a_id": [1], "ax1": [0.0], "ay1": [0.0],
         "ax2": [1.0], "ay2": [1.0]}))
    s_i = spark.createDataFrame(_pd.DataFrame(
        {"b_id": [1], "bx1": [0], "by1": [0], "bx2": [1], "by2": [1]}))
    with _pytest.raises(ValueError, match="integer coordinate"):
        segment_join(s_f, s_i)


# ---------------------------------------------------------------------------
# Phrase search (search.phrase_search)
# ---------------------------------------------------------------------------

def test_phrase_search_semantics(spark):
    """Counts exact consecutive occurrences, handles repeated-token
    phrases and overlapping matches, misses non-adjacent terms."""
    import pandas as _pd
    import pytest as _pytest
    from geo_sim_processing_a_spark.operators.search import phrase_search
    df = spark.createDataFrame(_pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": ["a b c a b",        # 'a b' twice
                 "a x b",            # non-adjacent -> miss
                 "b b b",            # 'b b' overlapping -> 2
                 "a b"]}))
    got = {r["doc_id"]: r["n_hits"] for r in
           phrase_search(df, ["a", "b"]).collect()}
    assert got == {1: 2, 4: 1}
    got2 = {r["doc_id"]: r["n_hits"] for r in
            phrase_search(df, ["b", "b"]).collect()}
    assert got2 == {3: 2}
    got3 = {r["doc_id"]: r["n_hits"] for r in
            phrase_search(df, ["a", "b", "c"]).collect()}
    assert got3 == {1: 1}
    single = {r["doc_id"]: r["n_hits"] for r in
              phrase_search(df, ["b"]).collect()}
    assert single == {1: 2, 2: 1, 3: 3, 4: 1}
    with _pytest.raises(ValueError):
        phrase_search(df, [])


# ---------------------------------------------------------------------------
# Cross-corpus MinHash LSH join (dedup.minhash_lsh_join)
# ---------------------------------------------------------------------------

def test_minhash_lsh_join_cross_corpus(spark):
    """Planted near-dups across two corpora are found with exact
    Jaccard; reversed (shingle-disjoint) rewrites and unrelated docs
    are not; output pairs always have left from the left corpus."""
    import pandas as _pd
    from geo_sim_processing_a_spark.operators.dedup import minhash_lsh_join
    base = ["alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lamda mu nu xi omicron pi rho sigma tau upsilon " * 2,
            "one two three four five six seven eight nine ten eleven "
            "twelve thirteen fourteen fifteen sixteen " * 2]
    left = spark.createDataFrame(_pd.DataFrame(
        {"doc_id": [1, 2], "text": base}))
    right = spark.createDataFrame(_pd.DataFrame({
        "doc_id": [11, 12, 13],
        "text": [base[0] + " tail token",                 # near-dup of 1
                 " ".join(reversed(base[1].split())),     # reversed -> miss
                 "totally different content here nothing shared at all "
                 "with the originals in any shingle"]}))
    got = {(r["left_id"], r["right_id"]): r["jaccard"]
           for r in minhash_lsh_join(left, right, threshold=0.6).collect()}
    assert set(got) == {(1, 11)}
    assert got[(1, 11)] >= 0.8
    import pytest as _pytest
    with _pytest.raises(ValueError):
        minhash_lsh_join(left, right, n_hashes=32, bands=5)


# ---------------------------------------------------------------------------
# Time-series gap fill (timeseries.gap_fill)
# ---------------------------------------------------------------------------

def test_gap_fill_semantics(spark):
    """Missing buckets appear with the previous value and gap=true;
    present buckets keep their own values; the spine spans exactly
    [min, max]; duplicate bucket rows raise."""
    import pandas as _pd
    import pytest as _pytest
    from geo_sim_processing_a_spark.operators.timeseries import gap_fill
    df = spark.createDataFrame(_pd.DataFrame(
        {"s": ["a", "a", "a", "b"],
         "t": [0, 20, 50, 100],
         "v": [1.5, 2.5, 9.0, 7.0]}))
    rows = gap_fill(df, "t", ["s"], ["v"], 10).orderBy("s", "t").collect()
    a = [(r["t"], r["v"], r["gap"]) for r in rows if r["s"] == "a"]
    assert a == [(0, 1.5, False), (10, 1.5, True), (20, 2.5, False),
                 (30, 2.5, True), (40, 2.5, True), (50, 9.0, False)]
    b = [(r["t"], r["v"], r["gap"]) for r in rows if r["s"] == "b"]
    assert b == [(100, 7.0, False)]
    dup = spark.createDataFrame(_pd.DataFrame(
        {"s": ["a", "a"], "t": [0, 0], "v": [1.0, 2.0]}))
    with _pytest.raises(Exception, match="duplicate"):
        gap_fill(dup, "t", ["s"], ["v"], 10).collect()
    with _pytest.raises(ValueError):
        gap_fill(df, "t", ["s"], ["v"], 0)
    with _pytest.raises(ValueError):
        gap_fill(df, "t", [], ["v"], 10)


def test_json_extract_malformed_rows_null_not_dropped(spark):
    """Malformed JSON yields NULL k (counted in n, absent from
    n_parsed) — never a dropped row or an exception."""
    import pandas as _pd
    from geo_sim_processing_a_spark.plans.driver_queries import (
        q_json_extract)
    import pyspark.sql.functions as _F
    df = spark.createDataFrame(_pd.DataFrame(
        {"event_type": ["x"] * 4,
         "props": ['{"k": 3}', "not json", None, '{"other": 1}']}))
    k = _F.from_json(_F.col("props"), "k BIGINT")["k"]
    out = (df.select("event_type", k.alias("k"))
           .groupBy("event_type")
           .agg(_F.count(_F.lit(1)).alias("n"),
                _F.count("k").alias("n_parsed"),
                _F.sum("k").alias("sum_k")).collect())
    (r,) = out
    assert (r["n"], r["n_parsed"], r["sum_k"]) == (4, 1, 3)


def test_embedding_dim_stats_matches_numpy_and_partitioning(spark):
    """Integer accumulators equal a NumPy reference on the same
    quantized values, and are identical at 1 vs 16 partitions (the
    associativity claim)."""
    import numpy as _np
    from geo_sim_processing_a_spark.operators.similarity import (
        embedding_dim_stats)
    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = {(r["label"], r["dim"]): (r["n"], r["sum7"], r["sumsq"],
                                    r["mean7"], r["var14"])
           for r in embedding_dim_stats(df, "embedding", ["label"]).collect()}
    pdf = df.toPandas()
    for label in sorted(pdf.label.unique()):
        mat = _np.array([_np.asarray(v, dtype=_np.float64)
                         for v in pdf[pdf.label == label].embedding])
        q = _np.round(mat * 1e7).astype(_np.int64)
        for dim in (0, 17, 63):
            col = q[:, dim]
            n, s7, ssq = len(col), int(col.sum()), int((col * col).sum())
            assert got[(label, dim)][:3] == (n, s7, ssq)
            assert got[(label, dim)][3] == round(s7 / n)
    a = sorted(got.items())
    got16 = {(r["label"], r["dim"]): (r["n"], r["sum7"], r["sumsq"],
                                      r["mean7"], r["var14"])
             for r in embedding_dim_stats(
                 df.repartition(16), "embedding", ["label"]).collect()}
    assert a == sorted(got16.items())


def test_cms_join_size_upper_bound_and_accuracy(spark):
    """The inner-product estimate upper-bounds the exact join size
    and is close when keys fit the width."""
    import pandas as _pd
    from geo_sim_processing_a_spark.operators.sketches import (
        cms_join_size, cms_sketch)
    a = spark.createDataFrame(_pd.DataFrame(
        {"k": [f"k{i % 50}" for i in range(500)]}))
    b = spark.createDataFrame(_pd.DataFrame(
        {"k": [f"k{i % 80}" for i in range(400)]}))
    exact = a.join(b, "k").count()
    (row,) = cms_join_size(cms_sketch(a, "k"), cms_sketch(b, "k")).collect()
    assert row["est"] >= exact
    assert row["est"] <= exact * 1.05 + 100
    assert len(row["rows"]) == 4 and all(r >= exact for r in row["rows"])


# ---------------------------------------------------------------------------
# Distributed convex hull (spark_joins.convex_hull)
# ---------------------------------------------------------------------------

def _py_extreme(pts):
    """Brute-force extreme points: p is non-extreme iff covered by a
    triangle of others (degenerate all-zero case requires bbox
    containment — p on the same line but outside the segment is NOT
    covered)."""
    import itertools
    pts = sorted(set(pts))
    out = []
    for p in pts:
        others = [q for q in pts if q != p]
        cov = False
        for a, b, c in itertools.combinations(others, 3):
            d1 = (b[0]-a[0])*(p[1]-a[1]) - (b[1]-a[1])*(p[0]-a[0])
            d2 = (c[0]-b[0])*(p[1]-b[1]) - (c[1]-b[1])*(p[0]-b[0])
            d3 = (a[0]-c[0])*(p[1]-c[1]) - (a[1]-c[1])*(p[0]-c[0])
            same = ((d1 >= 0 and d2 >= 0 and d3 >= 0)
                    or (d1 <= 0 and d2 <= 0 and d3 <= 0))
            if not same:
                continue
            if d1 == 0 and d2 == 0 and d3 == 0:
                xs = [a[0], b[0], c[0]]
                ys = [a[1], b[1], c[1]]
                if not (min(xs) <= p[0] <= max(xs)
                        and min(ys) <= p[1] <= max(ys)):
                    continue
            cov = True
            break
        if not cov:
            out.append(p)
    return out


def test_convex_hull_matches_bruteforce_and_partitioning(spark):
    """Extreme points equal the brute-force definition on random +
    collinear + duplicate points, identically at 2 and 16 partitions
    (hull-of-hulls associativity); float coords refused."""
    import numpy as _np
    import pandas as _pd
    import pytest as _pytest
    from geo_sim_processing_a_spark.operators.spark_joins import convex_hull
    rng = _np.random.default_rng(23)
    pts = [(int(rng.integers(-100, 100)), int(rng.integers(-100, 100)))
           for _ in range(60)]
    pts += [(x, 0) for x in range(-150, 160, 30)]   # collinear run
    pts += pts[:5]                                   # duplicates
    pdf = _pd.DataFrame(pts, columns=["x", "y"])
    want = _py_extreme(pts)
    for parts in (2, 16):
        df = spark.createDataFrame(pdf).repartition(parts)
        got = sorted((r["x"], r["y"]) for r in convex_hull(df).collect())
        assert got == want, parts
    gdf = spark.createDataFrame(pdf.assign(g=["a" if x < 0 else "b"
                                              for x, _ in pts]))
    per = convex_hull(gdf, ["g"]).collect()
    for g in ("a", "b"):
        want_g = _py_extreme([p for p in pts
                              if (p[0] < 0) == (g == "a")])
        got_g = sorted((r["x"], r["y"]) for r in per if r["g"] == g)
        assert got_g == want_g, g
    with _pytest.raises(ValueError, match="integer"):
        convex_hull(spark.createDataFrame(
            _pd.DataFrame({"x": [0.5], "y": [1.0]})))
