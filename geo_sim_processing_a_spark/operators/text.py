"""Text-analysis operators for training-data pipelines (task brief):
language ID (stopword-vote heuristic), quality scoring, token counting,
document fingerprinting.  Every operator is a plain Spark-SQL column
expression (JVM-side, whole-stage codegen — UDF-free) and each has an
ANSI-SQL twin in __spark_entry__.oracle_sql for the DuckDB check."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .policy import floor, share

# tiny per-language stopword marker sets (heuristic language ID)
LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "fr": ["le", "la", "et"],
    "de": ["der", "und", "die"],
    "es": ["el", "los", "que"],
    "pt": ["de", "para", "uma"],
}


# Explicit whitespace class used wherever an oracle twin exists: Java
# \s includes \x0B, RE2 (DuckDB) \s does not — cross-engine fuzzing
# (round 5) showed \s-based rules diverge on pathological inputs.
WS_CLASS = r"[ \t\n\x0b\f\r]"


def _marker_hits(col: Column, words: list) -> Column:
    """Count of marker-word occurrences (space-delimited match).

    INTEGER-exact per word: each replacement of ``" w "`` with ``" "``
    removes exactly len(w)+2-1 characters, so dividing the length delta
    by that gives a whole number — summing per-word integers keeps the
    Spark expression and the DuckDB oracle bit-identical.  (The old
    formula divided by len(hay), yielding fractional per-word scores
    that the two engines floored at DIFFERENT points: Spark truncated
    the SUM, the oracle floored each word — 'the cat and dog' scored
    en=1 in Spark but en=0 in DuckDB.)"""
    padded = F.concat(F.lit(" "), F.lower(col), F.lit(" "))
    expr = F.lit(0)
    for w in words:
        hay = F.concat(F.lit(" "), F.lit(w), F.lit(" "))
        removed_per_hit = len(w) + 2 - 1
        expr = expr + ((F.length(padded) - F.length(F.replace(padded, hay, F.lit(" "))))
                       / F.lit(removed_per_hit)).cast("int")
    return expr


def lang_id(col: Column) -> Column:
    """Argmax of marker hits; 'und' when nothing matched. Deterministic
    tie-break by language-key order."""
    best = F.lit("und")
    best_score = F.lit(0)
    for lang in sorted(LANG_MARKERS):
        score = _marker_hits(col, LANG_MARKERS[lang])
        cond = score > best_score
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_score = F.when(cond, score).otherwise(best_score)
    return best


def token_count(col: Column) -> Column:
    """Whitespace token count (size of split on whitespace runs)."""
    return F.size(F.split(F.trim(col), WS_CLASS + "+"))


def punct_ratio(col: Column) -> Column:
    stripped = F.regexp_replace(col, r"[\w \t\n\x0b\f\r]", "")
    return F.length(stripped) / F.greatest(F.length(col), F.lit(1))


def mean_word_len(col: Column) -> Column:
    no_space = F.regexp_replace(col, WS_CLASS, "")
    return F.length(no_space) / F.greatest(token_count(col), F.lit(1))


def quality_score(col: Column) -> Column:
    """[0,1] quality heuristic: length band + punctuation + word-length
    sanity.  Same arithmetic is written in the SQL oracle."""
    n = F.length(col)
    len_score = F.least(n / F.lit(500.0), F.lit(1.0))
    punct_pen = F.least(punct_ratio(col) * 4.0, F.lit(1.0))
    wl = mean_word_len(col)
    wl_score = F.when((wl >= 3.0) & (wl <= 10.0), F.lit(1.0)).otherwise(F.lit(0.5))
    return F.round(len_score * 0.5 + (1.0 - punct_pen) * 0.25 + wl_score * 0.25, 6)


def bpe_token_count(col: Column) -> Column:
    """BPE-ish regex token count (task brief): letter runs, digit runs
    and single punctuation marks are each one token — the classic
    pre-tokenization split every BPE vocabulary starts from.  The same
    pattern runs in the DuckDB oracle (regexp_extract_all)."""
    return F.regexp_count(col, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0b\f\r]"))


BPE_TOKEN_PATTERN_SQL = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0b\f\r]"


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercased
    text (stable across layout changes; md5 exists in both engines)."""
    return F.md5(F.lower(F.trim(F.regexp_replace(col, WS_CLASS + "+", " "))))


WINNOW_MOD = (1 << 61) - 1
WINNOW_BASE = 257


def winnow_fingerprints_py(text: str, k: int = 8, w: int = 16) -> list:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the classic rolling-hash fingerprint the task brief
    names): Karp-Rabin hashes of all k-char-grams, then per sliding
    window of w hashes keep the RIGHTMOST minimum; distinct selected
    hashes, sorted.  Guarantees any match of length >= w+k-1 shares a
    fingerprint.  Vectorized NumPy (Horner across k steps, sliding
    window minimum via stride tricks)."""
    import numpy as np

    s = (text or "").lower()
    c = np.frombuffer(s.encode("utf-8", errors="replace"), dtype=np.uint8)
    n = len(c)
    if n < k:
        c = np.pad(c, (0, k - n))
        n = k
    m = n - k + 1
    h = np.zeros(m, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for j in range(k):  # Horner: h = h*B + c[j..j+m)
            h = (h * np.uint64(WINNOW_BASE) + c[j:j + m]) % np.uint64(WINNOW_MOD)
    if m <= w:
        return sorted({int(h.min())})
    from numpy.lib.stride_tricks import sliding_window_view
    win = sliding_window_view(h, w)
    # rightmost minimum per window: argmin on the reversed window
    rev_arg = np.argmin(win[:, ::-1], axis=1)
    pos = np.arange(len(win)) + (w - 1 - rev_arg)
    return sorted({int(v) for v in h[np.unique(pos)]})


def winnow_fingerprints(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 8,
                        w: int = 16) -> DataFrame:
    """(doc_id, fps array<long>) — winnowing fingerprints per doc in
    one Arrow batch kernel.  Near-dup candidates are then an equi-join
    on exploded fingerprints (same banded shape as MinHash-LSH)."""
    from pyspark.sql import types as T

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def fp_udf(texts: pd.Series) -> pd.Series:
        return pd.Series([winnow_fingerprints_py(t, k, w) for t in texts])

    return docs.select(F.col(id_col).alias("doc_id"),
                       fp_udf(F.col(text_col)).alias("fps"))


def winnow_near_dup_pairs(docs: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text", k: int = 8, w: int = 16,
                          min_shared: int = 3,
                          hot_key_cap: int | None = None) -> DataFrame:
    """Near-dup pairs by shared winnowing fingerprints: explode ->
    equi-join on the fingerprint value (candidates only, never
    all-pairs) -> count shared fingerprints per pair.  Capping is
    OPT-IN (default None keeps the exact n_shared counts); with
    ``hot_key_cap`` set, fingerprints shared by more docs (boilerplate)
    are dropped with a report (operators/skew.py) — the self-join is
    quadratic per fingerprint; a dropped pair loses at most
    ``hot_key_cap``-hot fingerprints from its n_shared count."""
    from .skew import frequency_cap

    fps = share(winnow_fingerprints(floor(docs), id_col, text_col, k, w))
    ex = fps.select("doc_id", F.explode("fps").alias("fp"))
    if hot_key_cap is not None:
        ex = frequency_cap(ex, ["fp"], hot_key_cap, "winnowing")
    return (ex.alias("l").join(ex.alias("r"), "fp")
            .where(F.col("l.doc_id") < F.col("r.doc_id"))
            .groupBy(F.col("l.doc_id").alias("id_a"),
                     F.col("r.doc_id").alias("id_b"))
            .agg(F.count("*").alias("n_shared"))
            .where(F.col("n_shared") >= min_shared))


def with_text_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    c = F.col(text_col)
    return (docs
            .withColumn("lang_pred", lang_id(c))
            .withColumn("n_tokens", token_count(c))
            .withColumn("quality", quality_score(c))
            .withColumn("fp", fingerprint(c)))


def word_ngrams(col: Column, n: int, sep: str = " ") -> Column:
    """Array of space-joined word n-grams, fully JVM-side
    (split -> transform(sequence) -> slice -> concat_ws; no UDF, stays
    inside whole-stage codegen).  Tokenization is a literal split on
    ``sep`` so the DuckDB ``string_split`` twin is byte-identical.
    Docs with fewer than ``n`` tokens yield an empty array."""
    import re as _re
    # F.split takes a Java REGEX — escape so sep is LITERAL (a sep of
    # '.' or '|' would otherwise split on every position and silently
    # break the promised DuckDB string_split byte-identity)
    toks = F.split(col, _re.escape(sep))
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    # short docs: F.sequence(1, k) with k < 1 would DESCEND; guard with
    # a lazily-evaluated branch (CASE WHEN short-circuits per row)
    return F.when(F.size(toks) >= n, grams).otherwise(F.slice(toks, 1, 0))


def ngram_topk(docs: DataFrame, n: int = 3, k: int = 50,
               text_col: str = "text") -> DataFrame:
    """Corpus-level top-k word n-grams with counts (vocab building,
    benchmark-contamination checks, boilerplate discovery).

    Scale shape: explode is pipelined inside the scan stage, the only
    shuffle is ONE partial+final hash-agg on the gram, and the top-k is
    TakeOrdered (per-partition partial top-k, never a full sort).
    Deterministic tie-break: count desc, gram asc."""
    g = (floor(docs)
         .select(F.explode(word_ngrams(F.col(text_col), n)).alias("gram")))
    return (g.groupBy("gram").agg(F.count("*").alias("n"))
            .orderBy(F.desc("n"), F.asc("gram")).limit(k))


def ngram_contamination(docs: DataFrame, probes: DataFrame, n: int = 5,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Benchmark-contamination screen: per document, how many of its
    word n-grams appear anywhere in the (small) ``probes`` table — the
    standard n-gram-collision test for benchmark leakage into training
    corpora.

    Scale shape: the probe gram set is tiny and BROADCAST, so the
    corpus-side explode joins map-side with no shuffle; the only
    exchange is the per-doc hash-agg.  Documents with fewer than ``n``
    tokens produce no grams and are absent from the output (they cannot
    be contaminated)."""
    probe_grams = (probes
                   .select(F.explode(word_ngrams(F.col(text_col), n))
                           .alias("gram"))
                   .distinct()
                   .withColumn("_hit", F.lit(1)))
    doc_grams = (floor(docs)
                 .select(F.col(id_col).alias("doc_id"),
                         F.explode(word_ngrams(F.col(text_col), n))
                         .alias("gram")))
    return (doc_grams
            .join(F.broadcast(probe_grams), "gram", "left")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_grams"),
                 F.coalesce(F.sum("_hit"), F.lit(0)).alias("n_hits"))
            .withColumn("frac",
                        F.round(F.col("n_hits") / F.col("n_grams"), 6)))


def jaccard_contamination(docs: DataFrame, probes: DataFrame,
                          n: int = 5, threshold: float = 0.1,
                          id_col: str = "doc_id",
                          probe_id_col: str = "probe_id",
                          text_col: str = "text") -> DataFrame:
    """Per-(document, probe) n-gram Jaccard — the fuzzy cross-corpus
    decontamination step (GPT-3 appendix C / PaLM-style): where
    ngram_contamination scores hits against the UNION of all probe
    grams, this resolves WHICH benchmark document overlaps and by how
    much, so a pipeline can drop or audit per-pair.

    Exact by construction: J = |A ∩ B| / (|A| + |B| - |A ∩ B|) over
    distinct-gram sets.  For a SMALL probe corpus (benchmarks are),
    broadcast-exact beats MinHash: the probe gram table broadcasts, the
    corpus side never shuffles gram strings, and the only exchange is
    the per-(doc, probe) hash-agg — no LSH recall risk, no UDF,
    SQL-twin verifiable (q_fuzzy_contamination).  The MinHash banded
    path (dedup.minhash_near_dup_pairs) remains the tool when BOTH
    sides are web-scale.

    Returns (doc_id, probe_id, n_doc, n_probe, n_inter, jaccard) with
    jaccard >= threshold; probes contained in ``docs`` surface as
    jaccard-1.0 self-pairs (a benchmark row inside the training corpus
    is precisely what decontamination must find)."""
    pg = (probes.select(F.col(probe_id_col).alias("probe_id"),
                        F.explode(word_ngrams(F.col(text_col), n))
                        .alias("gram"))
          .distinct())
    pg_n = pg.groupBy("probe_id").agg(F.count(F.lit(1)).alias("n_probe"))
    # dg's top is the distinct Exchange, so the per-doc size agg and
    # the intersection join share it via in-plan ReusedExchange — no
    # cut needed
    dg = (floor(docs)
          .select(F.col(id_col).alias("doc_id"),
                  F.explode(word_ngrams(F.col(text_col), n))
                  .alias("gram"))
          .distinct())
    dg_n = dg.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_doc"))
    inter = (dg.join(F.broadcast(pg), "gram")
             .groupBy("doc_id", "probe_id")
             .agg(F.count(F.lit(1)).alias("n_inter")))
    return (inter
            .join(dg_n, "doc_id")
            .join(F.broadcast(pg_n), "probe_id")
            .withColumn("jaccard",
                        F.round(F.col("n_inter")
                                / (F.col("n_doc") + F.col("n_probe")
                                   - F.col("n_inter")), 6))
            .where(F.col("jaccard") >= threshold)
            .select("doc_id", "probe_id", "n_doc", "n_probe",
                    "n_inter", "jaccard"))


def repetition_stats(docs: DataFrame, n: int = 3, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Per-doc repetition signal (Gopher-style quality rule): the share
    of the document's n-grams taken by its single most frequent n-gram.
    Degenerate/boilerplate text scores high; natural text low.

    Two-level hash-agg — (doc, gram) counts then per-doc max/sum — both
    partial-aggregated map-side; no UDF anywhere."""
    # JVM-only: re-flooring a small (curation survivor) frame only
    # multiplies task fan-out
    g = floor(docs, if_big=True).select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_ngrams(F.col(text_col), n)).alias("gram"))
    per_gram = g.groupBy("doc_id", "gram").agg(F.count("*").alias("c"))
    return (per_gram.groupBy("doc_id")
            .agg(F.sum("c").alias("n_grams"),
                 F.max("c").alias("top_gram_n"))
            .withColumn("top_share",
                        F.round(F.col("top_gram_n") / F.col("n_grams"), 6)))


# ---------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, appendix A1) — the standard
# document-level filter battery a web-corpus pipeline applies before
# training.  Every ratio threshold is evaluated with INTEGER
# cross-multiplication (e.g. "bullet lines <= 90%" as
# 10*n_bullet <= 9*n_lines), so the Spark columns and the DuckDB
# oracle can never diverge in a float ulp.  Pure JVM projection —
# higher-order array functions + regexp, zero UDF, zero shuffle.
# ---------------------------------------------------------------------------

GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def tfidf_keywords(docs: DataFrame, k: int = 3, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Top-``k`` TF-IDF keywords per document — the standard
    search-relevance / topic-signal scoring over a corpus.

    tf = in-doc term count; idf = ln(N / df) with df = number of
    distinct docs containing the term (no smoothing — a term in every
    doc scores exactly 0).  Scores are ROUNDED to 6 decimals BEFORE
    ranking so the (score DESC, term ASC) tie-break is engine-exact —
    ranking on raw doubles could flip on a ulp between Spark and the
    DuckDB oracle.

    Scale shape: tokenization explodes in the scan stage; (doc, term)
    counts and the document-frequency table are both partial-aggregated
    hash-aggs; the df join is a plain equi-join on term (AQE broadcasts
    it when the vocabulary is small); the final top-k is a bounded
    per-doc window.  N is the corpus row count — a parquet
    footer-speed metadata read when ``docs`` is a bare table scan
    (same bounded-driver-scalar idiom as the epsilon derivation)."""
    from pyspark.sql.window import Window

    n_docs = docs.count()
    toks = floor(docs).select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.trim(F.col(text_col)), WS_CLASS + "+"))
        .alias("term")).where(F.col("term") != "")
    # td's top is an Exchange: the df table and the scoring join share
    # it via in-plan ReusedExchange — no checkpoint needed
    td = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_tbl = td.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (td.join(df_tbl, "term")
              .withColumn("score",
                          F.round(F.col("tf")
                                  * F.log(F.lit(float(n_docs))
                                          / F.col("df")), 6)))
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (scored.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= k)
            .select("doc_id", "term", "tf", "df", "score", "rnk"))


def with_gopher_rules(docs: DataFrame, text_col: str = "text",
                      min_words: int = 50, max_words: int = 100_000) -> DataFrame:
    """Adds per-rule boolean columns g1..g7 + `gopher_pass`:

      g1  word count in [min_words, max_words]
      g2  mean word length in [3, 10]    (3*W <= chars <= 10*W)
      g3  symbol-to-word ratio <= 0.1    ('#' or '...'; 10*S <= W)
      g4  <= 90% of lines start with a bullet (10*B <= 9*L)
      g5  <= 30% of lines end with an ellipsis (10*E <= 3*L)
      g6  >= 80% of words contain an alphabetic char (10*A >= 8*W)
      g7  at least 2 distinct stopwords of GOPHER_STOPWORDS present

    NULL text is treated as empty (fails g1/g7 deterministically)."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    ws = WS_CLASS
    words = F.filter(F.split(t, ws + "+"), lambda x: x != "")
    n_words = F.size(words)
    word_chars = F.aggregate(words, F.lit(0).cast("long"),
                             lambda acc, x: acc + F.length(x))
    n_alpha = F.size(F.filter(words, lambda x: x.rlike("[A-Za-z]")))
    n_sym = F.regexp_count(t, F.lit(r"#|\.\.\."))
    lines = F.split(t, r"\n")
    n_lines = F.size(lines)
    n_bullet = F.size(F.filter(lines,
                               lambda x: x.rlike("^" + ws + r"*[•\-\*]")))
    n_ellip = F.size(F.filter(lines,
                              lambda x: x.rlike(r"(\.\.\.|…)" + ws + r"*\z")))
    low = F.lower(t)
    n_stop = sum((F.when(low.rlike(f"(^|{ws}){w}({ws}|\\z)"), 1).otherwise(0)
                  for w in GOPHER_STOPWORDS), F.lit(0))
    out = (docs
           .withColumn("n_words", n_words.cast("long"))
           .withColumn("n_lines", n_lines.cast("long"))
           .withColumn("g1", (n_words >= min_words) & (n_words <= max_words))
           .withColumn("g2", (word_chars >= 3 * n_words)
                       & (word_chars <= 10 * n_words) & (n_words > 0))
           .withColumn("g3", 10 * n_sym <= n_words)
           .withColumn("g4", 10 * n_bullet <= 9 * n_lines)
           .withColumn("g5", 10 * n_ellip <= 3 * n_lines)
           .withColumn("g6", 10 * n_alpha >= 8 * n_words)
           .withColumn("g7", n_stop >= 2))
    return out.withColumn(
        "gopher_pass",
        F.col("g1") & F.col("g2") & F.col("g3") & F.col("g4")
        & F.col("g5") & F.col("g6") & F.col("g7"))


def wrap_token_lines(text_col, tokens_per_line: int, line_suffix=None):
    """array<string>: ``text_col`` re-wrapped at ``tokens_per_line``
    space-tokens per line (integer ceil-div, exact in both engines; an
    empty/short text still yields one line).  ``line_suffix(i)`` may
    return a per-line-index suffix Column.  Shared by the boilerplate
    and C4 page synths so the wrap arithmetic (and its mirrored SQL,
    driver_queries._sql_wrap_lines) exists exactly once."""
    toks = F.split(text_col, " ")
    n_lines = F.greatest(
        F.floor((F.size(toks) + F.lit(tokens_per_line - 1)) /
                F.lit(tokens_per_line)).cast("int"), F.lit(1))

    def one(i):
        line = F.array_join(
            F.slice(toks, i * tokens_per_line + 1, tokens_per_line), " ")
        return F.concat(line, line_suffix(i)) if line_suffix else line

    return F.transform(F.sequence(F.lit(0), n_lines - 1), one)


def chunk_documents(docs: DataFrame, chunk_tokens: int, overlap: int = 0,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Sliding-window document chunking (the RAG / context-window prep
    stage): each document becomes ceil(max(n - overlap, 1) / stride)
    chunks of up to ``chunk_tokens`` whitespace tokens starting every
    ``stride = chunk_tokens - overlap`` tokens, so consecutive chunks
    share ``overlap`` tokens and the last (possibly short) chunk ends
    at the document's final token.  Returns (id_col, chunk_id,
    n_chunks, chunk_text, chunk_n_tokens); a token-less document
    yields one empty chunk (chunk_n_tokens 0).

    Scale notes (100 TB): the chunk array builds and explodes INSIDE
    the scan stage — zero shuffle, zero UDF; the row-count fan-out is
    bounded by n/stride per doc.  All arithmetic is integer, so the
    DuckDB twin (driver_queries._sql_chunk_docs) matches hash-exactly.
    """
    if chunk_tokens < 1:
        raise ValueError(f"chunk_tokens must be >= 1, got {chunk_tokens}")
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"overlap must be in [0, chunk_tokens), got {overlap}")
    stride = chunk_tokens - overlap
    # the scan-stage chunk build of a big corpus wants one task per core
    docs = floor(docs, if_big=True)
    # NULL text behaves like empty text (one empty chunk) instead of
    # emitting NULL rows whose greatest()/sort semantics differ by
    # engine
    toks = F.filter(F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))),
                            WS_CLASS + "+"),
                    lambda t: t != "")
    n = F.size(toks)
    n_chunks = F.greatest(
        F.floor(((n - F.lit(overlap)) + F.lit(stride - 1))
                / F.lit(stride)).cast("int"),
        F.lit(1))
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(
            F.slice(toks, i * stride + 1, chunk_tokens), " "))
    return (docs
            .select(F.col(id_col), n_chunks.alias("n_chunks"),
                    F.posexplode(chunks).alias("chunk_id", "chunk_text"))
            .select(id_col, "chunk_id", "n_chunks", "chunk_text",
                    F.when(F.col("chunk_text") == "", F.lit(0))
                    .otherwise(F.size(F.split(F.col("chunk_text"), " ")))
                    .cast("long").alias("chunk_n_tokens")))
