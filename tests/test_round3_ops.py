"""Round-3 operator evidence: Z/M ingest normalization (P2 true
parity, reference unittest case 32)."""

import numpy as np
import pandas as pd
import pytest

from geo_sim_processing_a_spark.plans.pipeline import (
    KERNEL_OUT_SCHEMA, _reduce_bend_kernel, normalize_geoms)

ZM_SCHEMA = ("cell long, salt int, url string, kind tinyint, "
             "xs array<double>, ys array<double>, ring_offsets array<int>, "
             "is_owner boolean, zs array<double>, ms array<double>")


def _zline(spark, xs, ys, url="z0"):
    pdf = pd.DataFrame({
        "cell": [1], "salt": [0], "url": [url], "kind": [1],
        "xs": [xs], "ys": [ys], "ring_offsets": [[0]], "is_owner": [True],
        "zs": [[0.0] * len(xs)], "ms": [[7.0] * len(xs)],
    })
    return spark.createDataFrame(pdf, ZM_SCHEMA)


def test_normalize_drops_z_and_m(spark):
    """Reference case 32 (reduce_bend_unittest.py:467): a Z-bearing
    LineString (0,0,0)-(10,10,0)-(20,20,0) normalizes to a plain 2-D
    LineString with the same XY coordinates."""
    df = _zline(spark, [0.0, 10.0, 20.0], [0.0, 10.0, 20.0])
    norm = normalize_geoms(df)
    assert "zs" not in norm.columns and "ms" not in norm.columns
    row = norm.first()
    assert list(row["xs"]) == [0.0, 10.0, 20.0]
    assert list(row["ys"]) == [0.0, 10.0, 20.0]


def test_z_bearing_input_reaches_reference_2d_golden(spark):
    """Z/M-bearing input flows through normalize + the distributed
    kernel and produces the reference's 2-D golden (the multi-bend
    line reduces to its endpoints)."""
    xs = [0.0, 30.0, 30.0, 31.0, 31.0, 40.0, 50.0, 50.0, 51.0, 60.0]
    ys = [10.0, 10.0, 11.0, 11.0, 10.0, 10.0, 10.0, 11.0, 10.0, 10.0]
    df = _zline(spark, xs, ys)
    norm = normalize_geoms(df)

    def kernel(batch):
        return _reduce_bend_kernel(batch, 3.0, False, epsilon=None)

    out = norm.groupBy("cell").applyInPandas(kernel, KERNEL_OUT_SCHEMA).collect()
    assert len(out) == 1
    r = out[0]
    assert list(zip(r["xs"], r["ys"])) == [(0.0, 10.0), (60.0, 10.0)]


def test_normalize_rejects_mismatched_arity(spark):
    pdf = pd.DataFrame({
        "cell": [1], "salt": [0], "url": ["bad"], "kind": [1],
        "xs": [[0.0, 1.0, 2.0]], "ys": [[0.0, 1.0, 2.0]],
        "ring_offsets": [[0]], "is_owner": [True],
        "zs": [[0.0, 1.0]], "ms": [None],
    })
    df = spark.createDataFrame(pdf, ZM_SCHEMA)
    with pytest.raises(Exception, match="arity"):
        normalize_geoms(df).collect()
    # null zs/ms are accepted (absent per-row)
    pdf2 = pdf.copy()
    pdf2["zs"] = [None]
    df2 = spark.createDataFrame(pdf2, ZM_SCHEMA)
    assert normalize_geoms(df2).count() == 1


def test_geocode_columns_match_numpy_kernel(spark):
    """The JVM-side geocode twin (used by the streaming path) must
    reproduce geocode_hashes exactly on signed 64-bit hashes."""
    from pyspark.sql import functions as F
    from geo_sim_processing_a_spark.sources.pages import (
        geocode_columns, geocode_hashes)

    h = np.array([0, 1, -1, 2**62, -(2**62), 123456789, -987654321,
                  7 * 360000, -(7 * 360000)], dtype=np.int64)
    exp_lon, exp_lat, _, _ = geocode_hashes(h)
    df = spark.createDataFrame(pd.DataFrame({"h": h}), "h long")
    lon, lat = geocode_columns(F.col("h"))
    got = df.select(lon.alias("lon"), lat.alias("lat")).toPandas()
    assert np.array_equal(got["lon"].to_numpy(), exp_lon)
    assert np.array_equal(got["lat"].to_numpy(), exp_lat)


def test_knn_query_salting_identical_output(spark):
    """Query-side salting only changes refine grouping: results must be
    identical to the unsalted run (and the kNN kernel must not build
    the per-cell cartesian join — it cogroups)."""
    from geo_sim_processing_a_spark.operators.spark_joins import knn_join

    pdf = pd.DataFrame({
        "pid": np.arange(200, dtype=np.int64),
        "lon": (np.arange(200) * 7919 % 2000) / 100.0 - 10,
        "lat": (np.arange(200) * 104729 % 2000) / 100.0 - 10,
    })
    pts = spark.createDataFrame(pdf, "pid long, lon double, lat double")
    base = sorted(map(tuple, knn_join(pts, k=3, res=2).collect()))
    salted = sorted(map(tuple, knn_join(pts, k=3, res=2, n_query_salts=8).collect()))
    assert base == salted and len(base) == 200 * 3


def test_pip_join_holed_polygon(spark):
    """pip_join with ring_offsets: points in the hole do not match,
    points in the solid ring do (even-odd refine AND hole-aware
    cover)."""
    from geo_sim_processing_a_spark.operators.spark_joins import pip_join

    # square [0,8]^2 with hole [3,5]^2
    xs = [0.0, 8.0, 8.0, 0.0, 0.0, 3.0, 3.0, 5.0, 5.0, 3.0]
    ys = [0.0, 0.0, 8.0, 8.0, 0.0, 3.0, 5.0, 5.0, 3.0, 3.0]
    polys = spark.createDataFrame(
        pd.DataFrame({"poly_id": [1], "xs": [xs], "ys": [ys],
                      "ring_offsets": [[0, 5]]}),
        "poly_id long, xs array<double>, ys array<double>, ring_offsets array<int>")
    pts = spark.createDataFrame(
        pd.DataFrame({"pid": [1, 2, 3],
                      "lon": [1.0, 4.0, 9.0],   # solid / hole / outside
                      "lat": [1.0, 4.0, 9.0]}),
        "pid long, lon double, lat double")
    got = {r["pid"] for r in pip_join(pts, polys, res=6).collect()}
    assert got == {1}, got


def test_connected_components_long_path(spark):
    """A 300-vertex path converges to one component well inside
    max_iter — pointer jumping makes rounds O(log n), not O(n)."""
    from geo_sim_processing_a_spark.operators.graph import connected_components

    n = 300
    edges = spark.createDataFrame(
        pd.DataFrame({"id_a": np.arange(1, n), "id_b": np.arange(0, n - 1)}),
        "id_a long, id_b long")
    got = {r["id"]: r["component"]
           for r in connected_components(edges, max_iter=20).collect()}
    assert len(got) == n
    assert set(got.values()) == {0}


def test_connected_components_multi_and_self_loops(spark):
    from geo_sim_processing_a_spark.operators.graph import connected_components

    pdf = pd.DataFrame({"id_a": [1, 2, 7, 7, 10],
                        "id_b": [2, 3, 8, 7, 10]})  # self-loops ignored
    edges = spark.createDataFrame(pdf, "id_a long, id_b long")
    got = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}
    # pure-self-loop vertices (10) have no real edge -> absent


def test_dedup_clusters_canonical_flags(spark):
    from geo_sim_processing_a_spark.operators.graph import dedup_clusters

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": np.arange(6, dtype=np.int64)}), "doc_id long")
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": [0, 1, 4], "id_b": [1, 2, 5]}),
        "id_a long, id_b long")
    rows = {r["doc_id"]: (r["cluster_id"], r["is_canonical"])
            for r in dedup_clusters(pairs, docs).collect()}
    assert rows == {0: (0, True), 1: (0, False), 2: (0, False),
                    3: (3, True),  # singleton: own cluster, canonical
                    4: (4, True), 5: (4, False)}


def test_lang_id_cross_engine_on_multi_marker_text(spark, tmp_path):
    """Adversarial lang-ID parity: texts where MULTIPLE markers of one
    language hit (the shipped tables only ever hit one, which masked a
    real divergence — Spark truncated the fractional SUM while the
    oracle floored per word)."""
    import duckdb
    from geo_sim_processing_a_spark.plans.driver_queries import (
        _sql_text_features, q_text_features)

    docs = pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": ["the cat and dog",                      # two en markers
                 "le chien et la porte et le chat",      # repeated fr markers
                 "der hund und die katze und der ort",   # repeated de markers
                 "nothing matching here xyz"],
        "lang": ["en", "fr", "de", "en"],
        "source": ["t"] * 4, "n_chars": [10] * 4,
    })
    sf = str(tmp_path)
    spark.createDataFrame(docs).write.parquet(f"{sf}/documents.parquet")
    got = {r["doc_id"]: r["lang_pred"]
           for r in q_text_features(spark, sf).collect()}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{sf}/documents.parquet/*.parquet'")
    exp = {row[0]: row[1] for row in con.sql(_sql_text_features()).fetchall()}
    assert got == exp, (got, exp)
    assert got[1] == "en" and got[2] == "fr" and got[3] == "de"
    assert got[4] == "und"


def test_footprint_hole_scalar_vs_vectorized_parity():
    """The hole ring exists twice (scalar footprint_hole API and the
    vectorized columns inside synthesize_geoms_pdf); pin them to each
    other so a change to one can't silently diverge the other."""
    from geo_sim_processing_a_spark.functions.hashing import xxhash64_long
    from geo_sim_processing_a_spark.sources.pages import (
        footprint_hole, geocode_hashes, synthesize_geoms_pdf)

    ids = np.arange(5000, dtype=np.int64)
    h = xxhash64_long(ids)
    urls = np.array([f"u{i}" for i in ids], dtype=object)
    pdf = synthesize_geoms_pdf(urls, h)
    holed = pdf[(pdf["kind"] == 2) & (pdf["ring_offsets"].map(len) == 2)]
    assert len(holed) > 0
    lon, lat, _, side = geocode_hashes(h)
    by_url = {u: i for i, u in enumerate(urls)}
    for _, r in holed.head(20).iterrows():
        i = by_url[r["url"]]
        exp = footprint_hole(lon[i], lat[i], side[i])
        off = r["ring_offsets"][1]
        got = np.column_stack([np.asarray(r["xs"])[off:],
                               np.asarray(r["ys"])[off:]])
        assert np.array_equal(got, exp), r["url"]


def test_knn_brute_matches_naive_reference():
    """Property check: the chunked argpartition knn_brute equals the
    naive full-lexsort formulation on tie-heavy lattice data, across
    the margin boundary (k+64) and the exclude_same_index path."""
    from geo_sim_processing_a_spark.operators.spatial_join import knn_brute

    def naive(qx, qy, px, py, pid, k, exclude_same_index=False):
        d2 = ((np.asarray(qx, float)[:, None] - np.asarray(px, float)[None, :]) ** 2
              + (np.asarray(qy, float)[:, None] - np.asarray(py, float)[None, :]) ** 2)
        if exclude_same_index:
            d2[np.arange(d2.shape[0]), np.arange(d2.shape[0])] = np.inf
        kk = min(k, d2.shape[1])
        order = np.lexsort((np.broadcast_to(pid, d2.shape), d2), axis=1)[:, :kk]
        rows = np.arange(d2.shape[0])[:, None]
        return order, d2[rows, order]

    rng = np.random.default_rng(11)
    for trial in range(4):
        n = 900
        # integer lattice -> mass-tied distances (the adversarial case)
        px = rng.integers(0, 18, n).astype(float)
        py = rng.integers(0, 18, n).astype(float)
        pid = rng.permutation(n).astype(np.int64)
        qx, qy = px[:200], py[:200]
        for k in (1, 5, 70, 950):  # margin < nc, margin == nc, k > nc
            o1, d1 = naive(qx, qy, px, py, pid, k)
            o2, d2_ = knn_brute(qx, qy, px, py, pid, k)
            assert np.array_equal(d1, d2_), (trial, k)
            assert np.array_equal(pid[o1], pid[o2]), (trial, k)
        o1, d1 = naive(px, py, px, py, pid, 4, True)
        o2, d2_ = knn_brute(px, py, px, py, pid, 4, True)
        assert np.array_equal(d1, d2_) and np.array_equal(pid[o1], pid[o2])


def test_normalize_passthrough_without_zm(spark):
    pdf = pd.DataFrame({
        "cell": [1], "salt": [0], "url": ["p"], "kind": [1],
        "xs": [[0.0, 1.0]], "ys": [[0.0, 1.0]],
        "ring_offsets": [[0]], "is_owner": [True],
    })
    df = spark.createDataFrame(
        pdf, "cell long, salt int, url string, kind tinyint, xs array<double>, "
             "ys array<double>, ring_offsets array<int>, is_owner boolean")
    norm = normalize_geoms(df)
    assert norm.schema == df.schema and norm.count() == 1
