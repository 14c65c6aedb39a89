"""Similarity search over an embedding column (task brief):
 - brute-force cosine top-k (the exactness baseline; JVM-side
   aggregate expressions, no Python in the hot path),
 - random-hyperplane LSH-bucketed variant (the 100 TB scale path:
   candidates via equi-join on bucket signature, exact re-rank inside
   buckets only).

Embeddings are array<float>; math is done in double for stable results
(and rounded in oracle-compared outputs)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from .policy import floor, share


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0),
                              lambda acc, v: acc + v.cast("double") * v.cast("double")))


def _cosine(a, b):
    """Zero-norm-GUARDED cosine (the JVM twin of the Python kernels'
    np.maximum(norm, 1e-12)): an all-zero vector scores 0.0.  Without
    the guard the expression yields NaN, which Spark SQL orders ABOVE
    every double — a zero vector would rank top-1 for every query and
    pass every >= threshold filter.  The DuckDB oracle applies the
    same greatest(..., 1e-12) guard."""
    return _dot(a, b) / F.greatest(_norm(a) * _norm(b), F.lit(1e-12))


def with_cosine(df: DataFrame, left: str, right: str, out: str = "cos") -> DataFrame:
    return df.withColumn(out, _cosine(F.col(left), F.col(right)))


def brute_topk(vectors: DataFrame, queries: DataFrame, k: int,
               id_col: str = "vec_id", vec_col: str = "embedding",
               qid_col: str = "qid", qvec_col: str = "qvec") -> DataFrame:
    """Exact cosine top-k of each query against all vectors.  The query
    side is broadcast (small); ranking is a window per query; ties by
    vec_id.  All JVM-side."""
    # a single-split vector scan would score every (vector, query) pair
    # on one task (r6: 47 s serial at sf1.0)
    joined = floor(vectors).crossJoin(F.broadcast(queries))
    scored = joined.withColumn(
        "cos", _cosine(F.col(vec_col), F.col(qvec_col)))
    w = Window.partitionBy(qid_col).orderBy(F.desc("cos"), F.col(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(F.col(qid_col).alias("qid"), F.col(id_col).alias("vec_id"),
                    F.round("cos", 6).alias("cos"), "rank"))


def _hyperplanes(dim: int, n_planes: int) -> np.ndarray:
    """Deterministic pseudo-random hyperplanes (splitmix64 -> uniform;
    functions/hashing.py holds the single mix definition)."""
    from ..functions.hashing import splitmix64_next_scalar

    out = np.empty((n_planes, dim), dtype=np.float64)
    x = 0x51A2B3C4D5E6F708
    for i in range(n_planes):
        for j in range(dim):
            x, z = splitmix64_next_scalar(x)
            out[i, j] = (z / 2**64) * 2.0 - 1.0
    return out


def lsh_bucket_udf(dim: int, n_planes: int = 12):
    planes = _hyperplanes(dim, n_planes)

    @F.pandas_udf("long")
    def bucket(vecs: pd.Series) -> pd.Series:
        m = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        signs = (m @ planes.T) > 0
        weights = (1 << np.arange(n_planes)).astype(np.int64)
        return pd.Series((signs @ weights).astype(np.int64))

    return bucket


def _kmeans_centroids(sample: np.ndarray, k: int, iters: int = 10) -> np.ndarray:
    """Deterministic k-means for the IVF coarse quantizer: first-k
    init on the (deterministically ordered) sample, fixed iteration
    count, empty clusters re-seeded from the farthest points.  Pure
    NumPy, runs driver-side on a bounded sample."""
    n = len(sample)
    k = min(k, n)
    cent = sample[:k].copy()
    # sample never changes: normalize ONCE outside the loop
    sn = sample / np.maximum(np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
    for _ in range(iters):
        cn = cent / np.maximum(np.linalg.norm(cent, axis=1, keepdims=True), 1e-12)
        assign = np.argmax(sn @ cn.T, axis=1)
        # re-seed empty clusters from DISTINCT farthest points: two
        # empties in one round each take their own rank in the farthest
        # order (a shared argmax would duplicate a centroid, leaving
        # one cluster permanently empty under lower-index-wins argmax)
        far_order = None
        n_reseeded = 0
        for c in range(k):
            members = sample[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
            else:
                if far_order is None:
                    d = 1.0 - (sn * cn[assign]).sum(axis=1)
                    far_order = np.argsort(-d)
                cent[c] = sample[int(far_order[min(n_reseeded, n - 1)])]
                n_reseeded += 1
    return cent


def ivf_build_assignments(vectors: DataFrame, dim: int, n_lists: int = 16,
                          id_col: str = "vec_id", vec_col: str = "embedding",
                          sample_n: int = 2048, iters: int = 10):
    """IVF coarse quantizer (the classic ANN scale path, complementing
    the hyperplane LSH): k-means centroids from a bounded
    deterministic sample (driver-side), broadcast into an Arrow batch
    kernel that assigns every vector to its nearest list by cosine.

    Returns (assigned DataFrame with ``list_id``, centroids ndarray).
    At 100 TB the assignment is one narrow map stage; the per-list
    inverted file is just a partition-by-list_id write.

    The training sample is HASH-ordered (first sample_n by
    xxhash64(id)) rather than first-N-by-id: equally deterministic, but
    unbiased when ids correlate with crawl segment / time (VERDICT r3
    #4).  TakeOrdered keeps only sample_n rows per partition, so this
    is ONE pass with no count() job and no full sort — works unchanged
    on filtered/derived inputs where a count() would be a full scan."""
    vectors = floor(vectors)  # single-split scans would run the
    # assignment kernel (and the re-rank feed) on one task
    sample = np.array(
        [r[0] for r in vectors
         .orderBy(F.xxhash64(F.col(id_col)), id_col).limit(sample_n)
         .select(vec_col).collect()], dtype=np.float64)
    cent = _kmeans_centroids(sample, n_lists, iters)
    cn = cent / np.maximum(np.linalg.norm(cent, axis=1, keepdims=True), 1e-12)

    @F.pandas_udf("int")
    def assign_udf(vecs: pd.Series) -> pd.Series:
        m = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        mn = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(mn @ cn.T, axis=1).astype(np.int32))

    return vectors.withColumn("list_id", assign_udf(F.col(vec_col))), cent


def ivf_topk(vectors: DataFrame, queries: DataFrame, k: int, dim: int,
             n_lists: int = 16, nprobe: int = 4,
             id_col: str = "vec_id", vec_col: str = "embedding",
             qid_col: str = "qid", qvec_col: str = "qvec",
             sample_n: int = 2048) -> DataFrame:
    """IVF approximate top-k: each query probes its ``nprobe`` nearest
    lists; exact cosine re-rank inside the probed lists only.  The
    probed-list join is an equi-join on list_id (shuffle on a tiny int
    key); only vectors in probed lists are scored — the brute-force
    crossJoin never happens."""
    assigned, cent = ivf_build_assignments(vectors, dim, n_lists, id_col,
                                           vec_col, sample_n=sample_n)
    cn = cent / np.maximum(np.linalg.norm(cent, axis=1, keepdims=True), 1e-12)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probes_udf(vecs: pd.Series) -> pd.Series:
        m = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        mn = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        sim = mn @ cn.T
        order = np.argsort(-sim, axis=1)[:, :nprobe]
        return pd.Series([row.astype(np.int32).tolist() for row in order])

    probed = (queries.withColumn("list_id", F.explode(probes_udf(F.col(qvec_col)))))
    joined = probed.join(assigned, "list_id")
    scored = joined.withColumn(
        "cos", _cosine(F.col(vec_col), F.col(qvec_col)))
    w = Window.partitionBy(qid_col).orderBy(F.desc("cos"), F.col(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(F.col(qid_col).alias("qid"), F.col(id_col).alias("vec_id"),
                    F.round("cos", 6).alias("cos"), "rank"))


def lsh_self_near_dup(vectors: DataFrame, dim: int, threshold: float = 0.95,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      n_planes: int = 10,
                      hot_key_cap: int | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: bucket by hyperplane sign
    signature, exact cosine within buckets (plus 1-bit-flip neighbor
    buckets for recall), threshold filter.  Returns (id_a, id_b, cos).

    Capping is OPT-IN (default None keeps the full candidate recall);
    with ``hot_key_cap`` set, buckets holding more vectors (a
    degenerate embedding cluster, e.g. all-zero rows) are dropped from
    the membership side WITH a report (operators/skew.py) — the bucket
    join is quadratic per bucket; members of a dropped bucket can
    still be recalled as ``id_a`` through their other probes."""
    from .skew import frequency_cap
    bucket = lsh_bucket_udf(dim, n_planes)
    # cut, or the bucket UDF re-runs for the guard's stats pass AND both
    # join sides; floor first, or a single split buckets serially
    b = share(floor(vectors).withColumn("bucket", bucket(F.col(vec_col))))
    # probe buckets: own + each 1-bit flip (multi-probe LSH)
    probes = F.array(F.col("bucket"),
                     *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)])
    left = b.select(F.col(id_col).alias("id_a"), F.explode(probes).alias("bucket"))
    right = b.select(F.col(id_col).alias("id_b"), "bucket")
    if hot_key_cap is not None:
        right = frequency_cap(right, ["bucket"], hot_key_cap, "embedding_lsh")
    # candidate ids ONLY through the probe join + distinct: the ×(n_planes+1)
    # probe replication and the dedup exchange carry two longs per row,
    # never the float vectors; vectors are joined back exactly once after
    cand = (left.join(right, "bucket")
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())
    # vector columns come from the CHECKPOINTED frame, not the source
    # plan — two extra full source scans otherwise
    va = b.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = b.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    scored = (cand.join(va, "id_a").join(vb, "id_b")
              .withColumn("cos", _cosine(F.col("va"), F.col("vb"))))
    return (scored.where(F.col("cos") >= threshold)
            .select("id_a", "id_b", F.round("cos", 6).alias("cos")))


def embedding_dim_stats(emb: DataFrame, vec_col: str = "embedding",
                        group_cols: list[str] | None = None,
                        quant: float = 1e7) -> DataFrame:
    """Per-dimension embedding statistics — the normalization
    constants (mean/variance per dim, optionally per group) a training
    pipeline computes before whitening or standardizing features:
    (group_cols..., dim, n, sum7, sumsq, mean7, var14).

    Engine-exactness (lm.py discipline): each float32 component widens
    exactly to double, quantizes to the integer x7 = round(x * quant),
    and ONLY integers are summed (sum7, sumsq) — so the hash-compared
    accumulators are associative and partition-order-free where a
    double sum is not.  mean7 (1e-7 units) and var14 (1e-14 units)
    derive from the integer accumulators with one identically
    parenthesized float expression each.

    Scale shape: posexplode pipelines in the scan; ONE hash-agg to
    (groups x dims) rows with map-side partials.  Overflow envelope:
    |x| <= 1 at quant 1e7 gives sumsq <= 1e14 per row — BIGINT holds
    ~9e18, so ~90k rows per (group, dim) at worst-case magnitude;
    beyond that cast the sums to DECIMAL(38,0) (documented, same
    shape)."""
    group_cols = list(group_cols or [])
    x7 = F.round(F.col("x").cast("double") * F.lit(float(quant))) \
        .cast("long")
    ex = (emb.select(*group_cols,
                     F.posexplode(F.col(vec_col)).alias("dim", "x"))
          .withColumn("x7", x7))
    agg = (ex.groupBy(*group_cols, "dim")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum("x7").alias("sum7"),
                F.sum(F.col("x7") * F.col("x7")).alias("sumsq")))
    nd = F.col("n").cast("double")
    s = F.col("sum7").cast("double")
    mean7 = F.round(s / nd).cast("long")
    var14 = F.round((F.col("sumsq").cast("double") - s * s / nd) / nd) \
        .cast("long")
    return (agg.withColumn("mean7", mean7).withColumn("var14", var14)
            .select(*group_cols, "dim", "n", "sum7", "sumsq",
                    "mean7", "var14"))
