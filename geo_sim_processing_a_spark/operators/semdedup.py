"""SemDeDup-style semantic deduplication (Abbas et al. 2023):
cluster the embedding space with k-means, then remove near-duplicates
ONLY within clusters — the pairwise cosine work collapses from
O(n²) to Σ|cluster|², which is the property that makes
embedding-level dedup feasible at corpus scale.

Everything here is EXACT-INTEGER so the distributed result is
reproducible bit-for-bit under any partitioning and verifiable against
an independent DuckDB formulation (q_semantic_dedup):

 - embedding components are quantized to integers (``scale``) before
   any arithmetic; all distances/dots are BIGINT sums, which are
   associative — no float-summation order dependence (the same
   discipline as operators/lm.py's quantized log-probs);
 - centroid update is the exact floor mean ``(s - pmod(s, n)) / n``
   (pure integer identity — double division of the exactly-divisible
   numerator is IEEE-exact, so Spark and DuckDB agree on every
   component);
 - the cosine threshold τ is applied as an integer cross-multiplication
   ``10000·dot² ≥ round(τ²·10⁴)·‖a‖²·‖b‖²`` (dot > 0), so no engine
   ever compares floats at the decision boundary.  With pair_scale
   1e3 on unit-norm vectors the quantized cosine sits within ~2e-3 of
   the true value — the boundary is exact ON THE GRID, and both
   engines share the grid.

Scale notes (100 TB): the centroid table is k rows and BROADCAST into
the assignment join (one narrow map stage per iteration); the update
is one (cluster, dim)-key hash-agg of n·dim skinny rows; the dedup
self-join shuffles on the int cluster key only — the classic SemDeDup
shape.  k should grow ∝ n (paper uses ~0.1–1‰ of n) to keep
Σ|cluster|² bounded; train on a bounded sample and assign-only at full
width if iterating over the whole corpus is too expensive (the
assign stage is embarrassingly parallel).

This complements similarity.lsh_self_near_dup (hash-bucketed recall,
float cosine) with the clustering-based recall SemDeDup argues finds
*semantic* (not just lexical) duplicates; ivf_build_assignments keeps
its float/NumPy coarse quantizer because IVF recall does not need
cross-engine exactness — this module's k-means exists precisely for
the oracle-verifiable dedup decision.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .policy import floor, share


def quantize_embedding(col, scale: int):
    """array<float> -> array<long>: round(x * scale) per component,
    double-promoted BEFORE the multiply (float*int would round in
    float32 and diverge from the oracle's CAST(x AS DOUBLE))."""
    return F.transform(
        col, lambda x: F.round(x.cast("double") * F.lit(float(scale)), 0)
        .cast("long"))


def _sq_dist(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"), lambda acc, v: acc + v)


def _int_dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0).cast("long"), lambda acc, v: acc + v)


def _assign(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest centroid per vector: broadcast the k-row centroid table,
    exact integer squared distance, ties broken by lowest cid (the
    struct min orders by (d, cid))."""
    d = (emb.crossJoin(F.broadcast(cents))
         .withColumn("d", _sq_dist(F.col("q"), F.col("c"))))
    return (d.groupBy("vec_id")
            .agg(F.min(F.struct("d", "cid")).alias("m"))
            .select("vec_id", F.col("m.cid").alias("cluster")))


def _update(emb: DataFrame, assign: DataFrame) -> DataFrame:
    """Exact floor-mean centroids from the current assignment.  Empty
    clusters simply vanish (deterministically — the oracle's GROUP BY
    drops them identically); k can only shrink."""
    long_form = (emb.join(assign, "vec_id")
                 .select("cluster", F.posexplode("q").alias("pos", "v")))
    comp = (long_form.groupBy("cluster", "pos")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
            .withColumn("cv", ((F.col("s") - F.pmod("s", "n")) / F.col("n"))
                        .cast("long")))
    return (comp.groupBy("cluster")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cv"))),
                lambda s: s.getField("cv")).alias("c"))
            .select(F.col("cluster").alias("cid"), "c"))


def kmeans_clusters(vectors: DataFrame, k: int, iters: int = 2,
                    scale: int = 1_000_000,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Deterministic distributed k-means over an embedding column.
    Seeds are the k smallest ids (cid = seed rank); ``iters`` exact
    integer Lloyd updates; returns (vec_id, cluster).  With unit-norm
    embeddings the quantized squared-Euclidean argmin equals the
    cosine argmax up to the 1/scale grid."""
    # one cut scan feeds every iteration; floor FIRST — the cut pins
    # the partitioning, or every Lloyd iteration runs on one task
    emb = share(floor(vectors)
                .select(F.col(id_col).alias("vec_id"),
                        quantize_embedding(F.col(vec_col), scale).alias("q")))
    seeds = emb.orderBy("vec_id").limit(k)
    cents = seeds.select(
        (F.row_number().over(Window.orderBy("vec_id")) - 1).alias("cid"),
        F.col("q").alias("c"))
    assign = _assign(emb, cents)
    for _ in range(iters):
        cents = _update(emb, assign)
        assign = _assign(emb, cents)
    return assign


def semantic_dedup(vectors: DataFrame, k: int, iters: int = 2,
                   threshold: float = 0.95,
                   scale: int = 1_000_000, pair_scale: int = 1_000,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """SemDeDup: k-means clusters + within-cluster near-duplicate
    removal.  A vector is dropped when some SAME-CLUSTER vector with a
    lower id has quantized cosine ≥ threshold (pairwise rule — no
    transitive chaining, so the kept set is order-free and exact).
    Returns (vec_id, cluster, keep).

    ``pair_scale`` is deliberately smaller than the k-means ``scale``:
    the integer cross-multiplied threshold needs 10⁴·dot² to fit in
    BIGINT (dot ≤ dim·pair_scale²·max|x|² — 2.6e18 at dim 64,
    pair_scale 1e3, |x| ≤ ~0.5 — under the 9.2e18 limit; scale 1e6
    would overflow)."""
    clusters = kmeans_clusters(vectors, k, iters, scale, id_col, vec_col)
    q3 = floor(vectors).select(
        F.col(id_col).alias("vec_id"),
        quantize_embedding(F.col(vec_col), pair_scale).alias("q3"))
    side = share(clusters.join(q3, "vec_id")
                 .withColumn("n2", _int_dot(F.col("q3"), F.col("q3"))))
    a = side.select(F.col("vec_id").alias("id_a"), "cluster",
                    F.col("q3").alias("qa"), F.col("n2").alias("na2"))
    b = side.select(F.col("vec_id").alias("id_b"), "cluster",
                    F.col("q3").alias("qb"), F.col("n2").alias("nb2"))
    tau2_bp = int(round(threshold * threshold * 10_000))
    pairs = (a.join(b, "cluster")
             .where(F.col("id_a") < F.col("id_b"))
             .withColumn("dot", _int_dot(F.col("qa"), F.col("qb")))
             .where((F.col("dot") > 0)
                    & (F.lit(10_000) * F.col("dot") * F.col("dot")
                       >= F.lit(tau2_bp) * F.col("na2") * F.col("nb2"))))
    dropped = pairs.select(F.col("id_b").alias("vec_id")).distinct()
    return (side.join(dropped.withColumn("hit", F.lit(True)), "vec_id", "left")
            .select("vec_id", "cluster",
                    F.coalesce(~F.col("hit"), F.lit(True)).alias("keep")))
