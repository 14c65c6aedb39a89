"""DSIR-style data selection via importance resampling (Xie et al.
2023): score every raw document by how much more likely its hashed
n-gram features are under a target-domain distribution than under the
raw-corpus distribution, then keep the top-weighted documents.  The
standard pretraining-data selection stage when a curated target set
(Wikipedia, books, an eval-adjacent domain) should steer what is kept
from a web crawl.

Model: tokens hash into ``n_buckets`` feature buckets (hashed unigram
bag, the DSIR reduction); with add-one-smoothed bucket distributions
p_t (target) and p_r (raw), a document's log importance weight is

    log w(d) = sum over tokens of [ ln p_t(b(tok)) - ln p_r(b(tok)) ]

Engine-exactness discipline (same as operators/lm.py): every
per-bucket log-ratio is quantized to an INTEGER in 1e-7 units BEFORE
the per-document sum — double summation is order-dependent across
engines, integer summation is associative; the hash is the md5-prefix
bucket (sampling.md5_bucket idiom) because it is bit-identical in any
engine with an md5 function, unlike engine-private hash64s.

Scale notes (100 TB): the stats side collapses to ``n_buckets`` rows
(one hash-agg with map-side partials over the token stream), the
totals fold into that bounded table with an all-partition window, and
the per-token scoring join BROADCASTs the n_buckets-row λ table — the
corpus shuffles once, on doc_id, for the per-doc sum.  In the real
pipeline the target distribution comes from a fixed curated set, so
the λ table is a constant broadcast exactly as here (target rows are
simply a flagged subset of the input either way).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .policy import floor
from .sampling import md5_bucket
from .text import WS_CLASS


def hashed_token_buckets(docs: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text", n_buckets: int = 1024,
                         nibbles: int = 4,
                         keep_cols: tuple = ()) -> DataFrame:
    """(id, bucket) per token: whitespace tokenize in the scan stage,
    md5-prefix hash to ``n_buckets`` feature buckets (portable across
    engines).  ``nibbles`` hex chars give 16^nibbles raw buckets before
    the modulo — keep 16^nibbles >= n_buckets."""
    if 16 ** nibbles < n_buckets:
        raise ValueError(f"16^{nibbles} < {n_buckets}: raise nibbles")
    # per-token md5 bucketing of a big corpus on a single-split scan
    # would run serially (this frame feeds two plan branches)
    docs = floor(docs, if_big=True)
    toks = docs.select(
        F.col(id_col), *[F.col(c) for c in keep_cols],
        F.explode(F.split(F.trim(F.col(text_col)), WS_CLASS + "+"))
        .alias("term"))
    return (toks.where(F.col("term") != "")
            .withColumn("b", F.pmod(md5_bucket(F.col("term"), nibbles),
                                    F.lit(n_buckets)))
            .drop("term"))


def dsir_weights(docs: DataFrame, is_target: Column,
                 id_col: str = "doc_id", text_col: str = "text",
                 n_buckets: int = 1024, nibbles: int = 4) -> DataFrame:
    """Per-document DSIR log importance weight.  ``is_target`` marks
    the rows defining the target distribution; every document
    (target rows included) is scored against target-vs-raw.  Documents
    with zero tokens have no features and are absent from the output.

    Returns (id_col, n_tokens, w7) where w7 = Σ λ7(bucket) over the
    doc's tokens and λ7 = round(1e7·[ln p_t(b) − ln p_r(b)]) with
    add-one smoothing over raw counts — higher w7 = more target-like.
    """
    tk = hashed_token_buckets(docs.withColumn("_t", is_target),
                              id_col, text_col, n_buckets, nibbles,
                              keep_cols=("_t",))
    cnt = (tk.groupBy("b")
           .agg(F.sum(F.when(F.col("_t"), 1).otherwise(0)).alias("ct"),
                F.sum(F.when(F.col("_t"), 0).otherwise(1)).alias("cr")))
    # totals folded into the bounded n_buckets-row table (the same
    # all-partition-window idiom as sampling.temperature_sample)
    w_all = Window.partitionBy()
    cnt = (cnt.withColumn("nt", F.sum("ct").over(w_all).cast("long"))
           .withColumn("nr", F.sum("cr").over(w_all).cast("long")))
    lam7 = F.round(
        (F.log((F.col("ct") + F.lit(1.0))
               / (F.col("nt") + F.lit(float(n_buckets))))
         - F.log((F.col("cr") + F.lit(1.0))
                 / (F.col("nr") + F.lit(float(n_buckets)))))
        * F.lit(1e7), 0).cast("long")
    lam = cnt.select("b", lam7.alias("l7"))
    return (tk.join(F.broadcast(lam), "b")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.sum("l7").alias("w7")))


def dsir_top_k(docs: DataFrame, is_target: Column, k: int,
               id_col: str = "doc_id", text_col: str = "text",
               n_buckets: int = 1024, nibbles: int = 4) -> DataFrame:
    """The selection step: top ``k`` documents by (w7 desc, id asc) —
    a deterministic total order, executed as TakeOrdered (no global
    single-partition sort materializes the full corpus)."""
    w = dsir_weights(docs, is_target, id_col, text_col, n_buckets, nibbles)
    return w.orderBy(F.desc("w7"), F.col(id_col)).limit(k)
