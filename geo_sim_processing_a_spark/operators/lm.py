"""CCNet-style n-gram language-model perplexity filter (Wenzek et al.
2020): train a smoothed bigram LM on a corpus, score every document's
cross-entropy under it, and bucket documents into quality tiers
(CCNet's head/middle/tail).  The standard LLM-training-data quality
gate between heuristic rules (Gopher battery, text.with_gopher_rules)
and model-based classifiers.

Everything is Spark-SQL/DataFrame — tokenize/explode in the scan
stage, window lag for bigram formation, partial-aggregated hash-aggs
for the count tables, equi-joins for scoring; zero UDFs.  Each step
has a DuckDB twin (q_lm_perplexity) so the whole operator is
rows+schema+hash verified.

Float discipline (stricter than text.tfidf_keywords, which sums no
doubles): each per-bigram log-probability is quantized to an INTEGER
at 1e-7 granularity before the per-document sum — double summation is
order-dependent (Spark's partial-agg order differs from DuckDB's), so
the sum itself must be exact-integer; only the final division back to
a 6-decimal cross-entropy touches doubles, on identical operands in
both engines.

Scale notes (100 TB): the LM tables are corpus-derived but BOUNDED —
`min_count` caps the vocabulary (OOV folds into <unk>) and real
pipelines train the LM on a reference corpus (Wikipedia in CCNet),
not the full crawl, so the score-side joins are broadcast of a fixed
LM.  Here train/score run on the same table to keep the oracle
self-contained; the join shape is identical either way.  The only
per-corpus-row shuffles are the lag window and the per-doc agg, both
keyed on doc_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .policy import floor, share
from .text import WS_CLASS

UNK = "<unk>"


def _tokens_with_pos(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, pos, term) — posexplode of the whitespace split, empty
    terms dropped (trim+split leaves at most one '' for blank text, so
    positions stay contiguous for non-empty docs)."""
    return (docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.trim(F.col(text_col)), WS_CLASS + "+"))
        .alias("pos", "term"))
        .where(F.col("term") != ""))


def bigram_lm_score(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", min_count: int = 2,
                    k: float = 0.1) -> DataFrame:
    """Per-document cross-entropy under an add-k-smoothed bigram LM
    trained on ``docs`` itself.

    Model: vocabulary = terms with corpus count >= min_count; all other
    tokens fold to <unk>.  With context counts c(v) = #bigrams starting
    at v and c(v,w) the bigram count (both over mapped tokens),

        P(w | v) = (c(v,w) + k) / (c(v) + k * (V + 1))

    where V = |vocab| and the +1 is <unk>.  Per document,
    ce = -mean(ln P) over its bigrams; documents with < 2 tokens have
    no bigrams and are absent from the output (nothing to score).

    Returns (doc_id, n_bigrams, ce) — lower ce = more fluent under the
    corpus model (CCNet "head").
    """
    # a big corpus: floor (a single split would tokenize on one task)
    # and cut the token stream, which three plan branches consume
    # (vocab count, vocab table, bigram lag)
    toks = share(_tokens_with_pos(floor(docs, if_big=True), id_col,
                                  text_col), if_big=True)
    vocab = (toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
             .where(F.col("c") >= min_count)
             .select("term", F.lit(1).alias("_in")))
    n_vocab = vocab.count()  # bounded driver scalar (same idiom as tfidf N)

    w = Window.partitionBy("doc_id").orderBy("pos")
    pairs_raw = (toks
                 .withColumn("v_raw", F.lag("term").over(w))
                 .where(F.col("v_raw").isNotNull())
                 .select("doc_id", "v_raw", F.col("term").alias("w_raw")))
    # map each side to vocab-or-<unk> independently (equivalent to
    # mapping the token stream first, without a second windowed pass)
    pairs = (pairs_raw
             .join(F.broadcast(vocab.withColumnRenamed("term", "v_raw")
                               .withColumnRenamed("_in", "_in_v")),
                   "v_raw", "left")
             .join(F.broadcast(vocab.withColumnRenamed("term", "w_raw")
                               .withColumnRenamed("_in", "_in_w")),
                   "w_raw", "left")
             .select("doc_id",
                     F.when(F.col("_in_v") == 1, F.col("v_raw"))
                     .otherwise(F.lit(UNK)).alias("v"),
                     F.when(F.col("_in_w") == 1, F.col("w_raw"))
                     .otherwise(F.lit(UNK)).alias("w")))

    per_doc_vw = (pairs.groupBy("doc_id", "v", "w")
                  .agg(F.count(F.lit(1)).alias("m")))
    bi = per_doc_vw.groupBy("v", "w").agg(F.sum("m").alias("c_vw"))
    ctx = bi.groupBy("v").agg(F.sum("c_vw").alias("c_v"))

    denom_add = float(k) * (n_vocab + 1)
    # integer-quantized log-prob (units of 1e-7): exact under any
    # summation order; |logp| < 25 so m * logp7 stays far inside long.
    # Rounding mimics C round() (half away from zero on the BINARY
    # value, -floor(-y + 0.5) for y <= 0) rather than F.round's
    # BigDecimal-on-decimal-string HALF_UP: the DuckDB twin rounds the
    # binary double, and the two disagree on tie-adjacent values —
    # the r5 driver hash mismatch (the mimic is empirically exact on
    # 400k adversarial samples incl. exact .5 ties; 0.5 is a multiple
    # of ulp at every magnitude here, so floor(-y + 0.5) is exact).
    y = F.log((F.col("c_vw") + F.lit(float(k)))
              / (F.col("c_v") + F.lit(denom_add))) * F.lit(1e7)
    logp7 = (-F.floor(-y + F.lit(0.5))).cast("long")
    scored = (per_doc_vw
              .join(bi, ["v", "w"])
              .join(ctx, "v")
              .withColumn("logp7", logp7))
    # ce: identical operand-by-operand to the DuckDB twin's
    # round(-sum(m*logp7) / (1e7*sum(m)), 6) — exact integer sums cast
    # to double, one IEEE divide, then the same binary half-up mimic
    # (DuckDB round(x, p) is std::round(x*10^p)/10^p on doubles).
    # n_bigrams is emitted as DOUBLE to match the twin's pandas dtype:
    # DuckDB sum(BIGINT) is HUGEINT, which lands as float64 — the
    # driver's canon distinguishes 500.0 from 500 (r5 lesson).
    x = (-F.sum(F.col("m") * F.col("logp7"))).cast("double") \
        / (F.lit(1e7) * F.sum("m"))
    ce = F.floor(x * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return (scored.groupBy("doc_id")
            .agg(F.sum("m").cast("double").alias("n_bigrams"),
                 ce.alias("ce")))


def perplexity_buckets(scores: DataFrame, head_ce: float,
                       tail_ce: float) -> DataFrame:
    """CCNet head/middle/tail assignment from explicit cross-entropy
    thresholds (ce <= head_ce -> 'head'; ce > tail_ce -> 'tail').
    Thresholds come from a quantile pass over a reference corpus in
    the real pipeline (see q_value_percentiles for the exact-quantile
    machinery); explicit literals keep this a zero-shuffle projection
    and the oracle decoupled from cross-engine quantile interpolation."""
    return scores.withColumn(
        "bucket",
        F.when(F.col("ce") <= F.lit(head_ce), F.lit("head"))
        .when(F.col("ce") <= F.lit(tail_ce), F.lit("middle"))
        .otherwise(F.lit("tail")))
