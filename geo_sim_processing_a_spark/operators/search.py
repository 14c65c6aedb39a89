"""BM25 full-text relevance scoring (Robertson/Spärck Jones; the
Lucene-variant formula) — the lexical counterpart of the embedding
similarity layer: given a bag-of-terms query, score every document by

    score(d) = Σ_t idf(t) · tf(t,d)·(k1+1)
                        / (tf(t,d) + k1·(1 − b + b·dl(d)/avgdl))

with idf(t) = ln(1 + (N − df(t) + 0.5)/(df(t) + 0.5)) (always
positive, Lucene's shift).

Engine-exactness: both engines evaluate the per-term score with the
IDENTICAL parenthesization of IEEE double ops (the discipline proven
by tfidf's 15k-row ln() hash match), then quantize it to an INTEGER in
1e-7 units BEFORE the per-document sum (operators/lm.py discipline —
integer sums are associative, double sums are not).  N and
total-token-count enter as exact integer literals; k1/b as the same
decimal literals, parsed to the same doubles everywhere.

Scale notes (100 TB): the token stream is filtered to the query's
terms INSIDE the scan stage (isin over a literal array — predicate on
the exploded stream, so non-matching tokens never reach a shuffle);
df/tf collapse to at most |query| and |query|·N_matched rows; document
lengths are one hash-agg over the token stream (computed anyway by any
quality stage and joinable from there); the final top-k is
TakeOrdered, never a global sort.  The two corpus scalars (N, total
tokens) are a single bounded 1-row collect — same idiom as the tfidf
vocabulary size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .policy import floor, share
from .text import WS_CLASS


def bm25_search(docs: DataFrame, query_terms: list[str], k: int = 20,
                k1: float = 1.2, b: float = 0.75,
                id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Top-``k`` documents for a bag-of-terms query by BM25, ordered by
    (score7 desc, id).  Returns (id_col, n_match_terms, score7) with
    score7 = the integer-quantized score in 1e-7 units (divide by 1e7
    for the conventional float score).  Duplicate query terms are
    collapsed; documents matching no term are absent."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = sorted(set(query_terms))
    toks = (floor(docs, if_big=True).select(
        F.col(id_col).alias("_id"),
        F.explode(F.split(F.trim(F.col(text_col)), WS_CLASS + "+"))
        .alias("term"))
        .where(F.col("term") != ""))
    # document length: one hash-agg on _id, read by the corpus-scalar
    # collect and the scoring join
    dl = share(toks.groupBy("_id").agg(F.count(F.lit(1)).alias("dl")),
               if_big=True)
    # bounded 1-row collect for the two corpus scalars (tfidf-N idiom)
    n_docs, total_tokens = dl.agg(
        F.count(F.lit(1)), F.sum("dl")).first()
    avgdl = F.lit(float(total_tokens)) / F.lit(int(n_docs))

    hits = toks.where(F.col("term").isin(terms))
    tf = (hits.groupBy("_id", "term")
          .agg(F.count(F.lit(1)).alias("tf")))
    df_t = (tf.groupBy("term")
            .agg(F.count(F.lit(1)).alias("df")))
    idf = F.log(F.lit(1.0)
                + (F.lit(int(n_docs)) - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)))
    lk1, lb = F.lit(float(k1)), F.lit(float(b))
    score = (idf * (F.col("tf") * (lk1 + F.lit(1.0)))
             / (F.col("tf")
                + lk1 * (F.lit(1.0) - lb + lb * F.col("dl") / avgdl)))
    s7 = F.round(score * F.lit(1e7), 0).cast("long")
    return (tf.join(F.broadcast(df_t), "term")
            .join(dl, "_id")
            .withColumn("s7", s7)
            .groupBy("_id")
            .agg(F.count(F.lit(1)).alias("n_match_terms"),
                 F.sum("s7").alias("score7"))
            .select(F.col("_id").alias(id_col), "n_match_terms", "score7")
            .orderBy(F.desc("score7"), id_col)
            .limit(k))


def build_postings(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text",
                   min_df: int = 1, max_df: int | None = None) -> DataFrame:
    """Inverted-index postings artifact — the persisted search-layer
    table BM25 serving reads instead of re-scanning the corpus:
    one row per term with doc-aligned parallel arrays

        (term, df, total_tf, doc_ids, tfs, positions)

    where doc_ids is ascending, tfs[i] is term frequency in
    doc_ids[i], and positions is the concatenation of each doc's
    ascending 0-based token positions (per-doc boundaries recoverable
    from tfs — the classic delta-friendly layout).  Parallel arrays
    rather than an array<struct> so any engine (and the DuckDB twin)
    can rebuild the row byte-for-byte.

    ``min_df``/``max_df`` implement the standard IR pruning: rare
    terms (noise) and stop-word terms drop.  max_df is ALSO the skew
    governor — a stop-word's posting row holds df entries, so at web
    scale an uncapped build materializes O(n_docs)-sized single rows;
    set max_df (or shard by term prefix) before running wide.

    Shape: scan-stage posexplode -> ONE (term, doc) hash-agg (map-side
    partials collapse within-partition repeats) -> ONE term hash-agg;
    the per-term arrays assemble via sort_array over collected
    structs, then field-extract into aligned columns."""
    if min_df < 1:
        raise ValueError(f"min_df must be >= 1, got {min_df}")
    if max_df is not None and max_df < min_df:
        raise ValueError(f"max_df {max_df} < min_df {min_df}")
    toks = (floor(docs, if_big=True).select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.trim(F.col(text_col)), WS_CLASS + "+"))
        .alias("pos", "term"))
        .where(F.col("term") != ""))
    # no checkpoint: per_doc's top is an Exchange, so the df-prune
    # branch and the final collect share it via in-plan ReusedExchange
    # (A/B: checkpoint was neutral-to-slower)
    per_doc = (toks.groupBy("term", "_id")
               .agg(F.sort_array(F.collect_list("pos")).alias("positions"),
                    F.count(F.lit(1)).alias("tf")))
    # TWO-PHASE build: prune by df BEFORE any collect_list — otherwise
    # a stop word materializes O(n_docs) of aggregation state that
    # max_df only discards afterwards.  The df table is a cheap count
    # agg over per_doc; the semi-join keeps only in-range terms, so
    # the collect stage's per-group state is bounded by max_df.
    df_tbl = (per_doc.groupBy("term")
              .agg(F.count(F.lit(1)).alias("df"),
                   F.sum("tf").alias("total_tf")))
    kept = df_tbl.where(F.col("df") >= F.lit(min_df))
    if max_df is not None:
        kept = kept.where(F.col("df") <= F.lit(max_df))
    pruned = (per_doc.join(kept, "term")
              .groupBy("term", "df", "total_tf")
              .agg(F.sort_array(F.collect_list(
                  F.struct("_id", "tf", "positions"))).alias("_p")))
    return pruned.select(
        "term", "df", "total_tf",
        F.transform("_p", lambda x: x["_id"]).alias("doc_ids"),
        F.transform("_p", lambda x: x["tf"]).alias("tfs"),
        F.flatten(F.transform("_p", lambda x: x["positions"]))
        .alias("positions"))


def phrase_search(docs: DataFrame, phrase: list[str],
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Exact phrase search: documents containing the tokens of
    ``phrase`` consecutively, with occurrence counts —
    (id_col, n_hits) for every matching document.

    Shape: the token stream is filtered to the phrase's terms INSIDE
    the scan stage (the BM25 discipline — non-matching tokens never
    shuffle); term i's postings join term 0's on (doc, position
    offset) — len(phrase)-1 equi-joins on (_id, pos), each a hash
    join on an integer pair, no arrays, no UDF.  A phrase of repeated
    tokens works (each join keys on the exact offset).

    At web scale this is the query-time path over a token-position
    table you would persist once (build_postings keeps the same
    positions); here it runs straight off the corpus so the oracle
    can rebuild it."""
    if not phrase:
        raise ValueError("phrase must be non-empty")
    terms = list(phrase)
    # filtered to the phrase's terms, then cut — every per-term join
    # branch reads it instead of re-scanning the corpus
    toks = share(floor(docs).select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.trim(F.col(text_col)), WS_CLASS + "+"))
        .alias("pos", "term"))
        .where(F.col("term").isin(sorted(set(terms)))))
    base = (toks.where(F.col("term") == terms[0])
            .select("_id", F.col("pos").alias("p0")))
    for i, t in enumerate(terms[1:], start=1):
        nxt = (toks.where(F.col("term") == t)
               .select(F.col("_id").alias("_id_r"),
                       (F.col("pos") - i).alias("p0_r")))
        base = (base.join(nxt, (F.col("_id") == F.col("_id_r"))
                          & (F.col("p0") == F.col("p0_r")))
                .select("_id", "p0"))
    return (base.groupBy("_id")
            .agg(F.count(F.lit(1)).alias("n_hits"))
            .select(F.col("_id").alias(id_col), "n_hits"))
