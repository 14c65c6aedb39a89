"""Duplicate-substring span detection/removal (Lee et al. 2021,
"Deduplicating Training Data Makes Language Models Better" — the
ExactSubstr component).  The reference method builds a corpus-wide
suffix array; the Spark-native shape is windowed k-token-gram
counting: a token position is *duplicated* when the k-gram starting
there occurs >= min_occurrences times corpus-wide (within-doc repeats
count, matching ExactSubstr), and maximal runs of duplicated
positions merge into spans covering [start, end + k - 1] tokens.

Every stage is DataFrame-native: the k-gram array builds and explodes
inside the scan stage (text.word_ngrams, whole-stage codegen), the
occurrence count is ONE partial-aggregated hash-agg, the join back is
a plain equi-join on the gram key, and span merging is the classic
gaps-and-islands window (lag + running sum) on doc_id — no UDF
anywhere.

Scale notes (100 TB): the shuffle key for counting is
(xxhash64(gram), length(gram)) — 12 bytes instead of the gram string,
and the extra length component keeps the false-duplicate probability
negligible at 10^13 windows (a 64-bit birthday alone would produce a
handful of collisions at that volume; a collision additionally
requires equal byte length AND an adjacent duplicated window to
survive span merging).  The DuckDB oracle groups on the gram string
itself — identical semantics, which doubles as a standing collision
check at test SFs.  Span merging shuffles once on doc_id; both
exchanges are on high-cardinality keys with partial aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .policy import floor
from .text import WS_CLASS


def _clean_tokens(text_col: str):
    """Whitespace-class token array with empties dropped — the SAME
    tokenization as the strip step and the lm/tfidf operators (NOT
    text.word_ngrams' literal-space split: gram positions must align
    with the rebuild's token positions on ragged whitespace)."""
    return F.filter(F.split(F.trim(F.col(text_col)), WS_CLASS + "+"),
                    lambda x: x != "")


def _token_gram_slices(toks, n: int):
    """Array of n-token SLICES of a token-array column — the gram as a
    subarray, never a concatenated string: two windows are duplicates
    iff their token sequences are equal, and (tokens contain no
    whitespace) token-sequence equality == joined-string equality, so
    hashing the slice directly skips the O(n·k·len) concat_ws char
    copying the string form paid TWICE (both counting passes rebuilt
    every gram string; r6 measurement)."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.slice(toks, i, n))
    empty = F.transform(F.slice(toks, 1, 0), lambda t: F.array(t))
    return F.when(F.size(toks) >= n, grams).otherwise(empty)


def _dup_positions(docs: DataFrame, k: int, min_occurrences: int,
                   id_col: str, text_col: str) -> DataFrame:
    """(doc_id, pos) of every token position whose k-gram window occurs
    >= min_occurrences times corpus-wide.  pos is the 0-based token
    index of the window start.

    The shuffle key is the 12-byte (xxhash64, murmur3) double hash of
    the token slice — same equivalence classes as the gram string
    (see _token_gram_slices), ~96 bits against collisions at 10^13
    windows; the DuckDB oracle still groups the gram STRING itself, so
    it remains the standing collision check."""
    wins = (floor(docs).select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(_token_gram_slices(_clean_tokens(text_col), k))
        .alias("pos", "gram"))
        .select("doc_id", "pos",
                F.xxhash64("gram").alias("gh"),
                F.hash("gram").alias("gl")))
    hot = (wins.groupBy("gh", "gl").agg(F.count(F.lit(1)).alias("c"))
           .where(F.col("c") >= min_occurrences)
           .select("gh", "gl"))
    return wins.join(hot, ["gh", "gl"]).select("doc_id", "pos")


def duplicate_spans(docs: DataFrame, k: int = 8, min_occurrences: int = 2,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Maximal duplicated-substring spans per document.

    Returns (doc_id, span_id, start_pos, end_pos, n_tokens) where
    token indices [start_pos, end_pos] (0-based, inclusive) are covered
    by duplicated k-gram windows; span_id numbers a doc's spans in
    position order from 1.  A span's minimum width is k tokens.
    Documents with no duplicated window are absent.
    """
    dup = _dup_positions(docs, k, min_occurrences, id_col, text_col)
    w = Window.partitionBy("doc_id").orderBy("pos")
    # gaps-and-islands: window starts at pos p and p' merge when
    # p' <= p + k (their covered token ranges touch or overlap).
    # span_id is emitted as DOUBLE: the DuckDB twin's sum() OVER is
    # HUGEINT, which lands in pandas as float64, and the driver's
    # canon distinguishes 2.0 from 2 — the actual r5 hash-mismatch
    # cause (values are small exact integers either way)
    spans = (dup
             .withColumn("new_span",
                         F.when(F.col("pos") > F.lag("pos").over(w) + k, 1)
                         .when(F.lag("pos").over(w).isNull(), 1)
                         .otherwise(0))
             .withColumn("span_id", F.sum("new_span").over(
                 w.rowsBetween(Window.unboundedPreceding, 0))
                 .cast("double")))
    # BIGINT outputs: posexplode yields int32 positions, but every
    # integer column a query exposes must be int64 — the driver's
    # value hash is dtype-sensitive and the DuckDB twin produces
    # BIGINT (the r5 q_dup_spans hash mismatch)
    return (spans.groupBy("doc_id", "span_id")
            .agg(F.min("pos").cast("long").alias("start_pos"),
                 (F.max("pos") + F.lit(k - 1)).cast("long").alias("end_pos"))
            .withColumn("n_tokens",
                        F.col("end_pos") - F.col("start_pos") + 1))


def strip_duplicate_spans(docs: DataFrame, k: int = 8,
                          min_occurrences: int = 2, id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Rebuild each document's text with every duplicated span's tokens
    removed (ExactSubstr dedup's cut step).  Documents reduce to ''
    when fully duplicated; docs with no duplicated span pass through
    byte-identical (single-space token joins aside: the rebuild
    normalizes token separators to one space, same as the boilerplate
    rebuild — document-level invariant, not byte parity).

    Shape: duplicated positions expand to covered token indices via a
    sequence explode, the token stream anti-joins them, and the
    surviving tokens concat back in position order — explode, two
    doc_id-keyed shuffles, no UDF."""
    toks = floor(docs).select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(_clean_tokens(text_col)).alias("pos", "term"))
    covered = (duplicate_spans(docs, k, min_occurrences, id_col, text_col)
               .select("doc_id",
                       F.explode(F.sequence("start_pos", "end_pos"))
                       .alias("pos")))
    kept = toks.join(covered, ["doc_id", "pos"], "left_anti")
    rebuilt = (kept.groupBy("doc_id")
               .agg(F.concat_ws(
                   " ",
                   F.transform(
                       F.array_sort(F.collect_list(F.struct("pos", "term"))),
                       lambda x: x["term"])).alias("text_dedup")))
    ids = docs.select(F.col(id_col).alias("doc_id"))
    return (ids.join(rebuilt, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("text_dedup", F.lit("")).alias("text_dedup")))
