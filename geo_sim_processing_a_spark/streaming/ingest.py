"""Incremental pages ingestion with Structured Streaming.

 - ``stream_pages``: file-source stream over a pages parquet directory
   (new WARC drops appear as new files).
 - ``windowed_page_counts``: event-time windowed counts per lang with a
   watermark for late pages (the standard late-data pattern).
 - ``run_incremental_pipeline``: foreachBatch -> the SAME batch tile
   pipeline; per-batch outputs land in per-batch attempt dirs and the
   manifest makes tile completion idempotent, so restart semantics
   compose with the stream checkpoint (exactly-once per tile).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.spark_pages import PAGES_SCHEMA


def stream_pages(spark: SparkSession, path: str) -> DataFrame:
    # file-source streams trust the supplied schema — importing the ONE
    # pages schema (sources/spark_pages.py) instead of re-declaring it
    # here means a schema change can't silently drop columns mid-stream
    return (spark.readStream.schema(PAGES_SCHEMA).parquet(path))


def windowed_page_counts(pages_stream: DataFrame, window: str = "1 hour",
                         watermark: str = "2 hours") -> DataFrame:
    return (pages_stream
            .withWatermark("warc_ts", watermark)
            .groupBy(F.window("warc_ts", window).alias("w"), "lang")
            .agg(F.count("*").alias("n_pages"))
            .select(F.col("w.start").alias("window_start"), "lang", "n_pages"))


def sessionized_page_counts(pages_stream: DataFrame, gap: str = "30 minutes",
                            watermark: str = "2 hours") -> DataFrame:
    """Event-time session windows per lang: sessions close after
    ``gap`` of silence (F.session_window — the streaming analogue of
    the batch lag-based sessionization in q_events_sessions)."""
    return (pages_stream
            .withWatermark("warc_ts", watermark)
            .groupBy(F.session_window("warc_ts", gap).alias("w"), "lang")
            .agg(F.count("*").alias("n_pages"))
            .select(F.col("w.start").alias("session_start"),
                    F.col("w.end").alias("session_end"), "lang", "n_pages"))


def dedup_pages_stream(pages_stream: DataFrame,
                       watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup at ingest — the streaming twin of
    operators/dedup.exact_dedup: one row per distinct RAW-text md5
    within the watermark horizon.

    Uses dropDuplicatesWithinWatermark so the dedup STATE is bounded:
    a fingerprint older than the watermark is evicted (at 100 TB/day an
    unbounded dedup-state store is the classic streaming OOM).  Exact
    within the horizon; cross-horizon dups fall through to the batch
    exact_dedup pass downstream — which is why the key is md5 of the
    RAW text, the SAME key exact_dedup groups on (a normalized key
    here would drop pages the batch layer considers distinct)."""
    return (pages_stream
            .withColumn("text_md5", F.md5("text"))
            .withWatermark("warc_ts", watermark)
            .dropDuplicatesWithinWatermark(["text_md5"]))


CELL_STATS_OUTPUT = "cell long, n_pages long, n_batches int"
CELL_STATS_STATE = "n_pages long, n_batches int"


def stateful_cell_counts(pages_stream: DataFrame, res: int = 6) -> DataFrame:
    """Custom STATEFUL streaming operator via applyInPandasWithState:
    per-cell running page totals that survive across micro-batches AND
    across restarts (the state store is part of the stream checkpoint).

    Geocoding and the cell encode run JVM-side (the pmod geocode
    formula is plain SQL; cell_encode_col is the bit-for-bit Column
    twin of cells.encode); the state update is one pandas group per
    cell holding (running total, batches seen).  This is the streaming
    twin of the per-tile counter manifest in the batch pipeline
    (S7/R2)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.spark_joins import cell_encode_col
    from ..sources.pages import geocode_columns

    with_h = (pages_stream
              .withColumn("doc_id",
                          F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long"))
              .withColumn("h", F.xxhash64("doc_id")))
    lon, lat = geocode_columns(F.col("h"))
    with_cell = (with_h.withColumn("lon", lon).withColumn("lat", lat)
                 .withColumn("cell", cell_encode_col(F.col("lon"),
                                                     F.col("lat"), res)))

    def update(key, pdfs, state: GroupState):
        n = 0
        for pdf in pdfs:
            n += len(pdf)
        if state.exists:
            total, batches = state.get
        else:
            total, batches = 0, 0
        total += n
        batches += 1
        state.update((total, batches))
        yield pd.DataFrame({"cell": [key[0]], "n_pages": [total],
                            "n_batches": [batches]})

    # prune to the one column update() reads BEFORE the state shuffle /
    # Arrow boundary (mapInPandas-family stages get no column pruning
    # from Catalyst; html/text would otherwise ride the state exchange)
    return (with_cell.select("cell").groupBy("cell")
            .applyInPandasWithState(update, CELL_STATS_OUTPUT, CELL_STATS_STATE,
                                    "update", GroupStateTimeout.NoTimeout))


def run_incremental_pipeline(spark: SparkSession, in_path: str, out_dir: str,
                             checkpoint_dir: str, res: int = 6,
                             diameter_tol: float = 0.004):
    """availableNow trigger: drain all currently-visible files through
    the tile pipeline batch-by-batch, then stop.  Each micro-batch goes
    through the manifest-gated pipeline, so tiles completed by earlier
    batches are not recomputed within a batch's scope.

    Manifest stages are keyed on (stream checkpoint identity, batch id),
    NOT batch id alone: Structured Streaming restarts batch numbering
    at 0 for a NEW checkpoint, so a fresh stream over an existing
    out_dir (checkpoint deleted/replaced) would otherwise see the OLD
    stream's 'simplify_b0' tiles as already complete and silently skip
    pages that landed in them.  The identity is a marker written INTO
    the checkpoint dir before start: resuming the same checkpoint
    reuses it (batch numbering continues, matching stages resume),
    while a new/recreated checkpoint gets a fresh id and therefore
    fresh stage keys."""
    import posixpath
    import uuid

    from ..plans.pipeline import run_pipeline
    from ..sources.manifest import fs_exists, fs_read_text, fs_write_text

    # marker I/O through the Hadoop FS API: a remote checkpoint URI
    # (hdfs://, s3a://) must read/write the SAME marker from any driver
    # host — driver-local open() would mint a fresh sid per host and
    # change the manifest stage keys mid-stream (ADVICE r4)
    marker = posixpath.join(checkpoint_dir, "_pipeline_stream_id")
    if fs_exists(spark, marker):
        sid = fs_read_text(spark, marker).strip()
    else:
        sid = uuid.uuid4().hex[:12]
        fs_write_text(spark, marker, sid)

    stream = stream_pages(spark, in_path)

    def process_batch(batch_df: DataFrame, batch_id: int):
        if batch_df.isEmpty():
            return
        run_pipeline(spark, batch_df, out_dir, res=res, diameter_tol=diameter_tol,
                     stage=f"simplify_{sid}_b{batch_id}")

    q = (stream.writeStream
         .foreachBatch(process_batch)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return q
