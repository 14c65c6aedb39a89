"""Spark-side builder for the synthetic pages table.

``spark.range(n)`` → ``mapInPandas`` over Arrow batches; every derived
column is a pure function of xxhash64(id), so the table is identical
regardless of partitioning/parallelism — a requirement for the
two-parallelism scaling benchmark to compare equal work."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .pages import generate_pages_pdf

PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, "
                "text string, lang string")


def build_pages(spark: SparkSession, n_rows: int, partitions: int | None = None) -> DataFrame:
    base = spark.range(0, n_rows, 1, partitions or spark.sparkContext.defaultParallelism)

    def gen(batches):
        for pdf in batches:
            yield generate_pages_pdf(pdf["id"].to_numpy())

    return base.mapInPandas(gen, PAGES_SCHEMA)
