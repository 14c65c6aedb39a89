"""End-to-end boilerplate-skew proof (round-3 VERDICT #6).

Plants ONE shared boilerplate paragraph across 20% of the documents
table, plus deterministic true near-dup pairs whose similarity comes
from NON-boilerplate content, then:

 1. counts the LSH band-bucket candidate pairs with and without the
    hot-key guard (computed by aggregation — sum of c*(c-1)/2 per
    bucket — so the unguarded blow-up is measured without
    materializing it);
 2. runs the full near_dup_clusters pipeline WITH the guard, records
    wall time and the guard's logged drop report;
 3. asserts every planted true pair still lands in one cluster.

Usage: python tools/boilerplate_skew_proof.py [sf_dir] [cap]
Prints one JSON line for the round notes.
"""

from __future__ import annotations

import json
import logging
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    cap = int(sys.argv[2]) if len(sys.argv) > 2 else 1000

    from geo_sim_processing_a_spark.plans.session import get_spark
    from geo_sim_processing_a_spark.operators.dedup import (
        minhash_signatures, near_dup_clusters)
    from geo_sim_processing_a_spark.operators.policy import floor

    spark = get_spark("skew_proof", cpus=8, shuffle_partitions=16)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    n_docs = docs.count()

    # boilerplate long relative to the ~45-token synthetic bodies, so it
    # dominates MinHash minima and band buckets actually go hot — the
    # adversarial case, not a soft one
    boiler = " ".join(f"boilerplate legal footer token{i} all rights reserved"
                      for i in range(30))
    planted_frac = 0.2
    docs = docs.withColumn(
        "text",
        F.when(F.col("doc_id") % int(1 / planted_frac) == 0,
               F.concat(F.lit(boiler + " "), F.col("text")))
        .otherwise(F.col("text")))

    # planted TRUE near-dups: 10 docs get a twin (id + 10^7) whose text
    # shares the full non-boilerplate body plus a one-token suffix.
    # Collect the twin ids ONCE (sorted — limit without orderBy is not
    # deterministic across executions) and reuse the literal list for
    # both the planted frame and the assertion set, so they can never
    # diverge between the two plan executions.
    twin_ids = sorted(int(r["doc_id"]) for r in
                      docs.where(F.col("doc_id") % 499 == 0)
                      .select("doc_id").collect())[:10]
    twins = (docs.where(F.col("doc_id").isin(twin_ids))
             .select((F.col("doc_id") + 10_000_000).alias("doc_id"),
                     F.concat(F.col("text"), F.lit(" twinsuffix")).alias("text")))
    expected_pairs = [(i, i + 10_000_000) for i in twin_ids]
    full = docs.unionByName(twins)

    # --- candidate-volume measurement (aggregation, never the join) ---
    n_hashes, bands = 32, 8
    rows_per_band = n_hashes // bands
    sigs = minhash_signatures(floor(full), n_hashes=n_hashes)
    band_cols = [F.struct(F.lit(bi).alias("band"),
                          F.xxhash64(F.concat_ws(
                              ",", *[F.element_at("sig", bi * rows_per_band + r + 1)
                                     for r in range(rows_per_band)])).alias("bh"))
                 for bi in range(bands)]
    buckets = (sigs.select("doc_id", F.explode(F.array(*band_cols)).alias("bb"))
               .select(F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))
               .groupBy("band", "bh").count())
    stats = buckets.agg(
        F.sum(F.expr("count * (count - 1) / 2")).alias("cand_all"),
        F.sum(F.when(F.col("count") <= cap,
                     F.expr("count * (count - 1) / 2"))).alias("cand_capped"),
        F.sum(F.when(F.col("count") > cap, 1)).alias("hot_buckets"),
        F.max("count").alias("max_bucket")).collect()[0]

    # --- full pipeline with the guard ---
    drop_msgs = []
    handler = logging.Handler()
    handler.emit = lambda rec: drop_msgs.append(rec.getMessage())
    logging.getLogger("geo_sim_processing_a_spark.operators.skew").addHandler(handler)
    t0 = time.perf_counter()
    clusters = near_dup_clusters(full, threshold=0.5, hot_key_cap=cap)
    cmap = {r["doc_id"]: r["cluster_id"] for r in clusters.collect()}
    wall = round(time.perf_counter() - t0, 2)

    ok = all(cmap[a] == cmap[b] for a, b in expected_pairs)
    print(json.dumps({
        "sf": sf_dir, "n_docs": n_docs, "planted_boiler_frac": planted_frac,
        "cap": cap,
        "candidate_pairs_unguarded": int(stats["cand_all"]),
        "candidate_pairs_guarded": int(stats["cand_capped"] or 0),
        "hot_buckets_dropped": int(stats["hot_buckets"] or 0),
        "max_bucket": int(stats["max_bucket"]),
        "guard_reports": drop_msgs,
        "near_dup_clusters_wall_s": wall,
        "planted_true_pairs": len(expected_pairs),
        "planted_pairs_clustered": ok,
    }))
    assert ok, "planted true near-dup pairs must survive the guard"
    spark.stop()


if __name__ == "__main__":
    main()
