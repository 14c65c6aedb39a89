"""Dump formatted physical plans of the headline queries to PLANS.md —
the `.explain("formatted")` evidence for plan-quality review
(pushdown, pruning, broadcast, single kernel shuffle)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"


def main():
    from geo_sim_processing_a_spark.plans.session import get_spark
    from geo_sim_processing_a_spark.plans import driver_queries as Q
    from geo_sim_processing_a_spark.plans.pipeline import (
        pages_to_covered_geoms, simplify_tiles)
    from geo_sim_processing_a_spark.operators.tiling import salt_by_cell
    from geo_sim_processing_a_spark.sources.spark_pages import build_pages

    spark = get_spark("plans", cpus=4, shuffle_partitions=4)
    out = ["# PLANS — formatted physical plans of the headline queries",
           "",
           "Generated by tools/dump_plans.py. Things to check:",
           "`PushedFilters`/`ReadSchema` on scans (pushdown + pruning),",
           "`BroadcastHashJoin` for dimension joins, exactly one",
           "`Exchange` feeding the kernel stage, `*(n)` codegen spans.",
           ""]

    def dump(name, df):
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        out.append(f"## {name}\n\n```\n{plan}\n```\n")

    dump("q01_pricing_summary", Q.q01_pricing_summary(spark, SF_DIR))
    dump("q05_nation_volume (broadcast dim join)", Q.q05_nation_volume(spark, SF_DIR))
    dump("q_pip_join (broadcast grid join, Column even-odd refine)", Q.q_pip_join(spark, SF_DIR))

    pages = build_pages(spark, 2000, partitions=4)
    covered = pages_to_covered_geoms(pages.dropDuplicates(["url"]), res=6).persist()
    covered.count()
    kern = simplify_tiles(salt_by_cell(covered, target_rows_per_task=20000),
                          0.004, "sherbend")
    dump("flagship kernel stage (single Exchange before mapInPandas)", kern)

    # round-2 shapes: verify-stage exchanges must carry compact arrays /
    # bare ids, never raw text or float vectors
    dump("q_minhash_near_dup (band equi-join; verify joins shingle-hash "
         "arrays, no text shuffle)", Q.q_minhash_near_dup(spark, SF_DIR))
    dump("q_embedding_near_dup (probe join + distinct on ids only; "
         "vectors joined once after)", Q.q_embedding_near_dup(spark, SF_DIR))
    dump("q_raster_tiles (ONE fused Python stage: cover + rasterize)",
         Q.q_raster_tiles(spark, SF_DIR))
    dump("q_chordal_axis (skeleton geometry, one kernel pass)",
         Q.q_chordal_axis(spark, SF_DIR))
    dump("q_range_join (grid join: (ix, iy) cover equi-join, no Python, "
         "no cartesian)",
         Q.q_range_join(spark, SF_DIR))
    # round-3 shape: kNN cogroups queries/candidates per cell — the
    # plan must show FlatMapCoGroupsInPandas, never a join of the two
    # sides (the per-cell cartesian that hung sf0.1)
    dump("q_knn (cogrouped filter-refine, query-salted)",
         Q.q_knn(spark, SF_DIR))

    # round-4 curation shapes: explode pipelined in the scan stage, ONE
    # hash-agg exchange + TakeOrdered (ngram); broadcast probe grams
    # (contamination); scan-stage md5-bucket predicate, no UDF (mix)
    dump("q_ngram_topk (explode in scan stage, one Exchange, TakeOrdered)",
         Q.q_ngram_topk(spark, SF_DIR))
    dump("q_contamination (broadcast probe-gram join, per-doc agg)",
         Q.q_contamination(spark, SF_DIR))
    dump("q_domain_mix (content-addressed threshold inside the scan)",
         Q.q_domain_mix(spark, SF_DIR))

    # round-5 shapes: URL canonicalization is a pure scan-stage
    # projection; domain_cap windows ONLY the over-cap tail (broadcast
    # semi-join picks it); the PSL match explodes DISTINCT hosts and
    # broadcast-joins the suffix table; gopher rules are one projection
    dump("q_url_normalize (scan-stage regexp projection, zero UDF)",
         Q.q_url_normalize(spark, SF_DIR))
    dump("q_domain_cap (window only over broadcast-selected hot tail)",
         Q.q_domain_cap(spark, SF_DIR))
    dump("q_domain_psl (distinct hosts -> exploded suffixes -> broadcast "
         "PSL join -> map back)", Q.q_domain_psl(spark, SF_DIR))
    dump("q_gopher (integer-exact rule battery, one projection)",
         Q.q_gopher(spark, SF_DIR))
    # boilerplate: line explode in the scan stage, ONE line-key
    # hash-agg exchange, broadcast LEFT-ANTI removal (never a shuffle
    # of the line set), one doc-granularity rebuild exchange
    dump("q_boilerplate (scan-stage explode, broadcast anti-join removal)",
         Q.q_boilerplate(spark, SF_DIR))
    dump("q_pii (pure scan-stage regex projection, zero shuffle)",
         Q.q_pii(spark, SF_DIR))
    dump("q_curation_web (8-stage composition: URL+boiler+PII+dedup+"
         "quality+cap+split)", Q.q_curation_web(spark, SF_DIR))
    dump("q_cell_pyramid (hierarchical reaggregation: raw rows shuffle "
         "once, parents aggregate the previous level)",
         Q.q_cell_pyramid(spark, SF_DIR))

    # round-5 session-2 shapes: sketches reduce map-side into bounded
    # register tables; the diamond/segment joins must show NO Python
    # stage anywhere (codegen cover + integer refine); the HLL pyramid
    # max-merges registers level to level
    dump("q_hll_distinct (ONE register hash-agg, map-side max partials)",
         Q.q_hll_distinct(spark, SF_DIR))
    dump("q_hist_quantiles (register table <= bins rows/group; window "
         "over the sketch, never the data)",
         Q.q_hist_quantiles(spark, SF_DIR))
    dump("q_poly_join (zero-Python grid join: codegen cover, cell "
         "equi-join, integer SAT refine)", Q.q_poly_join(spark, SF_DIR))
    dump("q_segment_join (zero-Python grid join: integer CCW refine)",
         Q.q_segment_join(spark, SF_DIR))
    dump("q_cell_distinct_pyramid (register max-merge per zoom level)",
         Q.q_cell_distinct_pyramid(spark, SF_DIR))
    dump("q_phrase_search (scan-stage term filter, position equi-joins)",
         Q.q_phrase_search(spark, SF_DIR))

    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("PLANS.md written")
    spark.stop()


if __name__ == "__main__":
    main()
