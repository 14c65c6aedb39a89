"""Physical-plan quality gates (SURVEY.md §4.2): predicate pushdown and
column pruning reach the parquet scans, small dimensions broadcast,
whole-stage codegen covers the relational queries, and the kernel
stage has exactly one shuffle."""

import os

from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


import pytest


@pytest.fixture(autouse=True)
def _no_foreign_cache(spark):
    """Plan-shape assertions (ReadSchema pruning, Exchange counts) are
    about the COLD plan; a cached relation left behind by another test
    module (e.g. test_dataops' module-scoped .cache() fixtures) would
    be substituted by the cache manager and change the shapes."""
    spark.catalog.clearCache()
    yield


def test_filter_pushdown_to_parquet(spark):
    l = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q = l.where(F.col("l_shipdate") <= "1995-01-01").select("l_quantity", "l_shipdate")
    plan = plan_of(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: scan reads only the two referenced columns
    assert "ReadSchema: struct<l_quantity:double,l_shipdate:timestamp" in plan


def test_broadcast_join_in_q05(spark):
    from geo_sim_processing_a_spark.plans.driver_queries import q05_nation_volume
    plan = plan_of(q05_nation_volume(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_pip_join_broadcasts_polygons(spark):
    from geo_sim_processing_a_spark.plans.driver_queries import (
        _boxes_from_nation, _points_from_orders)
    from geo_sim_processing_a_spark.operators.spark_joins import pip_join
    df = pip_join(_points_from_orders(spark, SF_DIR), _boxes_from_nation(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan_of(df)


def test_pip_join_single_exchange_after_broadcast(spark):
    """PIP join dedups by construction (one cell per point): exactly
    ONE hash-partitioned Exchange (the groupBy(cell) into the refine
    kernel) and no post-refine distinct (round-3 VERDICT item #2).
    Since r6 a round-robin parallelism-floor exchange may precede the
    scan (single-split inputs; no-op at scale) — it is not a
    key-shuffle and stays excluded from the count."""
    from geo_sim_processing_a_spark.plans.driver_queries import (
        _boxes_from_nation, _points_from_orders)
    from geo_sim_processing_a_spark.operators.spark_joins import pip_join
    df = pip_join(_points_from_orders(spark, SF_DIR), _boxes_from_nation(spark, SF_DIR))
    plan = plan_of(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    n_shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert n_shuffles <= 2, plan


def test_whole_stage_codegen_on_relational(spark):
    from geo_sim_processing_a_spark.plans.driver_queries import q01_pricing_summary
    df = q01_pricing_summary(spark, SF_DIR)
    df.collect()  # AQE finalizes the plan (incl. codegen nodes) on execution
    plan = plan_of(df)
    # codegen stages appear as "*(n)" markers in the executed plan
    assert "*(" in plan and "HashAggregate" in plan


def test_kernel_stage_single_shuffle(spark):
    """The simplify_tiles plan downstream of the covered geoms must
    contain exactly ONE exchange (the (cell,salt) repartition)."""
    from geo_sim_processing_a_spark.plans.pipeline import (
        pages_to_covered_geoms, simplify_tiles)
    from geo_sim_processing_a_spark.sources.spark_pages import build_pages
    pages = build_pages(spark, 100, partitions=2)
    covered = pages_to_covered_geoms(pages, res=6)
    out = simplify_tiles(covered, 0.004, "sherbend")
    plan = plan_of(out)
    n_exchanges = plan.count("Exchange")
    assert n_exchanges == 1, plan


def test_salting_splits_hot_cells(spark):
    """G5.4 second half: with a hot cell and a small target, no
    (cell,salt) kernel group exceeds ~2x target rows of OWNED work."""
    import numpy as np
    from geo_sim_processing_a_spark.operators.tiling import salt_by_cell
    # 2000 points all in one cell
    rows = [(f"u{i}", 0, [0.5 + (i % 97) * 1e-6], [0.5 + (i % 89) * 1e-6], 123, True)
            for i in range(2000)]
    df = spark.createDataFrame(
        rows, "url string, kind tinyint, xs array<double>, ys array<double>, "
              "cell long, is_owner boolean")
    salted = salt_by_cell(df, target_rows_per_task=100)
    counts = (salted.where("is_owner").groupBy("cell", "salt").count().collect())
    assert len(counts) >= 10  # hot cell split across many salts
    for r in counts:
        assert r["count"] <= 200, r  # no owner group above 2x target


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Co-located join: both sides bucketed+sorted on the key -> the
    SortMergeJoin plans with ZERO Exchange (no shuffle at any scale)."""
    from geo_sim_processing_a_spark.sources.bucketed import (
        colocated_join, write_bucketed)

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        left = spark.range(0, 10_000).selectExpr("id as k", "id * 2 as a")
        right = spark.range(0, 10_000).selectExpr("id as k", "id * 3 as b")
        write_bucketed(left, "bk_left", "k", n_buckets=8)
        write_bucketed(right, "bk_right", "k", n_buckets=8)
        joined = colocated_join(spark, "bk_left", "bk_right", "k")
        assert joined.count() == 10_000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        # control: the same join on plain (unbucketed) frames DOES shuffle
        plain = left.join(right, "k")
        plain.count()
        plan2 = plain._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in plan2
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bk_left")
        spark.sql("DROP TABLE IF EXISTS bk_right")


def test_knn_plans_cogroup_not_join(spark):
    """kNN must plan a cogrouped refine (FlatMapCoGroupsInPandas) —
    never a join of queries x candidates, which materializes the
    per-cell cartesian product (round-3 fix; the sf0.1 oracle pass
    hung on it)."""
    from geo_sim_processing_a_spark.plans.driver_queries import q_knn
    df = q_knn(spark, SF_DIR)
    plan = plan_of(df)
    assert "FlatMapCoGroupsInPandas" in plan, plan
    for node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert node not in plan, node


def test_range_join_plans_no_cartesian(spark):
    """The spatial range join must plan as an equi-join on cell —
    never CartesianProduct / BroadcastNestedLoopJoin."""
    from geo_sim_processing_a_spark.plans.driver_queries import q_range_join
    df = q_range_join(spark, "/root/testdata/sf0.001")
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_ngram_topk_single_shuffle_takeordered(spark):
    """Corpus n-gram stats: explode pipelines inside the scan stage,
    ONE gram hash-agg exchange (plus, since r6, the round-robin
    parallelism-floor exchange for single-split scans — a no-op at
    scale), top-k via TakeOrdered — never a full sort of the gram
    distribution."""
    from geo_sim_processing_a_spark.plans.driver_queries import q_ngram_topk
    plan = plan_of(q_ngram_topk(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Exchange") <= 2
    assert "TakeOrderedAndProject" in plan
    assert "ReadSchema: struct<text:string>" in plan  # pruned to 1 col


def test_doc_split_bucket_in_scan_stage(spark):
    """Deterministic split: the md5 bucket is a scalar Project fused
    with the scan (no UDF, no extra exchange beyond the agg + the
    final tiny ordered output)."""
    from geo_sim_processing_a_spark.plans.driver_queries import q_doc_split
    plan = plan_of(q_doc_split(spark, SF_DIR))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange") == 2  # agg + output ordering only
    assert "partial_count" in plan  # map-side combine


def test_contamination_broadcasts_probe_grams(spark):
    """The probe-gram set is broadcast (tiny side), so the corpus-side
    explode joins map-side: no shuffle before the per-doc agg and no
    Python evaluator anywhere."""
    from geo_sim_processing_a_spark.plans.driver_queries import q_contamination
    plan = plan_of(q_contamination(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "SortMergeJoin" not in plan


def test_curation_udf_free_mapside_dedup(spark):
    """The whole curation composition stays JVM-side, and the exact
    dedup is a partial-aggregated min_by (map-side combine), not a
    window sort over every row.  The min_by assertion runs on the dedup
    stage's own plan, since the composition may cut its plan at reuse
    points (localCheckpoint): the fuzzy/web paths cut only when
    ``_is_big`` says the survivor frame is big, the exact path of
    q_curation never cuts.  The composition plan is checked
    UDF/Window-free."""
    from geo_sim_processing_a_spark.operators.curation import dedup_reps
    from geo_sim_processing_a_spark.plans.driver_queries import q_curation
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    dplan = plan_of(dedup_reps(docs))
    assert "partial_min_by" in dplan
    assert "Window" not in dplan
    plan = plan_of(q_curation(spark, SF_DIR))
    assert "EvalPython" not in plan
    assert "Window" not in plan


# ---------------------------------------------------------------------------
# round-5 plan-lint sweep: EVERY driver query, automatically
# ---------------------------------------------------------------------------

import re as _re

from geo_sim_processing_a_spark.plans.driver_queries import all_queries as _all_q

# brute-force exact top-k is INTENTIONALLY a broadcast nested-loop of a
# tiny query set against the corpus (the IVF query is the scale path);
# everything else must never plan one.
_ALLOW_BNLJ = {"q_embedding_topk"}


def _tree_nodes(plan: str):
    """(depth, text) per physical-plan tree line; depth from the 3-char
    tree markers ('+- ', ':- ', ':  ', '   ')."""
    nodes = []
    for raw in plan.splitlines():
        if not raw.strip() or raw.startswith("=="):
            continue
        m = _re.match(r"^((?:\s{3}|:\s{2}|\+- |:- )*)(.+)$", raw)
        if not m:
            continue
        text = _re.sub(r"^\*\(\d+\) ", "", m.group(2).strip())
        nodes.append((len(m.group(1)) // 3, text))
    return nodes


@pytest.mark.parametrize("name", sorted(_all_q()))
def test_plan_lint_sweep(spark, name):
    """Scale-killer lint over the FULL query battery (VERDICT r4 #4):
    no CartesianProduct, no BroadcastNestedLoopJoin (allowlisted brute
    top-k excepted), no row-at-a-time Python evaluator, and no Exchange
    whose direct child is another Exchange (a shuffle feeding a
    shuffle = a misplaced repartition that re-shuffles 100% of rows)."""
    df = _all_q()[name](spark, "/root/testdata/sf0.001")
    plan = plan_of(df)
    assert "CartesianProduct" not in plan, f"{name}:\n{plan}"
    if name not in _ALLOW_BNLJ:
        assert "BroadcastNestedLoopJoin" not in plan, f"{name}:\n{plan}"
    assert "BatchEvalPython" not in plan, f"{name} uses a row-at-a-time Python UDF:\n{plan}"
    nodes = _tree_nodes(plan)
    for i, (d, text) in enumerate(nodes):
        if not text.startswith("Exchange"):
            continue
        for d2, t2 in nodes[i + 1:]:
            if d2 <= d:
                break
            if d2 == d + 1:
                assert not t2.startswith("Exchange"), \
                    f"Exchange directly feeding Exchange in {name}:\n{plan}"
