"""operators/policy.py: the parallelism floor and the plan cut decide
from the plan alone (no Spark job), follow the documented rule, and
log one record per decision.  Plus a source guard: no operator places
its own cut, partition-count read or size-estimate read."""

import logging
import os
import pathlib
import uuid

import pandas as pd
import pytest

from geo_sim_processing_a_spark.operators.policy import floor, share

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")
PKG = pathlib.Path(__file__).resolve().parent.parent / "geo_sim_processing_a_spark"


def _jobs_started(spark, fn):
    """(fn(), number of Spark jobs fn started)."""
    sc = spark.sparkContext
    group = f"policy-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc._jsc.clearJobGroup()


def _one_split_scan(spark, path, n=1000):
    spark.range(n).coalesce(1).write.parquet(str(path))
    df = spark.read.parquet(str(path))
    assert df.rdd.getNumPartitions() == 1
    return df


def test_floor_spreads_one_split_scan_and_keeps_wide_range(spark, tmp_path):
    p = spark.sparkContext.defaultParallelism
    scan = _one_split_scan(spark, tmp_path / "t")
    assert floor(scan).rdd.getNumPartitions() == p
    wide = spark.range(0, 1000, 1, p)
    assert floor(wide) is wide


def test_if_big_keeps_small_but_floors_and_shares_big(spark, tmp_path):
    scan = _one_split_scan(spark, tmp_path / "t")
    assert floor(scan, if_big=True) is scan
    assert share(scan, if_big=True) is scan
    # 8 bytes x 4M rows: a 32 MB estimate, above P x 1 MB advisory
    big = spark.range(0, 1 << 22, 1, 1)
    floored = floor(big, if_big=True)
    assert floored is not big
    assert (floored.rdd.getNumPartitions()
            == spark.sparkContext.defaultParallelism)
    cut = share(big, if_big=True)
    assert cut._jdf.queryExecution().optimizedPlan().nodeName() == "LogicalRDD"


def test_floor_runs_no_job_on_exchange_plans(spark):
    """Asking an Exchange-bearing plan for its partition count makes
    AQE run its upstream stages; the policy decides from the plan."""
    from pyspark.sql import functions as F

    from geo_sim_processing_a_spark.operators.curation import dedup_reps
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    _, n = _jobs_started(spark, lambda: floor(dedup_reps(docs)))
    assert n == 0

    p = spark.sparkContext.defaultParallelism

    def twice(batches):
        for pdf in batches:
            yield pd.DataFrame({"doc_id": pdf["doc_id"] * 2})

    mapped = (docs.select("doc_id").mapInPandas(twice, "doc_id long")
              .where(F.col("doc_id") > 0).repartition(p))
    sel = mapped.select("doc_id")
    out, n = _jobs_started(spark, lambda: floor(sel))
    assert n == 0
    assert out is sel  # an explicit repartition to P: AQE keeps its count


def test_floor_decision_does_not_depend_on_aqe(spark):
    from geo_sim_processing_a_spark.operators.curation import dedup_reps
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    key = "spark.sql.adaptive.enabled"
    before = spark.conf.get(key)
    decisions = []
    try:
        for aqe in ("true", "false"):
            spark.conf.set(key, aqe)
            reps = dedup_reps(docs)
            decisions.append(floor(reps) is reps)
    finally:
        spark.conf.set(key, before)
    assert decisions[0] == decisions[1]


def test_exact_curation_does_not_refloor_survivor_frame(spark):
    """repetition_stats floors with if_big: q_curation's small
    survivor frame keeps its tasks (no round-robin shuffle of its text)
    instead of being spread again after the dedup shuffle."""
    from geo_sim_processing_a_spark.plans.driver_queries import q_curation
    plan = q_curation(spark, SF_DIR)._jdf.queryExecution().executedPlan()
    assert "RoundRobinPartitioning" not in plan.toString()


def test_one_log_record_per_decision_with_caller_and_estimate(spark, caplog,
                                                             tmp_path):
    scan = _one_split_scan(spark, tmp_path / "t")
    caplog.set_level(logging.INFO,
                     logger="geo_sim_processing_a_spark.operators.policy")
    floor(scan)
    share(scan, if_big=True)
    recs = [r for r in caplog.records if hasattr(r, "decision")]
    assert [r.decision for r in recs] == ["floor", "keep"]
    me = "test_one_log_record_per_decision_with_caller_and_estimate"
    for r in recs:
        assert r.caller.endswith("." + me)
        assert isinstance(r.estimate, int) and r.estimate > 0
        assert str(r.estimate) in r.getMessage()


# Where a bare cut may stay, and why.  No other module may cut, read a
# partition count or read a size estimate on its own.
_BARE_CUTS = {
    "graph.py": "per-iteration lineage cuts: the label/rank plan would "
                "otherwise grow with every round",
    "bpe.py": "per-merge-round lineage cuts: 50 merges would stack 50 "
              "plan copies",
    "packing.py": "correctness cut: _pid must not be re-derived per "
                  "consumer, or range boundaries could be re-sampled",
}


@pytest.mark.parametrize("token", ["localCheckpoint(", "getNumPartitions",
                                   "sizeInBytes"])
def test_tuning_reads_only_in_policy(token):
    allowed = {"policy.py"}
    if token == "localCheckpoint(":
        allowed |= set(_BARE_CUTS)
    offenders = sorted(str(f.relative_to(PKG)) for f in PKG.rglob("*.py")
                       if token in f.read_text() and f.name not in allowed)
    assert not offenders, (token, offenders)
