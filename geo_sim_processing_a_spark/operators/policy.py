"""Execution policy: the two tuning decisions every operator sends
through here — how many tasks a stage gets (:func:`floor`) and whether
a frame several consumers read is cut from its plan (:func:`share`).

Each decision reads the plan only and never runs a Spark job: the
size estimate, the physical plan's Exchanges, the optimized plan's
root, and the planned input splits of an Exchange-free plan.  (Asking
an Exchange-bearing plan for its partition count makes AQE run the
upstream stages to answer; the real action then runs them again.)

The rule.  P is ``defaultParallelism``.  A frame is *small* when its
estimate is known and below P x
``spark.sql.adaptive.advisoryPartitionSizeInBytes`` (4 MB at local[4]
under ``get_spark``): AQE would coalesce a shuffle of it below P tasks.

``floor(df, if_big)``:
  1. ``if_big`` and small: keep;
  2. no Exchange: ``repartition(P)`` when it plans fewer than P splits
     (a small parquet file is ONE split; at scale this is a no-op);
  3. root (through Project/Filter) is an explicit repartition to >= P:
     keep — AQE never coalesces a user-specified count;
  4. any other Exchange: ``repartition(P)`` only when small.

``share(df, if_big)``: ``localCheckpoint(eager=False)`` unless
``if_big`` and small.  The first consumer fills the cut, the rest read
it; blocks are freed with the result, nothing pins the cache manager.
The cut truncates lineage: on a multi-executor cluster a lost executor
fails the job instead of recomputing.  Planning a cut over an Exchange
makes AQE run the upstream map stages at the call; that is the frame's
own work and is not repeated.

Two kinds of floor (CIDR 2022, "Accelerating Python UDFs in Vectorized
Query Execution"): a Python stage costs per row, not per byte, so
kernel stages floor unconditionally; JVM-only scan chains pass
``if_big=True`` and leave a small frame to AQE's byte-based sizing.
Round-6 interleaved A/B behind ``if_big`` (count sink, sf0.1): the
curate_web raw-scan floor 3.9 s floored vs 2.7 s not (sf1.0: 10 s not
vs 6-7 s floored); lm_perplexity floor + token cut 2.7 s vs 1.0 s
without (a 10x corpus flips the sign); pip_join point floor 1.31 s vs
0.81 s; curation survivor cut: exact path 1.42 s uncut vs 1.59 s cut
(10x corpus 3.83 vs 4.26 s), fuzzy path 1.19 s cut vs 1.49 s uncut.  A
cut blocks column pruning and a floor shuffles raw text a pruned plan
barely touches; both win once the corpus outgrows per-task overhead.

Each decision logs one INFO record on this module's logger with the
attributes ``caller`` (module.function), ``decision`` and
``estimate`` (bytes, None when unknown).
"""

from __future__ import annotations

import logging
import sys

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame

log = logging.getLogger(__name__)


def size_estimate(df: DataFrame) -> int | None:
    """Catalyst's optimized-plan size estimate in bytes; None when
    unknown (reported as Long.MaxValue, or saturated join products)."""
    try:
        size = int(str(df._jdf.queryExecution().optimizedPlan()
                       .stats().sizeInBytes()))
    except Py4JError:  # stats are best-effort
        return None
    return size if size < 1 << 50 else None


def _small(df: DataFrame, est: int | None) -> bool:
    spark = df.sparkSession
    advisory = spark._jsparkSession.sessionState().conf().getConf(
        spark._jvm.org.apache.spark.sql.internal.SQLConf
        .ADVISORY_PARTITION_SIZE_IN_BYTES())
    return (est is not None
            and est < spark.sparkContext.defaultParallelism * int(advisory))


def _has_exchange(node) -> bool:
    """Shuffle, broadcast or subquery anywhere in the physical plan
    (AQE wraps only plans that have one)."""
    name = node.nodeName()
    if ("Exchange" in name or name == "AdaptiveSparkPlan"
            or node.subqueries().size()):
        return True
    kids = node.children()
    return any(_has_exchange(kids.apply(i)) for i in range(kids.size()))


def _explicit_parts(df: DataFrame) -> int:
    """Count of an explicit repartition at the optimized plan's root
    (through Project/Filter); 0 when there is none."""
    node = df._jdf.queryExecution().optimizedPlan()
    while node.nodeName() in ("Project", "Filter"):
        node = node.child()
    name = node.nodeName()
    if ((name == "Repartition" and node.shuffle())
            or (name == "RepartitionByExpression"
                and node.optNumPartitions().isDefined())):
        return int(node.numPartitions())
    return 0


def _record(verb: str, decision: str, est: int | None) -> None:
    f = sys._getframe(2)
    caller = (f.f_globals.get("__name__", "?").rsplit(".", 1)[-1]
              + "." + f.f_code.co_name)
    log.info("%s %s: %s (estimate=%s)", verb, caller, decision, est,
             extra={"caller": caller, "decision": decision, "estimate": est})


def floor(df: DataFrame, if_big: bool = False) -> DataFrame:
    """``df`` or ``df.repartition(P)``, by the rule above."""
    p = df.sparkSession.sparkContext.defaultParallelism
    est = size_estimate(df)
    small = _small(df, est)
    qe = df._jdf.queryExecution()
    if if_big and small:
        decision = "keep"
    elif not _has_exchange(qe.executedPlan()):
        decision = "floor" if qe.toRdd().getNumPartitions() < p else "keep"
    elif _explicit_parts(df) >= p:
        decision = "keep"
    else:
        decision = "floor" if small else "keep"
    _record("floor", decision, est)
    return df.repartition(p) if decision == "floor" else df


def share(df: DataFrame, if_big: bool = False) -> DataFrame:
    """``df.localCheckpoint(eager=False)``, or ``df`` itself when
    ``if_big`` is set and the frame is small."""
    est = size_estimate(df)
    keep = if_big and _small(df, est)
    _record("share", "keep" if keep else "cut", est)
    return df if keep else df.localCheckpoint(eager=False)
