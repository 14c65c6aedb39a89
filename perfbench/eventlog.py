"""Per-span Spark metrics from an uncompressed Spark event log.

A span is a Spark job group: the benchmark calls
``sparkContext.setJobGroup("<span>#<op>")`` around each call into a
layer.  Every stage a job of that group ran is charged to the span; the
stage accumulables are summed per span.  Stages the scheduler skipped
(already-computed shuffle outputs) never complete and are not counted.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

# stage accumulable -> (span metric, scale to the metric's unit)
ACCUMULABLES = {
    "internal.metrics.executorRunTime": ("task_s", 1e-3),        # ms
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),                # ms
    "time to run Python workers": ("py_s", 1e-3),                # ms
    "data sent to Python workers": ("py_bytes_in", 1),
    "data returned from Python workers": ("py_bytes_out", 1),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.output.bytesWritten": ("bytes_written", 1),
}
PY_MARKER = "data sent to Python workers"


def read_events(log_dir: str):
    """Yield every event of every event-log file under ``log_dir``
    (Spark 4 writes a rolling ``eventlog_v2_*/events_<n>_*`` directory;
    a plain single-file log is read the same way)."""
    files = []
    for root, _, names in os.walk(log_dir):
        for n in names:
            if n.startswith(".") or n.startswith("appstatus"):
                continue
            files.append(os.path.join(root, n))

    def order(path):  # events_<n>_<app>: roll index order
        parts = os.path.basename(path).split("_")
        return (os.path.dirname(path),
                int(parts[1]) if len(parts) > 2 and parts[1].isdigit() else 0)

    for path in sorted(files, key=order):
        with open(path, encoding="utf-8") as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def span_metrics(events) -> dict[str, dict]:
    """job group id -> {"jobs", "stages", "py_tasks", <ACCUMULABLES
    metrics>}.  ``py_tasks`` is the task count of the stages that ran a
    Python worker (for a kernel stage: its partition count)."""
    group_of_stage: dict[int, str] = {}
    jobs: dict[str, int] = defaultdict(int)
    out: dict[str, dict] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            jobs[group] += 1
            for sid in e.get("Stage IDs", []):
                group_of_stage.setdefault(sid, group)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            group = group_of_stage.get(info["Stage ID"])
            if group is None or "Failure Reason" in info:
                continue
            m = out.setdefault(group, defaultdict(float))
            m["stages"] += 1
            ran_python = False
            for acc in info.get("Accumulables", []):
                name = acc.get("Name")
                if name == PY_MARKER:
                    ran_python = True
                if name in ACCUMULABLES:
                    key, scale = ACCUMULABLES[name]
                    m[key] += float(acc.get("Value", 0)) * scale
            if ran_python:
                m["py_tasks"] += info.get("Number of Tasks", 0)
    for group, n in jobs.items():
        out.setdefault(group, defaultdict(float))["jobs"] = n
    return {g: dict(m) for g, m in out.items()}
