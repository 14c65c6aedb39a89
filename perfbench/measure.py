"""One measured run of one workload in a fresh Spark driver process.

    python3 perfbench/measure.py --workload W --seed N --seconds S \
        --trace 0|1 --work-dir DIR

Started by ``run.py``.  Prints one JSON object as its last stdout line:
op counts, the end-to-end metrics and, with ``--trace 1``, the
per-layer metrics.

The load is a closed loop of CLIENTS driver threads, each running the
workload's op back to back.  Untraced session: session start -> seeded
inputs -> WARMUP_OPS ops (the first also collects full results for the
once-per-run check) -> timed ops for S seconds.  With ``--trace 1`` the
SparkContext is then restarted in the same JVM with the event log on,
and one warm-up op and S seconds of timed ops run with every span
tagged as a job group.
Oracles and checks run after the sessions, outside every timed window.
"""

from __future__ import annotations

import argparse
import contextlib
import itertools
import json
import os
import statistics
import sys
import time
import traceback
from concurrent.futures import ProcessPoolExecutor, ThreadPoolExecutor
from multiprocessing import get_context

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Load: CLIENTS driver threads running the workload's op concurrently.
# One op alone leaves half of the 4 cores idle in driver-serial planning
# and job hand-offs, and on a shared host the latency of those hand-offs,
# not the work, sets its time: sequential op times of one build ranged
# 5.2-8.6 s across runs (quartile spread 30% of the median) while three
# concurrent ops took 12 s +-5% in the same runs.
CLIENTS = 3
# The first ops of a fresh JVM pay class loading, codegen, JIT compiles
# and the Python worker start: three concurrent cold ops take ~25 s,
# the next three ~12 s.  Two rounds of the closed loop warm up.
WARMUP_OPS = 2 * CLIENTS
DRIVER_MEM = "2g"  # ample for these inputs (the session factory's default is 8g)


def process_start_epoch() -> float:
    """Wall-clock start time of this process (from /proc, 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def descendants() -> list[int]:
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    out, frontier = [], [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def peak_rss_mb(match: bytes) -> float:
    """Highest VmHWM (MB) among live descendants whose command line
    contains ``match``."""
    best = 0.0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if match not in f.read():
                    continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        best = max(best, int(line.split()[1]) / 1024)
        except OSError:
            continue
    return best


class Op:
    def __init__(self, index: int):
        self.index = index
        self.walls: dict[str, float] = {}
        self.result: dict = {}
        self.wall = 0.0
        self.error: str | None = None


class Spans:
    """Times each span of one op; when tracing, also tags the span's
    Spark jobs with the job group ``<span>#<op index>``."""

    def __init__(self, sc, op: Op, traced: bool):
        self.sc, self.op, self.traced = sc, op, traced

    @contextlib.contextmanager
    def __call__(self, name: str):
        if self.traced:
            self.sc.setJobGroup(f"{name}#{self.op.index}", name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.op.walls[name] = time.perf_counter() - t0
            if self.traced:
                self.sc.setLocalProperty("spark.jobGroup.id", None)


class EventSeries:
    """Per-op event-log metrics of a span, reduced to a median over the
    timed ops.  An action span whose ops matched no Spark job is
    recorded in ``missing`` and yields None, never 0."""

    def __init__(self, by_group: dict):
        self.by_group = by_group
        self.missing: set[str] = set()

    def series(self, ops, span: str):
        def get(metric: str, required: bool = True):
            vals = []
            for o in ops:
                m = self.by_group.get(f"{span}#{o.index}")
                if m is None or not m.get("jobs"):
                    if required:
                        self.missing.add(span)
                        return None
                    m = {}
                vals.append(m.get(metric, 0.0))
            return statistics.median(vals)
        return get


class Ctx:
    """Per-run state the steps share."""

    def __init__(self, spark, seed: int, work_dir: str):
        self.spark, self.seed, self.work_dir = spark, seed, work_dir
        self.data_dir = os.path.join(work_dir, "data")
        self._n_dirs = itertools.count(1)  # next() is atomic: ops may run in threads
        self._tile = {}

    def fresh_dir(self, prefix: str) -> str:
        return os.path.join(self.work_dir, "out", f"{prefix}-{next(self._n_dirs)}")

    @property
    def windows(self) -> range:
        """The run's page-window indices, one per client."""
        return range(self.seed * CLIENTS, (self.seed + 1) * CLIENTS)

    def tile_oracles(self, n_pages: int) -> dict[int, dict]:
        """Window index -> replayed tile counters, one process per window
        (the replay is single-threaded Python; it runs after the session
        has stopped, on otherwise idle cores)."""
        from workloads import tile_oracle
        if n_pages not in self._tile:
            ws = list(self.windows)
            with ProcessPoolExecutor(len(ws), mp_context=get_context("spawn")) as pool:
                self._tile[n_pages] = dict(zip(ws, pool.map(tile_oracle, ws,
                                                            [n_pages] * len(ws))))
        return self._tile[n_pages]

    def oracle_rows(self, query: str) -> tuple:
        from geo_sim_processing_a_spark.plans.driver_queries import all_oracles
        from workloads import duckdb_rows
        return duckdb_rows(self.data_dir, all_oracles()[query])


def _brief(d: dict) -> dict:
    return {k: len(v[0]) if isinstance(v, tuple) else v for k, v in d.items()}


def run_op(ctx, steps, index: int, traced: bool, full_check: bool) -> Op:
    op = Op(index)
    spans = Spans(ctx.spark.sparkContext, op, traced)
    t0 = time.perf_counter()
    try:
        for step in steps:
            # any CLIENTS consecutive ops run on distinct page windows
            op.result[step.name] = step.run(ctx, spans, full_check,
                                            ctx.windows[index % CLIENTS])
    except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
        op.error = traceback.format_exc()
        print(op.error, file=sys.stderr)
    op.wall = time.perf_counter() - t0
    return op


def machine_cpu_sec() -> float:
    """Busy CPU seconds of the whole machine (user, nice, system, irq,
    softirq in /proc/stat).  The benchmark's processes are the only busy
    ones, and unlike a walk of the process tree this keeps the time of
    Python workers that exited or were re-parented during the window."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:8]]
    return (sum(t) - t[3] - t[4]) / os.sysconf("SC_CLK_TCK")


def run_phase(ctx, steps, ops: list, traced: bool, seconds: float,
              warmup_ops: int):
    """``warmup_ops`` ops, then timed ops until ``seconds`` have passed
    (at least one round), all in rounds of up to CLIENTS concurrent ops,
    each round waiting for all of its ops: every timed op runs beside the
    same number of others, and ops that run together have distinct
    indices modulo CLIENTS (distinct page windows).  Returns the warm-up
    ops, the timed ops, the wall-clock time the warm-up ended and the
    machine's CPU time over the timed rounds per timed op.  The first op
    of a run also collects full results for the once-per-run check."""
    def run(indices):
        return list(pool.map(
            lambda i: run_op(ctx, steps, i, traced, i == 0), indices))

    with ThreadPoolExecutor(CLIENTS) as pool:
        end = len(ops) + warmup_ops
        warm = []
        for start in range(len(ops), end, CLIENTS):
            warm += run(range(start, min(start + CLIENTS, end)))
        ops += warm
        warm_end = time.time()
        t_end = time.perf_counter() + seconds
        c0 = machine_cpu_sec()
        timed = []
        while not timed or time.perf_counter() < t_end:
            timed += run(range(len(ops) + len(timed), len(ops) + len(timed) + CLIENTS))
        cpu_per_op = (machine_cpu_sec() - c0) / len(timed)
    ops += timed
    return warm, timed, warm_end, cpu_per_op


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work-dir", required=True)
    args = ap.parse_args()
    t_start = process_start_epoch()

    from workloads import QUERY_TABLES, WORKLOADS, write_query_tables
    steps = WORKLOADS[args.workload]()
    log_dir = os.path.join(args.work_dir, "eventlog")
    tmp = os.path.join(args.work_dir, "tmp")
    os.makedirs(log_dir), os.makedirs(tmp)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # keep every temporary file of the JVMs and workers in the run's
        # directory (-XX:-UsePerfData: no /tmp/hsperfdata_* file)
        "SPARK_LOCAL_DIRS": tmp, "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS":
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"})

    from geo_sim_processing_a_spark.plans.session import get_spark

    cpus = len(os.sched_getaffinity(0))

    def session():
        spark = get_spark("perfbench", cpus=cpus, shuffle_partitions=cpus)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    # ---- untraced session: set-up and the end-to-end metrics ----
    ctx = Ctx(session(), args.seed, args.work_dir)
    start_s = time.time() - t_start
    if any(hasattr(s, "queries") for s in steps):
        write_query_tables(ctx.data_dir, args.seed, **QUERY_TABLES)
    ops: list[Op] = []
    warm, timed, warm_end, cpu_per_op = run_phase(
        ctx, steps, ops, False, args.seconds, WARMUP_OPS)
    setup_s = warm_end - t_start
    py_rss = peak_rss_mb(b"pyspark.daemon")
    versions = {"pyspark": ctx.spark.version, "java": ctx.spark._jvm.java.lang
                .System.getProperty("java.version")}
    traced_ops = []
    if args.trace:
        # ---- traced session in the same, already warm JVM: a new
        # SparkContext reads spark.* system properties, so it logs
        # events; one op restarts the Python workers ----
        ctx.spark.stop()
        props = {"spark.eventLog.enabled": "true",
                 "spark.eventLog.compress": "false",
                 "spark.eventLog.dir": f"file://{log_dir}"}
        for k, v in props.items():
            ctx.spark._jvm.java.lang.System.setProperty(k, v)
        ctx.spark = session()
        _, traced_ops, _, _ = run_phase(ctx, steps, ops, True, args.seconds, 1)
    jvm_rss = peak_rss_mb(b"java")
    t_stop = time.perf_counter()
    ctx.spark.stop()
    stop_s = time.perf_counter() - t_stop

    # ---- oracles and checks: after the sessions, outside every window ----
    t_oracle = time.perf_counter()
    expected = {s.name: s.expected(ctx) for s in steps}
    oracle_s = time.perf_counter() - t_oracle
    failed = 0
    for op in ops:
        bad = [s.name for s in steps if op.error is None
               and not s.verify(op.result[s.name], expected[s.name])]
        for name in bad:
            print(f"op {op.index}: {name} result {_brief(op.result[name])} "
                  f"!= expected {_brief(expected[name])}", file=sys.stderr)
        failed += bool(op.error or bad)
    good = [o for o in timed if o.error is None]
    good_traced = [o for o in traced_ops if o.error is None]
    if not good or (args.trace and not good_traced):
        print(json.dumps({"attempted": len(ops), "failed": failed}))
        return 0
    walls = [o.wall for o in good]
    detail = {
        "workload": args.workload, "seed": args.seed, "cpus": cpus,
        "versions": versions,
        "warmup_op_s": [round(o.wall, 4) for o in warm],
        "timed_op_s": [round(w, 4) for w in walls],
        # steadiness: median timed op over the median op of the last
        # warm-up round (the CLIENTS ops before the timed ones)
        "trend": statistics.median(walls) / statistics.median(
            o.wall for o in warm[-CLIENTS:]),
        "error_rate": failed / len(ops),
        "oracle_s": oracle_s, "stop_s": stop_s,
    }
    e2e = {
        "setup_s": setup_s,
        "op_s_p50": statistics.median(walls),
        "cpu_s_per_op": cpu_per_op,
        "py_peak_rss_mb": py_rss,
    }
    for s in steps:
        if hasattr(s, "headline"):
            detail.update(s.headline(good, expected[s.name]))
    layers = {}
    if args.trace:
        from eventlog import read_events, span_metrics
        ev = EventSeries(span_metrics(read_events(log_dir)))
        traced_p50 = statistics.median(o.wall for o in good_traced)
        detail["traced_op_s"] = [round(o.wall, 4) for o in traced_ops]
        layers = {"session.start_s": start_s,
                  "session.warmup_s": setup_s - start_s,
                  "jvm.peak_rss_mb": jvm_rss,
                  "trace.overhead_s": traced_p50 - e2e["op_s_p50"]}
        gc = [sum(m.get("gc_s", 0.0) for g, m in ev.by_group.items()
                  if g.endswith(f"#{o.index}")) for o in good_traced]
        layers["jvm.gc_s"] = statistics.median(gc)
        for s in steps:
            layers.update(s.layers(good_traced, ev, expected[s.name]))
        detail["missing_spans"] = sorted(ev.missing)
    print(json.dumps({"attempted": len(ops), "failed": failed, "e2e": e2e,
                      "layers": layers, "detail": detail}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
