"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout.  Each run starts one fresh Spark
driver process (``measure.py``) at local[nproc] on inputs made from the
seed, drives it with three concurrent clients running the workload's
own op (two warm-up rounds, then timed rounds for S seconds, at least
one) and checks every op's output against an oracle.  ``--trace 0`` reports the
end-to-end metrics of BENCHMARK.json; ``--trace 1`` reports the
per-layer metrics, read from the Spark event log of a traced session
that follows the untraced one in the same process.  The last stdout
line is the result object; the line before it records the driver's
details and the host's state (DRAM probe before and after, nproc, load
average), never gated on.

Exits non-zero without a result when the program cannot be run.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
DEADLINE_S = 170  # the whole run, oracles included


def cpu_ticks() -> list[int]:
    """The machine's aggregate /proc/stat CPU counters (user .. steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def host_state() -> dict:
    from bench import dram_probe
    return {"dram_gbps": dram_probe(), "loadavg": list(os.getloadavg()),
            "nproc": len(os.sched_getaffinity(0)), "cpu_ticks": cpu_ticks()}


def session_pids(sid: int) -> list[int]:
    pids = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            # fields[0]: state (Z = exited, awaiting its parent's wait);
            # fields[3]: session id
            if fields[0] != "Z" and int(fields[3]) == sid:
                pids.append(int(d))
    return pids


def stop_session(sid: int) -> None:
    """Kill whatever the driver left running (JVM, Python workers) and
    wait until it is gone."""
    for _ in range(100):
        pids = session_pids(sid)
        if not pids:
            return
        for p in pids:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)
    raise RuntimeError(f"processes of session {sid} did not exit")


def measure(args, work_dir: str, deadline: float) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "measure.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work-dir", work_dir]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True, cwd=ROOT)
    try:
        out, _ = proc.communicate(timeout=max(deadline - time.monotonic(), 1))
    except subprocess.TimeoutExpired:
        out = None
    finally:
        stop_session(proc.pid)
        proc.wait()
    if out is None or proc.returncode != 0:
        raise RuntimeError(f"driver {'timed out' if out is None else 'failed'}"
                           f" (exit {proc.returncode})")
    return json.loads(out.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "geo_sim_processing_a_spark")):
        print("the geo_sim_processing_a_spark package is not in this checkout",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        host_before = host_state()
        run = measure(args, work, deadline)
        host_after = host_state()
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # still in use by another run
            os.rmdir(os.path.dirname(work))

    if "e2e" not in run:
        metrics = {}  # no op completed: nothing was measured
    elif args.trace:
        # a layer the workload never enters did no work there (0); a
        # span it entered that matched no Spark job is left out
        layers = run["layers"]
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]
                   if layers.get(m["name"], 0.0) is not None}
    else:
        metrics = {m["name"]: {"value": run["e2e"][m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    # share of the machine's CPU time the hypervisor gave to other
    # guests while the run was on (steal), and busy share (all but idle,
    # iowait and steal)
    d = [a - b for a, b in zip(host_after.pop("cpu_ticks"),
                               host_before.pop("cpu_ticks"))]
    total = sum(d) or 1
    host_after["steal_share"] = d[7] / total
    host_after["busy_share"] = (total - d[3] - d[4] - d[7]) / total
    print(json.dumps({"host_before": host_before, "host_after": host_after,
                      "driver": run.get("detail")}))
    print(json.dumps({"correct": run["failed"] == 0 and bool(metrics),
                      "attempted": run["attempted"], "failed": run["failed"],
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
