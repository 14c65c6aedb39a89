"""LOCAL-mode SparkSession factory with the engine's standard
scale-oriented conf.

Settings chosen for 100 TB-scale behavior and verified locally:
 - AQE on (coalesce + skew-join backstop behind our explicit salting)
 - Arrow transport for every pandas UDF (the only Python boundary)
 - shuffle partitions sized to cores

This factory hardcodes master=local[N] (builder-set properties BEAT
spark-submit flags, so it is NOT the cluster entrypoint): a cluster
deployment builds its own SparkSession via spark-submit/cluster
tooling and only needs the non-default confs below (AQE advisory
size, Arrow batch size) — nothing in the engine's operators imports
this module; they all take the session as an argument.

Python workers start from ``daemon_launcher`` instead of the stock
``pyspark.daemon``.  Stock workers import pyspark from the pyspark.zip,
py4j zip and Spark jar the JVM puts first on their PYTHONPATH, and each
task's ``importlib.invalidate_caches()`` re-reads all of those zip
directories: a fixed 0.15-0.26 CPU-s per Python task before its first
row (4-core x86 host, CPython 3.11).  The launcher drops those
archives only when the rest of the path resolves pyspark and py4j to
unpacked copies with a byte-identical ``version.py`` (a pip-installed
pyspark of the JVM's version), then execs the stock daemon; when that
precondition fails it execs the stock daemon on the JVM's PYTHONPATH
unchanged.  The stock daemon is configured instead when the workers
could not import this package at start-up (a driver run from outside
the checkout with the package neither on PYTHONPATH nor installed).
"""

from __future__ import annotations

import os
import site

from pyspark.sql import SparkSession

from . import daemon_launcher

# the directory the package imports from
_PKG_PARENT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def _daemon_module() -> str:
    """``spark.python.daemon.module``: the launcher when the Python
    workers can import this package, else the stock daemon.  Local
    workers start in the driver's working directory with its PYTHONPATH
    and the interpreter's site-packages on their path."""
    visible = [os.getcwd(), *site.getsitepackages(),
               *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    if _PKG_PARENT in {os.path.abspath(p) for p in visible if p}:
        return daemon_launcher.__name__
    return daemon_launcher.DAEMON


def get_spark(app: str = "geo_sim_spark", cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    # one BLAS thread per Python worker: the kernels issue millions of
    # tiny numpy ops; N workers x default-all-cores OpenBLAS spin
    # threads thrash catastrophically (measured 2x wall at local[32]).
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    return (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # pin the session TZ: date_trunc/unix_timestamp in the
        # timeseries oracles assume the DuckDB twin's TZ-naive epoch
        # semantics — host-TZ-independent only with an explicit UTC
        # session zone (ADVICE r5)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE coalescing is byte-advised; geometry-kernel stages are
        # CPU-bound per row, not per byte — a small advisory size keeps
        # applyInPandas stages at full parallelism (measured 3x on the
        # kernel stage) while still merging truly-empty partitions.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", _daemon_module())
        .getOrCreate()
    )
