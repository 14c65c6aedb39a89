"""Local mimic of the driver's correctness gate: run every queries()
entry and its DuckDB oracle side-by-side, compare row count + sorted
order-insensitive value multiset.  Usage:
    python tools/verify_oracles.py [sf_dir] [name_filter]
"""

from __future__ import annotations

import contextlib
import os
import subprocess
import sys
import tempfile

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@contextlib.contextmanager
def oracle_db(sf_dir):
    """DuckDB connection with one view per table of ``sf_dir``.  It
    spills to a private temp directory (DuckDB's default is ``./.tmp``
    in the working directory, and a brute-force oracle spills tens of
    GB before ``timeout`` stops it).  A watchdog process in its own session
    removes the directory once this process closes the pipe to it: on
    exit from the block, and also when the process is killed.  A signal
    handler or ``finally`` here cannot do that, because the handler
    never runs while a long DuckDB call holds the interpreter."""
    tmp = tempfile.mkdtemp(prefix="oracle_duckdb_")
    watchdog = subprocess.Popen(
        [sys.executable, "-c", "import shutil, sys; sys.stdin.read(); "
         "shutil.rmtree(sys.argv[1], ignore_errors=True)", tmp],
        stdin=subprocess.PIPE, start_new_session=True)
    con = duckdb.connect(config={"temp_directory": tmp})
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        yield con
    finally:
        con.close()
        watchdog.stdin.close()
        watchdog.wait()


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            # numerics uniformly at 6 decimals: DuckDB HUGEINT columns
            # fetch as Python int while the Spark twin may emit the
            # value as double (e.g. span_id/n_bigrams, aligned to the
            # driver canon's float64) — 24 and 24.0 are the same value.
            # Dtype/bit-level discipline lives in tools/verify_strict.py.
            if isinstance(v, float) or (isinstance(v, int)
                                        and not isinstance(v, bool)):
                v = f"{float(v):.6f}"
                if v == "-0.000000":
                    v = "0.000000"
            vals.append(str(v))
        out.append("\x01".join(vals))
    return sorted(out), [cols[i] for i in order]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    name_filter = sys.argv[2] if len(sys.argv) > 2 else ""
    # pinned golden-file oracles are per-SF: select the matching set
    # (the real driver runs at sf0.01, the env default)
    os.environ["SPARK_GRAFT_GOLDEN_SF"] = os.path.basename(sf_dir.rstrip("/"))

    import __spark_entry__ as entrymod
    from geo_sim_processing_a_spark.plans.session import get_spark

    spark = get_spark("verify", cpus=8, shuffle_partitions=8)
    with oracle_db(sf_dir) as con:
        failures = _verify(spark, con, sf_dir, name_filter, entrymod)
    spark.stop()
    if failures:
        print(f"\n{len(failures)} FAILURES")
        sys.exit(1)
    print("\nall queries verified")


def _verify(spark, con, sf_dir, name_filter, entrymod):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if name_filter and name_filter not in name:
            continue
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"SPARK ERROR {type(e).__name__}: {e}"))
            print(f"FAIL  {name}: spark error {e}")
            continue
        if name not in oracles:
            print(f"ok*   {name}: rows-only, {len(rows)} rows")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"DUCKDB ERROR {e}"))
            print(f"FAIL  {name}: duckdb error {e}")
            continue
        s_canon, s_cols = canon_rows(cols, rows)
        o_canon, o_cols = canon_rows(ocols, orows)
        if s_cols != o_cols:
            failures.append((name, f"COLS {s_cols} != {o_cols}"))
            print(f"FAIL  {name}: columns {s_cols} vs {o_cols}")
        elif len(s_canon) != len(o_canon):
            failures.append((name, f"ROWS {len(s_canon)} != {len(o_canon)}"))
            print(f"FAIL  {name}: rowcount {len(s_canon)} vs {len(o_canon)}")
        elif s_canon != o_canon:
            diff = [(a, b) for a, b in zip(s_canon, o_canon) if a != b][:3]
            failures.append((name, f"VALUES differ, e.g. {diff}"))
            print(f"FAIL  {name}: values differ, e.g. {diff[:1]}")
        else:
            print(f"OK    {name}: {len(rows)} rows hash-match")
    return failures


if __name__ == "__main__":
    main()
