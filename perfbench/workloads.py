"""The benchmark's steps: seeded inputs, one timed call chain per step,
and the oracle each result is checked against.

A workload is a list of steps; one op runs every step of its workload
once.  Each call into a package layer runs inside a named span (see
``measure.Spans``); the per-layer metrics are read back per span.

Inputs derive from the seed alone:
 - page steps generate a doc-id window ``[w*n, w*n + n)`` with
   ``sources.pages.generate_pages_pdf`` over ``spark.range``, where the
   window index ``w`` is ``seed*CLIENTS + client``: each of the
   concurrent clients works on its own pages, so no op finds another's
   persisted ``covered`` table in Spark's cache;
 - the join step reads parquet tables written once per run from the
   same kind of window (``write_query_tables``).

Oracles: the tile steps are checked against an in-process replay of the
same tiles through the pure-NumPy kernel (no Spark) and against the
counters pinned per window in ``pinned_tiles.json``; the join step against
DuckDB running each query's ``oracle_sql()`` text over the same parquet
files.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict

import numpy as np

# geometry pipeline parameters (the values bench.py's headline uses)
RES = 6
DIAMETER_TOL = 0.004
TARGET_ROWS = 20_000
PAGES = 3000  # pages per tile_pipeline op
TILE_KEYS = ("geoms", "tiles", "v_in", "v_out")


def _med(values) -> float:
    return float(np.median(list(values)))


def expected_tiles(ctx, n_pages: int) -> dict:
    """Window index -> the replayed counters of the window, with the
    pinned ones when ``pinned_tiles.json`` has this window index and
    size (else None), for each of the run's page windows."""
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "pinned_tiles.json")) as f:
        pinned = json.load(f)
    out = {}
    for w, counters in ctx.tile_oracles(n_pages).items():
        out[w] = dict(counters, pinned=pinned["counters"].get(str(w))
                      if pinned["n_pages"] == n_pages else None)
    return out


def tiles_ok(result: dict, expected: dict) -> bool:
    exp = expected[result["window"]]
    got = [result[k] for k in TILE_KEYS]
    return got == [exp[k] for k in TILE_KEYS] and exp["pinned"] in (None, got)


def op_expected(ops, name: str, expected: dict) -> list[dict]:
    """The expected counters of each op's window."""
    return [expected[o.result[name]["window"]] for o in ops]


# ---------------------------------------------------------------------------
# seeded inputs
# ---------------------------------------------------------------------------

def seeded_pages(spark, window: int, n: int):
    """The pages table for the doc-id window [window*n, window*n + n) —
    ``sources.spark_pages.build_pages`` with the window offset."""
    from geo_sim_processing_a_spark.sources.pages import generate_pages_pdf
    from geo_sim_processing_a_spark.sources.spark_pages import PAGES_SCHEMA

    def gen(batches):
        for pdf in batches:
            yield generate_pages_pdf(pdf["id"].to_numpy())

    base = spark.range(window * n, window * n + n, 1,
                       spark.sparkContext.defaultParallelism)
    return base.mapInPandas(gen, PAGES_SCHEMA)


def write_query_tables(data_dir: str, seed: int, n_orders: int,
                       n_customers: int, n_suppliers: int) -> None:
    """Seeded parquet inputs for the spatial-join queries: key windows of
    ``orders``/``customer``/``supplier`` (the only columns the queries
    read) and the 25 fixed ``nation`` keys."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(data_dir, exist_ok=True)
    for name, col, n in (("orders", "o_orderkey", n_orders),
                         ("customer", "c_custkey", n_customers),
                         ("supplier", "s_suppkey", n_suppliers)):
        keys = np.arange(seed * n, seed * n + n, dtype=np.int64)
        pq.write_table(pa.table({col: keys}), os.path.join(data_dir, f"{name}.parquet"))
    pq.write_table(pa.table({"n_nationkey": np.arange(25, dtype=np.int32)}),
                   os.path.join(data_dir, "nation.parquet"))


# ---------------------------------------------------------------------------
# steps
# ---------------------------------------------------------------------------

class TileSimplify:
    """geocode -> halo cover -> salt -> per-tile Sherbend, aggregate sink
    (bench.py's headline chain)."""

    name = "tile_simplify"

    def __init__(self, n_pages: int):
        self.n_pages = n_pages

    def run(self, ctx, span, full_check: bool, window: int) -> dict:
        from pyspark.sql import functions as F

        from geo_sim_processing_a_spark.operators.tiling import salt_by_cell
        from geo_sim_processing_a_spark.plans.pipeline import (
            pages_to_covered_geoms, simplify_tiles)

        pages = seeded_pages(ctx.spark, window, self.n_pages)
        with span("tiling.cover"):
            covered = pages_to_covered_geoms(pages.dropDuplicates(["url"]),
                                             res=RES).persist()
            covered.count()
        try:
            with span("tiling.salt"):
                salted = salt_by_cell(covered, target_rows_per_task=TARGET_ROWS)
            with span("pipeline.simplify"):
                row = (simplify_tiles(salted, diameter_tol=DIAMETER_TOL,
                                      kernel="sherbend")
                       .agg(F.count("*").alias("geoms"),
                            F.countDistinct("cell").alias("tiles"),
                            F.sum("n_in").alias("v_in"),
                            F.sum("n_out").alias("v_out"))
                       .collect()[0])
        finally:
            covered.unpersist()
        return {"window": window, **{k: int(row[k] or 0) for k in TILE_KEYS}}

    def expected(self, ctx) -> dict:
        return expected_tiles(ctx, self.n_pages)

    def verify(self, result, expected) -> bool:
        return tiles_ok(result, expected)

    def layers(self, ops, ev, expected) -> dict:
        cover = ev.series(ops, "tiling.cover")
        salt = ev.series(ops, "tiling.salt")
        simp = ev.series(ops, "pipeline.simplify")
        exp = op_expected(ops, self.name, expected)
        out = {
            "tiling.cover_s": _med(o.walls["tiling.cover"] for o in ops),
            "tiling.cover_task_s": cover("task_s"),
            "tiling.cover_py_s": cover("py_s"),
            "tiling.cover_py_bytes_out": cover("py_bytes_out"),
            "tiling.salt_s": _med(o.walls["tiling.salt"] for o in ops),
            "tiling.salt_jobs": salt("jobs", required=False),
            "pipeline.simplify_s": _med(o.walls["pipeline.simplify"] for o in ops),
            "pipeline.simplify_task_s": simp("task_s"),
            "pipeline.simplify_py_s": simp("py_s"),
            "pipeline.simplify_py_bytes_in": simp("py_bytes_in"),
            "pipeline.simplify_py_bytes_out": simp("py_bytes_out"),
            "pipeline.shuffle_bytes": simp("shuffle_bytes"),
            "pipeline.spill_bytes": simp("spill_bytes"),
            "pipeline.buckets": simp("py_tasks"),
            "kernels.reduce_bend_cpu_s": _med(e["kernel_cpu_s"] for e in exp),
            "kernels.v_in": _med(e["v_in"] for e in exp),
            "kernels.v_out": _med(e["v_out"] for e in exp),
        }
        py_s = out["pipeline.simplify_py_s"]
        out["pipeline.kernel_share"] = (out["kernels.reduce_bend_cpu_s"] / py_s
                                        if py_s else None)
        return out

    def headline(self, ops, expected) -> dict:
        """BASELINE.json's headline over the geocode -> Sherbend chain."""
        exp = op_expected(ops, self.name, expected)
        return {"tiles_geoms_per_s": _med(
            (e["tiles"] + e["geoms"]) / (o.walls["tiling.cover"] + o.walls["tiling.salt"]
                                         + o.walls["pipeline.simplify"])
            for o, e in zip(ops, exp))}


class TileCheckpoint:
    """``run_pipeline`` into a fresh directory: the same cover and kernel
    as TileSimplify, with a parquet write sink and the lineage manifest."""

    name = "tile_checkpoint"

    def __init__(self, n_pages: int):
        self.n_pages = n_pages

    def run(self, ctx, span, full_check: bool, window: int) -> dict:
        from geo_sim_processing_a_spark.plans.pipeline import run_pipeline

        pages = seeded_pages(ctx.spark, window, self.n_pages)
        out_dir = ctx.fresh_dir("pipeline")
        with span("pipeline.write"):
            counters = run_pipeline(ctx.spark, pages, out_dir, res=RES,
                                    diameter_tol=DIAMETER_TOL, kernel="sherbend",
                                    target_rows_per_task=TARGET_ROWS)
        result = dict(counters, window=window)
        result["files"] = sum(1 for _, _, names in os.walk(out_dir)
                              for n in names if n.endswith(".parquet"))
        if full_check:
            # the written rows themselves, not just the returned counters
            result["parquet_rows"] = ctx.spark.read.parquet(
                f"{out_dir}/data/stage=simplify").count()
        return result

    def expected(self, ctx) -> dict:
        return expected_tiles(ctx, self.n_pages)

    def verify(self, result, expected) -> bool:
        geoms = expected[result["window"]]["geoms"]
        return (tiles_ok(result, expected)
                and result.get("parquet_rows", geoms) == geoms)

    def layers(self, ops, ev, expected) -> dict:
        write = ev.series(ops, "pipeline.write")
        return {
            "pipeline.write_s": _med(o.walls["pipeline.write"] for o in ops),
            "pipeline.bytes_written": write("bytes_written"),
            "pipeline.files_written": _med(o.result[self.name]["files"] for o in ops),
        }


class SpatialJoins:
    """pip, kNN, diamond-poly and segment joins (operators.spark_joins) as
    the driver queries (``plans.driver_queries``) call them, with a count
    sink: ``joins.<q>.plan`` spans the query function, which runs the
    eager extent/size jobs, ``joins.<q>.exec`` the count."""

    name = "spatial_joins"
    queries = {"pip": "q_pip_join", "knn": "q_knn",
               "poly": "q_poly_join", "segment": "q_segment_join"}

    def run(self, ctx, span, full_check: bool, window: int) -> dict:
        # the joins keep no table in Spark's cache, so every client
        # reads the same seeded tables
        from geo_sim_processing_a_spark.plans import driver_queries as Q

        result = {}
        for q, fn_name in self.queries.items():
            with span(f"joins.{q}.plan"):
                df = getattr(Q, fn_name)(ctx.spark, ctx.data_dir)
            with span(f"joins.{q}.exec"):
                if full_check:
                    rows = df.collect()
                    result[q] = len(rows)
                    result[f"{q}.canon"] = _canon(df.columns, rows)
                else:
                    result[q] = df.count()
        return result

    def expected(self, ctx) -> dict:
        return {q: ctx.oracle_rows(fn_name) for q, fn_name in self.queries.items()}

    def verify(self, result, expected) -> bool:
        for q in self.queries:
            rows, _ = expected[q]
            if result[q] != len(rows):
                return False
            if f"{q}.canon" in result and result[f"{q}.canon"] != expected[q]:
                return False
        return True

    def layers(self, ops, ev, expected) -> dict:
        out = {}
        for q in self.queries:
            plan = ev.series(ops, f"joins.{q}.plan")
            exe = ev.series(ops, f"joins.{q}.exec")
            p = f"joins.{q}."
            out[p + "plan_s"] = _med(o.walls[p + "plan"] for o in ops)
            out[p + "plan_jobs"] = plan("jobs", required=False)
            out[p + "exec_s"] = _med(o.walls[p + "exec"] for o in ops)
            out[p + "task_s"] = exe("task_s")
            out[p + "py_s"] = exe("py_s")
            out[p + "shuffle_bytes"] = exe("shuffle_bytes")
            out[p + "out_rows"] = _med(o.result[self.name][q] for o in ops)
        return out


def _canon(cols, rows) -> tuple:
    """(sorted canonical rows, column names): tools/verify_oracles.py's
    order-insensitive canonicalization, the repo's oracle gate."""
    from tools.verify_oracles import canon_rows
    return canon_rows(list(cols), [tuple(r) for r in rows])


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------

def duckdb_rows(data_dir: str, sql: str) -> tuple:
    import duckdb

    con = duckdb.connect()
    try:
        for t in ("orders", "customer", "supplier", "nation"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(data_dir, t)}.parquet'")
        res = con.execute(sql)
        return _canon([d[0] for d in res.description], res.fetchall())
    finally:
        con.close()


def tile_oracle(seed: int, n: int) -> dict:
    """Counters of the tile pipeline for the window, replayed without
    Spark: the same geometries (``synthesize_geoms_pdf``), halo tiles
    from the per-geometry ``cover_cells_arrays``, and the pure-NumPy
    ``reduce_bends`` per tile in ``_run_bucket``'s (url, kind) order.
    ``kernel_cpu_s`` is the thread CPU time of the reduce_bends calls
    alone.  Valid while no tile exceeds TARGET_ROWS (one salt per
    cell), which is checked."""
    from geo_sim_processing_a_spark.functions.hashing import xxhash64_long_signed
    from geo_sim_processing_a_spark.geom.primitives import split_rings
    from geo_sim_processing_a_spark.kernels import reduce_bend as RBK
    from geo_sim_processing_a_spark.operators import cells as C
    from geo_sim_processing_a_spark.operators.tiling import cover_cells_arrays
    from geo_sim_processing_a_spark.plans.pipeline import WORLD_EPS
    from geo_sim_processing_a_spark.sources.pages import (
        generate_pages_pdf, synthesize_geoms_pdf)

    ids = np.arange(seed * n, seed * n + n, dtype=np.int64)
    urls = generate_pages_pdf(ids)["url"].to_numpy()
    g = synthesize_geoms_pdf(urls, xxhash64_long_signed(ids))
    url, kind = g["url"].to_numpy(), g["kind"].to_numpy()
    xs, ys, offs = g["xs"].to_numpy(), g["ys"].to_numpy(), g["ring_offsets"].to_numpy()

    tiles = defaultdict(list)
    for i in range(len(g)):
        owner = int(C.encode(xs[i][:1], ys[i][:1], RES)[0])
        for cell in cover_cells_arrays(xs[i], ys[i], RES):
            tiles[int(cell)].append((i, int(cell) == owner))

    out = {"geoms": 0, "v_in": 0, "v_out": 0, "kernel_cpu_s": 0.0}
    owned_cells = set()
    for cell, members in tiles.items():
        if len(members) > TARGET_ROWS:
            raise ValueError(f"tile {cell} has {len(members)} rows: salted, "
                             "which the oracle does not replay")
        members.sort(key=lambda m: (url[m[0]], kind[m[0]]))
        feats = [RBK.Feature(int(kind[i]), split_rings(xs[i], ys[i], offs[i]), attrs=j)
                 for j, (i, _) in enumerate(members)]
        t0 = time.thread_time()
        res = RBK.reduce_bends(feats, DIAMETER_TOL, epsilon=WORLD_EPS)
        out["kernel_cpu_s"] += time.thread_time() - t0
        for f in res.features:
            i, is_owner = members[f.attrs]
            if is_owner:
                owned_cells.add(cell)
                out["geoms"] += 1
                out["v_in"] += len(xs[i])
                out["v_out"] += sum(len(r) for r in f.rings)
    out["tiles"] = len(owned_cells)
    return out


WORKLOADS = {
    "tile_pipeline": lambda: [TileSimplify(PAGES), TileCheckpoint(PAGES)],
    "spatial_joins": lambda: [SpatialJoins()],
}

# seeded query-table sizes: the sf0.1 key shapes cut where the DuckDB
# oracle's brute-force cross joins (kNN self-join, segment x segment)
# would dominate a run
QUERY_TABLES = {"n_orders": 16_000, "n_customers": 3_000, "n_suppliers": 400}
