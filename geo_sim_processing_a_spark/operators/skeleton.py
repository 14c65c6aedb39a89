"""Distributed chordal-axis with GEOMETRY output + dual sink (S3).

The reference's ChordalAxis algorithm writes TWO layers per run: the
skeleton centre-lines and the triangulation that produced them
(chordal_axis_algorithm.py:168-176 declares both sinks, :188-206 feeds
them).  This module is the Spark twin: one applyInPandas kernel pass
tessellates each polygon once and emits BOTH layers as rows tagged by
``layer`` (1 = skeleton line, 2 = triangle), so a dual parquet sink is
a partitioned write, not a second kernel run.

Geometry rows carry real coordinates (xs/ys arrays) — not just stats —
plus the per-polygon correction counters, so downstream queries can
checksum the skeleton vertex sequences.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels.chordal_axis import ZERO, ChordalAxis
from ..kernels.tessellate import tessellate
from .policy import floor

LAYER_SKELETON = 1
LAYER_TRIANGLE = 2

SKELETON_SCHEMA = ("url string, layer tinyint, part_id int, "
                   "xs array<double>, ys array<double>, "
                   "n_triangles int, n_pruned int, n_t_junction int, "
                   "n_x_junction int, error string")


def _polygon_rows(url: str, rings: list, correction: bool, out: dict) -> None:
    """Tessellate + skeletonize ONE polygon; append skeleton-line and
    triangle rows.  Per-feature crash containment mirrors the
    reference's per-polygon try/except (chordal_axis_algorithm.py:546-560)."""
    try:
        tris = tessellate(rings)
        ca = ChordalAxis(tris, ZERO)
        if correction:
            ca.correct_skeleton()
        lines = ca.get_skeleton()
        stats = (int(ca.nbr_triangles), int(ca.nbr_lines_pruned),
                 int(ca.nbr_t_junction), int(ca.nbr_x_junction))
        err = None
    except Exception as e:  # noqa: BLE001 — quarantine, don't kill the task
        lines, tris, stats, err = [], [], (0, 0, 0, 0), f"{type(e).__name__}: {e}"
    for pid, ln in enumerate(lines):
        out["url"].append(url)
        out["layer"].append(LAYER_SKELETON)
        out["part_id"].append(pid)
        out["xs"].append(np.asarray(ln[:, 0], dtype=np.float64))
        out["ys"].append(np.asarray(ln[:, 1], dtype=np.float64))
        out["stats"].append(stats)
        out["error"].append(err)
    for pid, t in enumerate(tris):
        # closed 4-point ring per triangle, like the reference's
        # MultiPolygon-of-triangles sink (chordal_axis_algorithm.py:655-670)
        out["url"].append(url)
        out["layer"].append(LAYER_TRIANGLE)
        out["part_id"].append(pid)
        out["xs"].append(np.array([t[0, 0], t[1, 0], t[2, 0], t[0, 0]]))
        out["ys"].append(np.array([t[0, 1], t[1, 1], t[2, 1], t[0, 1]]))
        out["stats"].append(stats)
        out["error"].append(err)
    if not lines and not tris:  # errored or degenerate: keep one marker row
        out["url"].append(url)
        out["layer"].append(LAYER_SKELETON)
        out["part_id"].append(-1)
        out["xs"].append(np.empty(0, dtype=np.float64))
        out["ys"].append(np.empty(0, dtype=np.float64))
        out["stats"].append(stats)
        out["error"].append(err)


def chordal_axis_frame(polys: DataFrame, correction: bool = True) -> DataFrame:
    """polys(url, xs, ys[, ring_offsets]) -> per-part geometry rows for
    both layers.

    The kernel is per-polygon independent, so this is mapInPandas over
    whole partitions — no groupBy shuffle key needed.  The input gets
    policy.floor's EXPLICIT partition count, which AQE respects; a
    groupBy here was coalesced to ONE task at bench scale (757 rows are
    'small' bytes-wise but each costs ~1 ms of Python kernel)."""
    has_offsets = "ring_offsets" in polys.columns

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        out = {"url": [], "layer": [], "part_id": [], "xs": [], "ys": [],
               "stats": [], "error": []}
        for r in pdf.itertuples(index=False):
            x = np.asarray(r.xs, dtype=np.float64)
            y = np.asarray(r.ys, dtype=np.float64)
            if has_offsets:
                offs = np.asarray(r.ring_offsets, dtype=np.int64)
                ends = np.append(offs[1:], len(x))
                rings = [np.column_stack([x[offs[k]:ends[k]], y[offs[k]:ends[k]]])
                         for k in range(len(offs))]
            else:
                rings = [np.column_stack([x, y])]
            _polygon_rows(r.url, rings, correction, out)
        st = np.array(out["stats"], dtype=np.int64).reshape(-1, 4)
        return pd.DataFrame({
            "url": pd.Series(out["url"], dtype="object"),
            "layer": pd.Series(out["layer"], dtype="int8"),
            "part_id": pd.Series(out["part_id"], dtype="int32"),
            "xs": pd.Series(out["xs"], dtype="object"),
            "ys": pd.Series(out["ys"], dtype="object"),
            "n_triangles": pd.Series(st[:, 0], dtype="int32"),
            "n_pruned": pd.Series(st[:, 1], dtype="int32"),
            "n_t_junction": pd.Series(st[:, 2], dtype="int32"),
            "n_x_junction": pd.Series(st[:, 3], dtype="int32"),
            "error": pd.Series(out["error"], dtype="object"),
        })

    cols = ["url", "xs", "ys"] + (["ring_offsets"] if has_offsets else [])
    sel = floor(polys.select(*cols))

    def run(batches):
        for pdf in batches:
            yield kernel(pdf)

    return sel.mapInPandas(run, SKELETON_SCHEMA)


def write_dual_sink(frame: DataFrame, out_dir: str) -> None:
    """S3 — the reference's two output sinks as one partitioned write:
    layer=1/ holds the skeleton lines, layer=2/ the triangulation.
    One kernel pass, one shuffle-free write."""
    frame.write.mode("overwrite").partitionBy("layer").parquet(out_dir)
