"""DataFrame-level spatial joins (SURVEY.md X8/X9) — filter-refine:
coarse Catalyst hash-join on a grid cell, exact refine per candidate.
Every cell key is computed JVM-side (cell_encode_col / _grid_index_col,
bit-twins of operators/cells.py); Python runs only in the kNN refine.

X8 broadcast point-in-polygon join (pip_join), through _grid_join:
    polygons -> bbox cover into (ix, iy) cells (tiny dim side) -> broadcast
    points   -> their one (ix, iy) cell                        -> equi-join
             -> even-odd crossing-number refine (_pip_col, a Column)
X9 cell-local kNN:
    points keyed on their raw grid cell (ix, iy); candidates replicated
    to the ring-1 neighborhood by a 9-offset explode; queries and
    candidates cogrouped on that cell into a brute-force NumPy refine
    (exact within cell+ring1 — callers pick the resolution so the k-th
    neighbor distance < one cell size).
Extended geometries (range_join, diamond_join, segment_join) and pip:
    one primitive, _grid_join — bbox cover into (ix, iy) cells, equi-join,
    bbox prefilter, reference-point dedup, Column refine; no Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .policy import floor
from .spatial_join import knn_brute


def cell_parent_col(cell, steps: int = 1):
    """JVM-side Morton parent — the bit-for-bit twin of cells.parent
    (cell layout: (morton << 5) | res, so the parent is
    ``((cell >> (5 + 2*steps)) << 5) | ((cell & 31) - steps)``).
    Pure integer ops: whole-stage codegen, and directly expressible in
    any SQL engine (the DuckDB oracle writes the same shifts)."""
    return (F.shiftleft(F.shiftright(cell, 5 + 2 * steps), 5)
            .bitwiseOR(cell.bitwiseAND(F.lit(31)) - F.lit(steps)))


def cell_pyramid(df: DataFrame, cell_col: str = "cell",
                 levels: int = 2) -> DataFrame:
    """Multi-resolution rollup pyramid (the tile-server aggregation):
    row counts per cell at the native resolution (level 0) plus each of
    ``levels`` coarser parent resolutions.

    Scale shape — hierarchical reaggregation: level k+1 aggregates the
    LEVEL-k AGGREGATE (~n/4 rows per step), never the raw table, so the
    raw data is shuffled exactly once; every coarser level is a
    geometrically-shrinking hash-agg.  Returns (cell_col, n, level)."""
    if levels < 0:
        raise ValueError(f"cell_pyramid: levels must be >= 0, got {levels}")
    base = df.groupBy(cell_col).agg(F.count(F.lit(1)).alias("n"))
    out = base.withColumn("level", F.lit(0))
    cur = base
    for k in range(1, levels + 1):
        cur = (cur.groupBy(cell_parent_col(F.col(cell_col), 1)
                           .alias(cell_col))
               .agg(F.sum("n").alias("n")))
        out = out.unionByName(cur.withColumn("level", F.lit(k)))
    return out


def pip_join(points: DataFrame, polys: DataFrame, res: int = 8) -> DataFrame:
    """points(pid, lon, lat) x polys(poly_id, xs, ys[, ring_offsets]) ->
    (pid, poly_id, lon, lat).  Polygon side broadcast.  Multi-ring
    polygons (ring_offsets: exterior first, holes after) use even-odd
    semantics — points inside a hole do NOT match.

    Scale shape: _grid_join of each point's degenerate bbox against
    each polygon's bbox, with the crossing-number parity (_pip_col) as
    the refine — a point covers exactly one (ix, iy) cell, so the
    refine and the dedup both run inside the broadcast join's stage,
    with no key shuffle and no Python."""
    # a single-split point scan of a BIG table would feed the refine
    # from one task
    pts = floor(points, if_big=True)
    lon, lat = F.col("lon"), F.col("lat")
    offs = (F.col("ring_offsets") if "ring_offsets" in polys.columns
            else F.lit(None))
    return _grid_join(
        (pts, (lon, lat, lon, lat)),
        (F.broadcast(polys), (F.array_min("xs"), F.array_min("ys"),
                              F.array_max("xs"), F.array_max("ys"))),
        res, ["pid", "poly_id", "lon", "lat"],
        refine=_pip_col(lon, lat, F.col("xs"), F.col("ys"), offs))


def _pip_col(px, py, xs, ys, offs):
    """Even-odd point-in-polygon test as a boolean Column: the crossing
    count over every edge of every ring is odd.  Ring r spans
    [offs[r], offs[r+1]) of xs/ys (the last ends at size(xs)); its
    edges are k -> k+1 plus the wrap edge e-1 -> s, which has zero
    length on a closed ring and never crosses.  A null ``offs`` means
    one ring, array(0).  Counting over ALL rings punches holes out.

    Preconditions of its bit-parity with geom.primitives.points_in_ring:
      - each edge test keeps that function's exact expression and
        operation order, ``(y0 > py) != (y1 > py)`` and
        ``px < x0 + ((py - y0) * (x1 - x0)) / (y1 - y0)``, so the same
        doubles decide on both sides;
      - the division sits under ``F.when(crossing, ...)``, which
        guarantees y0 != y1, so ANSI mode's divide-by-zero error cannot
        fire."""
    offs = F.coalesce(offs.cast("array<int>"), F.array(F.lit(0)))
    n, nr = F.size(xs), F.size(offs)

    def ring(count, r):
        s = F.get(offs, r)
        e = F.when(r + 1 < nr, F.get(offs, r + 1)).otherwise(n)

        def edge(c, k):
            j = F.when(k + 1 < e, k + 1).otherwise(s)
            x0, y0 = F.get(xs, k), F.get(ys, k)
            x1, y1 = F.get(xs, j), F.get(ys, j)
            crossing = (y0 > py) != (y1 > py)
            hit = F.when(crossing,
                         px < x0 + ((py - y0) * (x1 - x0)) / (y1 - y0))
            return c + F.when(hit, 1).otherwise(0)

        # step 1: an empty ring (e == s) raises, as points_in_ring does,
        # instead of counting down into the previous ring's vertices
        return F.aggregate(F.sequence(s, e - 1, F.lit(1)), count, edge)

    crossings = F.aggregate(F.sequence(F.lit(0), nr - 1), F.lit(0), ring)
    return crossings % 2 == 1


def range_join(left: DataFrame, right: DataFrame, res: int = 6,
               left_id: str = "a_id", right_id: str = "b_id") -> DataFrame:
    """Spatial RANGE JOIN: pairs whose bounding boxes intersect.

    Scale shape: the grid partitioned spatial join (_grid_join) with
    the bbox-overlap prefilter as the whole test — no refine, no
    Python.  Each geometry is duplicated into every (ix, iy) cell its
    bbox touches, candidates come from an equi-join on the cell (never
    a cross join), and the reference-point rule reports each pair once.

    Inputs: (id, xs, ys[, ring_offsets]) geometry frames.  Returns
    (left_id, right_id)."""
    def side(df):
        return df, (F.array_min("xs"), F.array_min("ys"),
                    F.array_max("xs"), F.array_max("ys"))

    return _grid_join(side(left), side(right), res, [left_id, right_id])


def knn_join(points: DataFrame, k: int, res: int = 6,
             strict: bool = True, n_query_salts: int = 1) -> DataFrame:
    """Self-kNN of points(pid, lon, lat): for each point the k nearest
    OTHER points within its cell + ring-1 neighbors.  Exact in that
    neighborhood; ties by (dist2, pid).  Returns
    (pid, neighbor_id, dist2, rank).

    Exactness guarantee: the ring-1 candidate block extends at least
    one full cell dimension beyond the query's own cell in every
    direction, so results are globally exact whenever the k-th
    neighbor distance < min(cell width, cell height).  With ``strict``
    (default) the kernel RAISES if any query's k-th neighbor falls
    outside that radius — a too-fine ``res`` fails loudly instead of
    silently returning ring-local results.

    ``n_query_salts`` splits each cell's QUERY set into that many
    refine groups (candidates replicated per salt).  Per-query results
    are independent of grouping, so output is identical; use > 1 when
    ``res`` is deliberately coarse (few cells) and the refine would
    otherwise run on as few tasks as there are cells.  Keep 1 at scale
    where cells outnumber cores — salting multiplies the candidate
    shuffle bytes by the salt count."""
    n = 1 << res
    exact_radius2 = min(360.0 / n, 180.0 / n) ** 2
    # see pip_join
    queries = (floor(points, if_big=True)
               .select("pid", "lon", "lat",
                       _ix_col(F.col("lon"), res).alias("ix"),
                       _iy_col(F.col("lat"), res).alias("iy")))
    # ring-1: each candidate goes to its own cell and the 8 around it;
    # ix wraps at the antimeridian, rows past a pole drop.  At res <= 1
    # the wrap sends two offsets to one cell — the refine drops the
    # repeated candidate
    ring1 = F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                      for dx in (-1, 0, 1) for dy in (-1, 0, 1)])
    cands = (queries.select(F.col("pid").alias("cid"),
                            F.col("lon").alias("clon"),
                            F.col("lat").alias("clat"),
                            "ix", "iy", F.inline(ring1))
             .select("cid", "clon", "clat",
                     F.pmod(F.col("ix") + F.col("dx"), F.lit(n)).alias("ix"),
                     (F.col("iy") + F.col("dy")).alias("iy"))
             .where((F.col("iy") >= 0) & (F.col("iy") < n)))

    # one long group key per row, (ix << res) | iy: a shuffled row
    # carries 8 key bytes, as the Morton cell did, not 16 for (ix, iy)
    def keyed(df):
        cell = F.shiftleft("ix", res).bitwiseOR(F.col("iy"))
        return df.withColumn("cell", cell).drop("ix", "iy")

    queries, cands = keyed(queries), keyed(cands)
    keys = ["cell"]
    if n_query_salts > 1:
        keys = ["cell", "qsalt"]
        queries = queries.withColumn(
            "qsalt", F.pmod(F.xxhash64("pid"), F.lit(n_query_salts)).cast("int"))
        cands = cands.withColumn(
            "qsalt", F.explode(F.sequence(F.lit(0), F.lit(n_query_salts - 1))))

    def refine(q: pd.DataFrame, c: pd.DataFrame) -> pd.DataFrame:
        # COGROUP shape: queries and candidates arrive as separate
        # frames per cell (an equi-JOIN here would materialize the
        # per-cell cartesian product just to dedup it in the kernel —
        # at sf0.1 that was ~90M shuffled rows for 19k points).
        # Zero per-row Python: rank/self-exclusion/strict checks and
        # the output emit are matrix ops over knn_brute's (nq, k+1)
        # block.
        if len(q) == 0 or len(c) == 0:
            return pd.DataFrame({"pid": pd.Series([], dtype="int64"),
                                 "neighbor_id": pd.Series([], dtype="int64"),
                                 "dist2": pd.Series([], dtype="float64"),
                                 "rank": pd.Series([], dtype="int32")})
        c = c.drop_duplicates("cid")  # res <= 1: the ix wrap repeats a cell
        cid = c["cid"].to_numpy()
        order, d2 = knn_brute(q["lon"].to_numpy(), q["lat"].to_numpy(),
                              c["clon"].to_numpy(), c["clat"].to_numpy(),
                              cid, k + 1)
        qid = q["pid"].to_numpy()
        nid = cid[order]                          # (nq, kk)
        keep = nid != qid[:, None]                # drop each query's self row
        rank = np.cumsum(keep, axis=1)
        keep &= rank <= k
        if strict:
            short = np.flatnonzero(keep.sum(axis=1) < k)
            if len(short):
                i = int(short[0])
                raise ValueError(
                    f"knn_join(res={res}): only {int(keep[i].sum())} candidates "
                    f"for pid={int(qid[i])} within cell+ring1 (k={k}) — outside "
                    "the exactness radius guarantee; choose a coarser res or "
                    "pass strict=False")
            kth_d2 = np.where(keep & (rank == k), d2, -np.inf).max(axis=1)
            bad = np.flatnonzero(kth_d2 > exact_radius2)
            if len(bad):
                i = int(bad[0])
                raise ValueError(
                    f"knn_join(res={res}): k-th neighbor of pid={int(qid[i])} at "
                    f"dist={kth_d2[i] ** 0.5:.6g} exceeds the exactness radius "
                    f"{exact_radius2 ** 0.5:.6g} (= min cell dimension); "
                    "choose a coarser res or pass strict=False")
        ri, ci = np.nonzero(keep)
        return pd.DataFrame({"pid": qid[ri].astype(np.int64),
                             "neighbor_id": nid[ri, ci].astype(np.int64),
                             "dist2": d2[ri, ci].astype(np.float64),
                             "rank": rank[ri, ci].astype(np.int32)})

    return (queries.groupBy(*keys)
            .cogroup(cands.groupBy(*keys))
            .applyInPandas(refine, "pid long, neighbor_id long, dist2 double, rank int"))


# ---------------------------------------------------------------------------
# Fully-JVM cell keys (Morton encode, raw grid index) as Column
# expressions, the grid join, and its exact integer refines.
# ---------------------------------------------------------------------------

_SPREAD_STAGES = [(16, 281470681808895), (8, 71777214294589695),
                  (4, 1085102592571150095), (2, 3689348814741910323),
                  (1, 6148914691236517205)]


def _spread_col(c):
    """Column twin of cells._spread_bits (interleave-ready bit spread);
    the five shift/mask stages are the same constants the DuckDB
    oracle uses (driver_queries._sql_morton_cell)."""
    for s, m in _SPREAD_STAGES:
        c = c.bitwiseOR(F.shiftleft(c, s)).bitwiseAND(F.lit(m))
    return c


def _grid_index_col(v, lo: float, extent: float, res: int):
    """Clamped grid index floor((v - lo) / extent * 2^res) as long."""
    n = 1 << res
    raw = F.floor((v - F.lit(lo)) / F.lit(extent) * F.lit(n)).cast("long")
    return F.least(F.greatest(raw, F.lit(0).cast("long")),
                   F.lit(n - 1).cast("long"))


def _ix_col(lon, res: int):
    """Grid column of ``lon`` at ``res`` (cells.lonlat_to_ixiy's ix)."""
    return _grid_index_col(lon, -180.0, 360.0, res)


def _iy_col(lat, res: int):
    """Grid row of ``lat`` at ``res`` (cells.lonlat_to_ixiy's iy)."""
    return _grid_index_col(lat, -90.0, 180.0, res)


def cell_encode_ixiy_col(ix, iy, res: int):
    """JVM bit-twin of cells.encode_ixiy: Morton-interleave two grid
    indices and tag the resolution (cell = (morton << 5) | res)."""
    m = _spread_col(ix).bitwiseOR(F.shiftleft(_spread_col(iy), 1))
    return F.shiftleft(m, 5).bitwiseOR(F.lit(res))


def cell_encode_col(lon, lat, res: int):
    """JVM bit-twin of cells.encode(lon, lat, res) — pure Column
    arithmetic, whole-stage codegen, no Python worker (asserted equal
    in tests/test_round5_ops.py)."""
    return cell_encode_ixiy_col(_ix_col(lon, res), _iy_col(lat, res), res)


def _grid_cover(df: DataFrame, box, prefix: str, res: int,
                scale: float) -> DataFrame:
    """``df`` plus its bbox ``box`` (minx, miny, maxx, maxy Columns in
    1/``scale`` degrees) as ``{prefix}minx`` .. ``{prefix}maxy``, one row
    per (ix, iy) grid cell at ``res`` the bbox touches: two sequence
    explodes over the clamped index ranges, inside the scan stage (the
    JVM twin of cells.cover_bbox).  Cover size is (ix span) x (iy span):
    pick ``res`` so typical geometries span O(1..10) cells."""
    names = [prefix + c for c in ("minx", "miny", "maxx", "maxy")]
    minx, miny, maxx, maxy = (F.col(c) / scale for c in names)
    return (df.select("*", *[c.alias(a) for c, a in zip(box, names)])
            .withColumn("ix", F.explode(F.sequence(_ix_col(minx, res),
                                                   _ix_col(maxx, res))))
            .withColumn("iy", F.explode(F.sequence(_iy_col(miny, res),
                                                   _iy_col(maxy, res)))))


def _grid_join(left, right, res: int, cols: list, refine=None,
               scale: float = 1.0) -> DataFrame:
    """The grid-partitioned filter-refine join of two sets of extended
    geometries, with no Python at any stage.  ``left``/``right`` are
    (DataFrame, bbox) pairs, the bbox four Columns over that frame in
    1/``scale`` degrees.

      - each side explodes into the (ix, iy) cells its bbox touches
        (_grid_cover);
      - candidates come from the equi-join ON (ix, iy) ONLY, never a
        cross join;
      - the bbox-overlap prefilter (closed intervals, in the inputs'
        own units — exact for integer coordinates) drops far pairs;
      - the REFERENCE-POINT rule reports a pair only in the cell of its
        bbox overlap's min corner, floored with the cover's own
        expression — dedup by construction, no distinct shuffle;
      - ``refine`` (a boolean Column over both sides' columns, or None
        when bbox overlap is the whole test) decides the rest.

    The key is the raw index pair, not the Morton cell: (ix, iy) <->
    cell is a bijection at fixed res, so candidates and output are the
    same, while a Morton key inlines the 5-stage bit spread into every
    cover row and dedup check (a generated method large enough to
    degrade per-candidate cost ~10x at sf1.0 volumes).  Returns
    ``cols`` of the surviving pairs."""
    la = _grid_cover(*left, "_l_", res, scale)
    rb = _grid_cover(*right, "_r_", res, scale)
    out = (la.join(rb, ["ix", "iy"])
           .where((F.col("_l_minx") <= F.col("_r_maxx"))
                  & (F.col("_l_maxx") >= F.col("_r_minx"))
                  & (F.col("_l_miny") <= F.col("_r_maxy"))
                  & (F.col("_l_maxy") >= F.col("_r_miny")))
           .where((_ix_col(F.greatest("_l_minx", "_r_minx") / scale, res)
                   == F.col("ix"))
                  & (_iy_col(F.greatest("_l_miny", "_r_miny") / scale, res)
                     == F.col("iy"))))
    if refine is not None:
        out = out.where(refine)
    return out.select(*cols)


def pick_res_for_spans(minx: float, miny: float, maxx: float, maxy: float,
                       span: float, target_cells: int = 256,
                       max_res: int = 15) -> int:
    """Resolution for joins of EXTENDED geometries (segments/boxes of
    typical axis span ``span`` degrees): bbox-cover candidate volume is
    ~ n_a*n_b*(1 + span/c)^4 * c^2 / extent^2, minimized at cell size
    c ~ span (cover ~4 cells/feature) — finer cells grow covers
    quadratically, coarser cells grow per-cell occupancy.  Density
    never moves this optimum; only the span does.  The extent-based
    pick_res() still applies as a parallelism FLOOR (enough occupied
    cells for the equi-join), and the result is capped at max_res.
    Output is res-invariant, as for pick_res."""
    import math
    res_floor = pick_res(minx, miny, maxx, maxy, target_cells, max_res)
    if span <= 0:
        return res_floor
    # lat cells are 180/2^res high (the tighter axis): aim c_lat ~ span
    res_span = int(round(math.log2(max(180.0 / span, 1.0))))
    return max(res_floor, min(res_span, max_res))


def pick_res(minx: float, miny: float, maxx: float, maxy: float,
             target_cells: int = 256, max_res: int = 15) -> int:
    """Adaptive grid resolution for the exact-integer joins (VERDICT r5
    #6): the COARSEST res whose grid lays >= ``target_cells`` cells
    over the data extent, so the cell equi-join always has O(100-1k)
    distinct keys regardless of whether the data spans the globe or a
    city block.  A res hardcoded for one extent collapses to a handful
    of join keys on another (res 6 over a +-9 degree extent gave ~30
    occupied cells and near-zero join parallelism — the round-5
    scale-killer).  Any res yields IDENTICAL join output (bbox covers +
    the reference-point rule are res-independent); res only tunes the
    candidate volume / parallelism trade."""
    import math
    w = max(float(maxx) - float(minx), 1e-12)
    h = max(float(maxy) - float(miny), 1e-12)
    for res in range(max_res + 1):
        nx = max(1, math.ceil(w / (360.0 / (1 << res))))
        ny = max(1, math.ceil(h / (180.0 / (1 << res))))
        if nx * ny >= target_cells:
            return res
    return max_res


_INTEGRAL_TYPES = ("tinyint", "smallint", "int", "bigint")


def _require_integral(df: DataFrame, cols: list, op: str) -> None:
    """The exact-integer joins are only exact over integral columns —
    a float column would silently put IEEE rounding on the decision
    boundary, so refuse it loudly."""
    types = dict(df.dtypes)
    bad = {c: types[c] for c in cols if types.get(c) not in _INTEGRAL_TYPES}
    if bad:
        raise ValueError(
            f"{op} requires integer coordinate columns (exact SAT/CCW "
            f"arithmetic); cast or rescale first: {bad}")


def _diamond_sep_on_axis(dx, dy, ux, uy, aw, ah, bw, bh):
    """True when axis (ux, uy) separates diamonds A and B whose
    centers differ by (dx, dy) — EXACT BIGINT arithmetic: a diamond's
    projection radius on (ux, uy) is max(|w*ux|, |h*uy|) (its vertices
    are center +- (w,0),(0,h))."""
    proj = F.abs(dx * ux + dy * uy)
    ra = F.greatest(F.abs(aw * ux), F.abs(ah * uy))
    rb = F.greatest(F.abs(bw * ux), F.abs(bh * uy))
    return proj > ra + rb


def diamond_sat_intersects(acx, acy, aw, ah, bcx, bcy, bw, bh):
    """Closed-set intersects test for two axis-aligned diamonds
    (L1 balls |x-cx|/w + |y-cy|/h <= 1) with INTEGER center/half-extent
    columns: separating-axis over the four edge normals
    (ah, +-aw), (bh, +-bw) — exact integer compares, so touching
    boundaries count as intersecting and no float ever sits on the
    decision boundary (the DuckDB twin writes the same four
    inequalities)."""
    dx, dy = bcx - acx, bcy - acy
    axes = [(ah, aw), (ah, -aw), (bh, bw), (bh, -bw)]
    hit = F.lit(True)
    for ux, uy in axes:
        hit = hit & ~_diamond_sep_on_axis(dx, dy, ux, uy, aw, ah, bw, bh)
    return hit


def diamond_join(left: DataFrame, right: DataFrame, res: int = 6,
                 scale: float = 1000.0) -> DataFrame:
    """Polygon-polygon INTERSECTS join for diamond geometries —
    left(a_id, acx, acy, aw, ah) x right(b_id, bcx, bcy, bw, bh), all
    coordinates integers in 1/``scale`` degrees.  Returns (a_id, b_id)
    pairs whose closed diamonds intersect (touching counts).

    Scale shape: _grid_join over each diamond's integer bbox (cover,
    equi-join on (ix, iy), integer bbox prefilter, reference-point
    dedup) with diamond_sat_intersects as the refine — four integer
    separating-axis inequalities, whole-stage codegen, zero Python.
    """
    _require_integral(left, ["acx", "acy", "aw", "ah"], "diamond_join")
    _require_integral(right, ["bcx", "bcy", "bw", "bh"], "diamond_join")
    # small scans arrive as ONE split; the refine predicate then runs
    # single-task however many candidate rows the cell join fans out
    # (round-5: 18+ s wall vs ~1 CPU busy)
    left = floor(left)
    right = floor(right)

    def bbox(p):
        cx, cy, w, h = (F.col(p + c) for c in ("cx", "cy", "w", "h"))
        return (cx - w, cy - h, cx + w, cy + h)

    return _grid_join(
        (left, bbox("a")), (right, bbox("b")), res, ["a_id", "b_id"],
        refine=diamond_sat_intersects(
            F.col("acx"), F.col("acy"), F.col("aw"), F.col("ah"),
            F.col("bcx"), F.col("bcy"), F.col("bw"), F.col("bh")),
        scale=float(scale))


def _cross3(ox, oy, ax, ay, bx, by):
    """Integer cross product (a-o) x (b-o) — the CCW orientation
    primitive; with integer coordinates the sign is EXACT."""
    return (ax - ox) * (by - oy) - (ay - oy) * (bx - ox)


def segments_intersect_cols(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2):
    """Closed-set segment-intersection predicate (CLRS 33.1) over
    INTEGER coordinate columns: proper crossings via opposite CCW
    orientations, collinear/endpoint touches via the zero-cross +
    bbox-on-segment test.  Every comparison is BIGINT-exact, so the
    DuckDB twin writes the same expressions and can never diverge."""
    d1 = _cross3(bx1, by1, bx2, by2, ax1, ay1)
    d2 = _cross3(bx1, by1, bx2, by2, ax2, ay2)
    d3 = _cross3(ax1, ay1, ax2, ay2, bx1, by1)
    d4 = _cross3(ax1, ay1, ax2, ay2, bx2, by2)
    zero = F.lit(0).cast("long")
    proper = (((d1 > zero) & (d2 < zero)) | ((d1 < zero) & (d2 > zero))) \
        & (((d3 > zero) & (d4 < zero)) | ((d3 < zero) & (d4 > zero)))

    def on_seg(px, py, qx, qy, rx, ry):
        # r collinear with pq assumed; is r within pq's bbox?
        return (F.least(px, qx) <= rx) & (rx <= F.greatest(px, qx)) \
            & (F.least(py, qy) <= ry) & (ry <= F.greatest(py, qy))

    touch = ((d1 == zero) & on_seg(bx1, by1, bx2, by2, ax1, ay1)) \
        | ((d2 == zero) & on_seg(bx1, by1, bx2, by2, ax2, ay2)) \
        | ((d3 == zero) & on_seg(ax1, ay1, ax2, ay2, bx1, by1)) \
        | ((d4 == zero) & on_seg(ax1, ay1, ax2, ay2, bx2, by2))
    return proper | touch


def segment_join(left: DataFrame, right: DataFrame, res: int = 6,
                 scale: float = 1000.0) -> DataFrame:
    """Segment-segment INTERSECTION join — left(a_id, ax1, ay1, ax2,
    ay2) x right(b_id, bx1, by1, bx2, by2), integer coordinates in
    1/``scale`` degrees.  Returns (a_id, b_id) for every pair of
    closed segments that cross or touch.

    Same zero-Python shape as diamond_join: _grid_join over each
    segment's integer bbox, with the exact integer CCW test
    (segments_intersect_cols) as the refine."""
    _require_integral(left, ["ax1", "ay1", "ax2", "ay2"], "segment_join")
    _require_integral(right, ["bx1", "by1", "bx2", "by2"], "segment_join")
    # see diamond_join: probe-side parallelism floor for small scans
    left = floor(left)
    right = floor(right)

    def bbox(p):
        x1, y1, x2, y2 = (F.col(p + c) for c in ("x1", "y1", "x2", "y2"))
        return (F.least(x1, x2), F.least(y1, y2),
                F.greatest(x1, x2), F.greatest(y1, y2))

    return _grid_join(
        (left, bbox("a")), (right, bbox("b")), res, ["a_id", "b_id"],
        refine=segments_intersect_cols(
            F.col("ax1"), F.col("ay1"), F.col("ax2"), F.col("ay2"),
            F.col("bx1"), F.col("by1"), F.col("bx2"), F.col("by2")),
        scale=float(scale))


def _hull_extreme_points(px, py):
    """Extreme points (strict convex-hull vertices) of a point set —
    Andrew monotone chain with STRICT turns, so collinear boundary
    points and interior points drop; input deduplicated.  Returns the
    (k, 2) int array of extreme points in lexicographic order (a set,
    not a ring — order-free so any engine can compare)."""
    import numpy as np
    pts = np.unique(np.column_stack([np.asarray(px, np.int64),
                                     np.asarray(py, np.int64)]), axis=0)
    n = len(pts)
    if n <= 2:
        return pts

    def half(points):
        out = []
        for p in points:
            while len(out) >= 2:
                ox, oy = out[-2]
                ax, ay = out[-1]
                # strict left turn keeps; collinear/right drops
                if (ax - ox) * (p[1] - oy) - (ay - oy) * (p[0] - ox) > 0:
                    break
                out.pop()
            out.append((int(p[0]), int(p[1])))
        return out

    lower = half(pts)
    upper = half(pts[::-1])
    ring = lower[:-1] + upper[:-1]
    ring = sorted(set(ring))
    return np.array(ring, dtype=np.int64).reshape(-1, 2)


def convex_hull(points: DataFrame, group_cols: list[str] | None = None,
                x_col: str = "x", y_col: str = "y") -> DataFrame:
    """Distributed convex hull per group — the associative geometric
    aggregate: hull(A ∪ B) = hull(hull(A) ∪ hull(B)), so stage 1
    reduces each partition's points to its partial hull (map-side,
    like a sketch register table) and stage 2 merges the tiny
    partials.
    Returns the EXTREME points (strict vertices; collinear boundary
    and duplicate points drop) as rows (group_cols..., x, y) —
    a set, not a ring, so the result is order-free and an integer
    brute-force oracle (a point is non-extreme iff some triangle of
    other points covers it) can verify it exactly.

    Integer coordinates required (exact CCW tests — same rule as the
    SAT/CCW joins)."""
    import pandas as pd

    group_cols = list(group_cols or [])
    _require_integral(points, [x_col, y_col], "convex_hull")
    key_cols = group_cols + ["_part"]
    staged = points.withColumn("_part", F.spark_partition_id())

    def hull_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
        h = _hull_extreme_points(pdf[x_col].to_numpy(),
                                 pdf[y_col].to_numpy())
        out = pdf.iloc[:1][group_cols].reset_index(drop=True)
        out = out.loc[out.index.repeat(len(h))].reset_index(drop=True)
        out[x_col] = h[:, 0]
        out[y_col] = h[:, 1]
        return out

    schema_fields = []
    for f in points.schema.fields:
        if f.name in group_cols:
            schema_fields.append(f"{f.name} {f.dataType.simpleString()}")
    schema = ", ".join(schema_fields + [f"{x_col} long", f"{y_col} long"])
    partial = (staged.groupBy(*key_cols)
               .applyInPandas(lambda pdf: hull_pdf(pdf), schema))
    if group_cols:
        return (partial.groupBy(*group_cols)
                .applyInPandas(lambda pdf: hull_pdf(pdf), schema)
                .select(*group_cols, x_col, y_col))
    return (partial.withColumn("_g", F.lit(1))
            .groupBy("_g")
            .applyInPandas(lambda pdf: hull_pdf(pdf.drop(columns=["_g"])),
                           schema)
            .select(x_col, y_col))
