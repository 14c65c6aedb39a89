"""Sherbend (Wang–Müller) bend reduction — from-scratch NumPy kernel that
runs a whole bucket of independent tiles at once.

Semantics replicate the reference algorithm
(/root/reference/reduce_bend_algorithm.py) decision-for-decision so the
32 golden unit tests produce identical vertex sequences, but the
implementation is new: ragged NumPy coordinate arrays, vectorized angle
/ area math, and tile-local segment sets instead of a mutable global
QgsSpatialIndex (SURVEY.md §2.3-§2.4).

Key replicated behaviors (file:line refer to the reference):
 - epsilon rule                          reduce_bend_algorithm.py:1045-1088
 - duplicate-node removal               :1630-1634
 - co-linear vertex deletion (+ closed wrap case)  :1713-1752
 - bend detection via orientation inflexions        :1334-1384
 - closed-line pivot                                 :1299-1332
 - greedy non-adjacent flagging sorted by adj_area   :1219-1273
 - constraint order simplicity→alternates→intersection→sidedness :1793-1847
 - the reference's use of the ORIGINAL bend's subline/polygon for the
   intersection & sidedness checks even after an alternate bend was
   substituted (local `bend` binding at :1817 is not refreshed)
 - reversed bend processing within a line            :1893-1916
 - fixpoint loop with min 2 passes                   :1664-1699
 - smoothing geometry cases 1-3 with exact trig      :791-1006

Bucket and pass structure.  ``reduce_bend_tiles`` takes many tiles (a
Spark bucket chunk; ``reduce_bends`` is its one-tile call).  Every tile
keeps its own features, epsilon, counters and pass loop with the
reference's termination (``nbr_pass > 2 and reduced == 0``).  Each pass
of the still-active tiles has two halves:
 1. ``_sweep``: one batched pre-processing of every non-simplest
    geometry of every active tile on ragged arrays (concatenated
    coordinates plus offsets) — co-linear deletion with the closed-ring
    wrap case, vertex angles, orientation runs, bend spans, bend area
    and perimeter, the pivot and the flag rule.  The outcome is parked
    on the geometry: its new coordinates and the bends to reduce.
 2. ``_Tile.run_pass``: each tile walks its geometries in reference
    order.  At a geometry's turn its parked coordinates are applied,
    then its flagged bends are validated (in reverse) against the
    tile's ``_SegIndex`` and reduced.  The index is built once per tile
    and updated on every coordinate change.
A tile whose pass changed no coordinate would repeat that pass exactly
(only geometries it marked simplest drop out, and they reduced
nothing), so its remaining passes are recorded without being rerun.

Preconditions (tests/test_reduce_bend_batch.py fails when they break):
 - sweep exactness: everything before a geometry's bend processing
   reads only that geometry's coordinates, and processing geometry j
   mutates only geometry j.  So a geometry's coordinates at its turn
   are those it had at the start of the pass, and its pre-processing
   may run up front for the whole bucket.
 - summation order: elementwise ufuncs give the same doubles batched or
   not; reductions do not (``np.sum`` / ``np.add.reduce`` are pairwise
   past 8 terms).  Every bend sum (``_bend_sums``) is accumulated term
   by term in the order of ``_Bend``'s interpreter-float loops; a
   batched length or area that only feeds a threshold test is decided
   outside a guard band or recomputed exactly.

Intentional, documented divergences:
 - a zero-area bend would raise ZeroDivisionError in the reference's
   adjusted-area formula (:1202-1217); we define adj_area = 0.0 there.
 - `_resolve_non_valid_polygon` (:844-879) uses GEOS polygonize; we
   split the (only possible) bow-tie case directly, same accept/reject.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np

from ..geom.epsilon import Epsilon
from ..geom import primitives as P
from ..geom import relate as R

KIND_POINT = 0
KIND_LINE = 1
KIND_POLYGON = 2

# zero_angle does not depend on the data: one value for every Epsilon
_ZERO_ANGLE = Epsilon(None).zero_angle


# ---------------------------------------------------------------------------
# containers
# ---------------------------------------------------------------------------

@dataclass
class Feature:
    """One input feature: kind + rings (polygon: exterior first, closed;
    line: single entry; point: single (1,2) array). ``attrs`` is opaque
    and passed through untouched (SURVEY.md §1.1)."""

    kind: int
    rings: list  # list[np.ndarray (n,2) float64]
    attrs: object = None


class _Geom:
    """Mutable linestring under reduction (reference RbGeom, :685-739;
    ``_prepare`` sets its flags).  ``row`` is its position in the tile's
    geometry list; ``pending``, ``reduce`` and ``detected`` carry the
    sweep's outcome to the geometry's turn in the pass."""

    __slots__ = ("row", "original_kind", "coords", "is_simplest", "need_pivot",
                 "length_checked", "swept", "pending", "reduce", "detected")

    def __init__(self, row: int, original_kind: int, coords: np.ndarray):
        self.row = row
        self.original_kind = original_kind
        self.coords = np.asarray(coords, dtype=np.float64)
        self.is_simplest = original_kind == KIND_POINT
        self.need_pivot = False
        self.length_checked = False
        self.swept = None
        self.pending = None
        self.reduce = ()
        self.detected = 0


class _Bend:
    """Reference Bend (:742-781) over vertices lo..hi of the float lists
    ``xs``/``ys``; ``i``/``j`` are its vertex indices in the geometry.
    Used for alternate bends.  Area and perimeter are interpreter-float
    loops; ``_bend_sums`` is their batched twin and must return the same
    doubles (tests compare the two)."""

    __slots__ = ("i", "j", "area", "_perimeter", "_xs", "_ys", "_lo", "_hi")

    def __init__(self, i: int, j: int, xs: list, ys: list, lo: int, hi: int):
        self.i = i
        self.j = j
        # area eagerly (alternates are ranked by it), perimeter lazily
        s1 = 0.0
        s2 = 0.0
        xk, yk = xs[lo], ys[lo]
        for k in range(lo + 1, hi + 1):
            xn, yn = xs[k], ys[k]
            s1 += xk * yn
            s2 += xn * yk
            xk, yk = xn, yn
        s1 += xk * ys[lo]
        s2 += xs[lo] * yk
        self.area = abs(0.5 * (s1 - s2))
        self._xs, self._ys, self._lo, self._hi = xs, ys, lo, hi
        self._perimeter = None

    @property
    def perimeter(self) -> float:
        if self._perimeter is None:
            xs, ys, lo, hi = self._xs, self._ys, self._lo, self._hi
            s = 0.0
            xk, yk = xs[lo], ys[lo]
            for k in range(lo + 1, hi + 1):
                xn, yn = xs[k], ys[k]
                dx, dy = xn - xk, yn - yk
                s += math.sqrt(dx * dx + dy * dy)
                xk, yk = xn, yn
            dx, dy = xs[lo] - xk, ys[lo] - yk
            s += math.sqrt(dx * dx + dy * dy)
            self._perimeter = s
        return self._perimeter

    def bbox_f(self):
        """(xmin, ymin, xmax, ymax) from the float lists."""
        xs = self._xs[self._lo:self._hi + 1]
        ys = self._ys[self._lo:self._hi + 1]
        return (min(xs), min(ys), max(xs), max(ys))

    def chord_f(self):
        """The replacement chord endpoints as plain floats."""
        return (self._xs[self._lo], self._ys[self._lo],
                self._xs[self._hi], self._ys[self._hi])


@dataclass
class _BendReduced:
    """Reference BendReduced (:784-1006)."""

    geom: _Geom
    pt_start: np.ndarray
    pt_end: np.ndarray
    bend_ring: np.ndarray
    i: int | None = None
    j: int | None = None
    is_line_smoothable: bool | None = None
    smooth_line: np.ndarray | None = None
    smooth_parts: list = field(default_factory=list)


@dataclass
class ReduceBendResult:
    features: list
    in_nbr_features: int = 0
    out_nbr_features: int = 0
    nbr_bend_reduced: list = field(default_factory=list)
    nbr_bend_detected: list = field(default_factory=list)
    nbr_hole_del: int = 0
    nbr_pol_del: int = 0
    nbr_pass: int = 0
    nbr_line_smooth: int = 0


# ---------------------------------------------------------------------------
# scalar helpers (exact formula order matters)
# ---------------------------------------------------------------------------

def calculate_adj_area(area: float, perimeter: float) -> float:
    """Reference :1202-1217. Divergence: zero-area bend => 0.0 (the
    reference would raise ZeroDivisionError)."""
    if area == 0.0 or perimeter == 0.0:
        return 0.0
    compactness_index = 4 * area * math.pi / perimeter ** 2
    return area * (.75 / compactness_index)


def calculate_min_adj_area(diameter_tol: float) -> float:
    """Reference :1386-1397."""
    return .75 * math.pi * (diameter_tol / 2.) ** 2


def _remove_duplicate_nodes(coords: np.ndarray, epsilon: float) -> np.ndarray:
    """QgsLineString::removeDuplicateNodes(epsilon): drop a vertex within
    epsilon of the previously kept one; first and last are never removed."""
    n = len(coords)
    if n <= 2:
        return coords
    keep = [0]
    e2 = epsilon * epsilon
    for k in range(1, n - 1):
        dx = coords[k, 0] - coords[keep[-1], 0]
        dy = coords[k, 1] - coords[keep[-1], 1]
        if dx * dx + dy * dy > e2:
            keep.append(k)
    keep.append(n - 1)
    if len(keep) == n:
        return coords
    return coords[keep]


# ---------------------------------------------------------------------------
# batched pre-processing over ragged arrays
# ---------------------------------------------------------------------------

def _ragged(arrays: list):
    """(xy, starts, lens) of (n,2) coordinate arrays laid end to end."""
    lens = np.fromiter(map(len, arrays), np.int64, len(arrays))
    return np.concatenate(arrays), lens.cumsum() - lens, lens


def _angles(xy, prev, cur, nxt):
    """P.vertex_angles' arithmetic on gathered vertex triples (``cur``
    None: every vertex); like it, arctan2 runs on contiguous differences."""
    x, y = xy[:, 0], xy[:, 1]
    xc, yc = (x, y) if cur is None else (x[cur], y[cur])
    a = np.mod(np.arctan2(y[prev] - yc, x[prev] - xc)
               - np.arctan2(y[nxt] - yc, x[nxt] - xc), P.TWO_PI)
    a[a == P.TWO_PI] = 0.0
    return a


def _layout(xy, starts, lens):
    """(geometry, local index, angle) of every vertex of geometries of
    >= 2 vertices.  The angle is P.vertex_angles' value at local
    vertices 1..n-2 and, at vertex 0, the closed-ring angle with vertex
    n-2 as predecessor; other entries are filler."""
    v = np.arange(len(xy))
    gv = np.arange(len(lens)).repeat(lens)
    last = starts + lens - 1
    prev = v - 1
    prev[starts] = last - 1
    nxt = v + 1
    nxt[last] = last
    return gv, v - starts[gv], _angles(xy, prev, None, nxt)


def _near_flat(a, za: float):
    """The co-linear test: an angle within za of pi or of 0."""
    return (np.abs(a - math.pi) <= za) | (np.abs(a) <= za)


def _length_cmp(xy, starts, lens, zr, coords) -> np.ndarray:
    """sign(P.polyline_length(c) - zr) per geometry.  Batched lengths
    sum in another order than ``np.sum``, so only a length outside a
    factor-2 band around zr decides here; one inside it is recomputed
    exactly."""
    d = xy[1:] - xy[:-1]
    seg = np.sqrt(d[:, 0] * d[:, 0] + d[:, 1] * d[:, 1])
    seg[(starts + lens - 1)[:-1]] = 0.0  # no segment across geometries
    tot = np.add.reduceat(np.append(seg, 0.0), starts)
    out = np.where(tot > zr, 1, -1)
    for g in ((tot >= 0.5 * zr) & (tot <= 2.0 * zr)).nonzero()[0].tolist():
        length = P.polyline_length(coords[g])
        out[g] = (length > zr[g]) - (length < zr[g])
    return out


def _detect(starts, lens, closed, gv, t, a):
    """Bend spans of every geometry (reference :1334-1384): the vertex
    orientations (clockwise iff angle >= pi) flanked by their opposites;
    a bend runs from one inflexion to one past the next.  A closed ring
    of one orientation has no bend.  Returns global vertex spans
    (geom, lo, hi) ordered by geometry and position."""
    interior = t < (lens - 1)[gv]
    cw = a >= math.pi
    n_cw = np.bincount(gv[interior & cw], minlength=len(lens))
    has = (lens >= 3) & ~(closed & ((n_cw == 0) | (n_cw == lens - 1)))
    o = cw.copy()
    hs = starts[has]
    hl = hs + lens[has] - 1
    o[hs] = ~cw[hs + 1]
    o[hl] = ~cw[hl - 1]
    interior &= has[gv]
    inf = ((o[:-1] != o[1:]) & interior[:-1]).nonzero()[0]
    ig = gv[inf]
    pair = (ig[:-1] == ig[1:]).nonzero()[0]
    return ig[pair], inf[pair], inf[pair + 1] + 1


_SUM_BLOCK = 1 << 13  # cells of one accumulate block in _bend_sums (cache-sized)


def _accumulate(terms, lo, m):
    """Sequential sums of terms[:, lo:lo+m] per bend: term k of every
    bend in row k of a zero-padded block, ``np.add.accumulate`` down the
    rows (sequential, unlike np.add.reduce / reduceat)."""
    k = np.arange(int(m.max()))[:, None]
    block = terms.take(lo + k, axis=1, mode="clip")
    return np.add.accumulate(np.where(k < m, block, 0.0), axis=1)[:, -1]


def _bend_sums(xy, lo, hi):
    """(area, perimeter) of every bend over global vertices lo..hi, in
    ``_Bend``'s loop order: the products and segment lengths are
    elementwise, the three sums per bend are accumulated term by term
    (``_accumulate``) and the closing term is added last.  Blocks of
    bends sorted by length stay under _SUM_BLOCK cells."""
    x, y = xy[:, 0], xy[:, 1]
    d = xy[1:] - xy[:-1]
    terms = np.empty((3, len(d)))
    np.multiply(x[:-1], y[1:], out=terms[0])
    np.multiply(x[1:], y[:-1], out=terms[1])
    np.sqrt(d[:, 0] * d[:, 0] + d[:, 1] * d[:, 1], out=terms[2])
    m = hi - lo
    nb = len(m)
    if nb == 0:
        return np.empty(0), np.empty(0)
    if nb * int(m.max()) <= _SUM_BLOCK:
        sums = _accumulate(terms, lo, m)
    else:
        sums = np.empty((3, nb))
        order = np.argsort(-m, kind="stable")
        pos = 0
        while pos < nb:
            sel = order[pos:pos + max(1, _SUM_BLOCK // int(m[order[pos]]))]
            sums[:, sel] = _accumulate(terms, lo[sel], m[sel])
            pos += len(sel)
    c = xy[lo] - xy[hi]
    s1 = sums[0] + x[hi] * y[lo]
    s2 = sums[1] + x[lo] * y[hi]
    return np.abs(0.5 * (s1 - s2)), sums[2] + np.sqrt(c[:, 0] * c[:, 0] + c[:, 1] * c[:, 1])


def _bends_of(coords_list, closed):
    """(geom, i, j, area, perimeter) of every bend of the geometries,
    with i/j local vertex indices."""
    xy, s, n = _ragged(coords_list)
    gv, t, a = _layout(xy, s, n)
    g, lo, hi = _detect(s, n, closed, gv, t, a)
    area, perim = _bend_sums(xy, lo, hi)
    return g, lo - s[g], hi - s[g], area, perim


def _flag(bi, bj, area, perim, closed: bool, min_adj: float) -> list:
    """Reference :1219-1273 over one geometry's bends: the (i, j) of the
    bends to reduce, in bend order."""
    nb = len(area)
    if closed and nb >= 3:
        bi, bj, area, perim = bi[1:-1], bj[1:-1], area[1:-1], perim[1:-1]
        nb -= 2
    lst = [(calculate_adj_area(area[k], perim[k]), k) for k in range(nb)
           if area[k] < min_adj]
    if not lst:
        return []
    lst.sort(key=lambda t: t[0])
    to_reduce = [False] * nb
    start, end = 0, nb - 1
    for adj_area, i in lst:
        if adj_area <= min_adj:
            if len(lst) == 1:
                to_reduce[i] = True
            elif i == start:
                if not to_reduce[i + 1]:
                    to_reduce[i] = True
            elif i == end:
                if not to_reduce[i - 1]:
                    to_reduce[i] = True
            elif not (to_reduce[i - 1] or to_reduce[i + 1]):
                to_reduce[i] = True
        else:
            break
    return [(bi[k], bj[k]) for k in range(nb) if to_reduce[k]]


def _sweep(geoms: list, zr: np.ndarray, za: float, min_adj: float) -> None:
    """One pass's pre-processing of ``geoms`` (non-simplest geometries of
    the active tiles; ``zr`` holds their tiles' zero_relative, ``za`` is
    Epsilon's zero_angle): reference :1713-1752 (co-linear deletion),
    :1334-1384 (bends), :1299-1332 (pivot) and :1219-1273 (flags).
    Sets is_simplest / need_pivot / length_checked and parks the new
    coordinates (``pending``), the bends to reduce and the detected-bend
    count for the geometry's turn."""
    G = len(geoms)
    coords = [g.coords for g in geoms]
    for g in geoms:
        g.swept = g.coords
    xy, s, n = _ragged(coords)
    n0 = n
    closed = (xy[s] == xy[s + n - 1]).all(axis=1)
    gv, t, a = _layout(xy, s, n)

    # co-linear deletion of vertices 1..n-2, then the wrap test at
    # vertex 0 of a closed ring of >= 5 vertices
    dele = _near_flat(a, za) & (t >= 1) & (t < (n - 1)[gv])
    if dele.any():
        n = n - np.bincount(gv[dele], minlength=G)
        xy = xy[~dele]
        s = n.cumsum() - n
        a0 = _angles(xy, s + n - 2, s, s + 1)
    else:
        a0 = a[s]  # the closed-ring angle at vertex 0 of unchanged coords
    wrap = closed & (n >= 5) & _near_flat(a0, za)
    if wrap.any():
        # drop vertex 0 and re-close on vertex 1 (reference :606-613)
        ws = s[wrap]
        xy[ws + n[wrap] - 1] = xy[ws + 1]
        keep = np.ones(len(xy), bool)
        keep[ws] = False
        xy = xy[keep]
        n = n - wrap
        s = n.cumsum() - n
    mutated = n != n0
    if mutated.any():
        for g in mutated.nonzero()[0].tolist():
            coords[g] = xy[s[g]:s[g] + n[g]]
        gv, t, a = _layout(xy, s, n)

    # the length test runs once, then again after each mutation
    check = [gi for gi, g in enumerate(geoms) if mutated[gi] or not g.length_checked]
    if check:
        cmp = _length_cmp(xy, s, n, zr, coords)
        for gi in check:
            geoms[gi].length_checked = True
            if cmp[gi] <= 0:
                geoms[gi].is_simplest = True

    bg, lo, hi = _detect(s, n, closed, gv, t, a)
    area, perim = _bend_sums(xy, lo, hi)
    bi, bj = lo - s[bg], hi - s[bg]
    bstart = bg.searchsorted(np.arange(G + 1)).tolist()

    # pivot closed geometries still asking for one, then re-detect them
    pivots = [g for g in range(G) if geoms[g].need_pivot and bstart[g] < bstart[g + 1]]
    if pivots:
        area_l, bi_l, bj_l = area.tolist(), bi.tolist(), bj.tolist()
        rotated = []
        for g in pivots:
            loc, best = None, 0.0
            for b in range(bstart[g], bstart[g + 1]):
                if area_l[b] > best:
                    loc, best = b, area_l[b]
                if bj_l[b] - bi_l[b] >= 4 and area_l[b] >= min_adj:
                    loc = b
                    geoms[g].need_pivot = False
                    break
            if loc is not None:
                c = coords[g]
                k = (bj_l[loc] + bi_l[loc]) // 2
                coords[g] = np.vstack([c[k:], c[1:k + 1]])
                mutated[g] = True
                rotated.append(g)
        if rotated:
            rot = np.array(rotated)
            rg, ri, rj, ra, rp = _bends_of([coords[g] for g in rotated], closed[rot])
            keep = ~np.isin(bg, rot)
            bg = np.concatenate([bg[keep], rot[rg]])
            order = np.argsort(bg, kind="stable")
            bg = bg[order]
            bi = np.concatenate([bi[keep], ri])[order]
            bj = np.concatenate([bj[keep], rj])[order]
            area = np.concatenate([area[keep], ra])[order]
            perim = np.concatenate([perim[keep], rp])[order]
            bstart = bg.searchsorted(np.arange(G + 1)).tolist()

    with_cand = np.bincount(bg[area < min_adj], minlength=G).tolist()
    bi_l, bj_l = bi.tolist(), bj.tolist()
    area_l, perim_l = area.tolist(), perim.tolist()
    closed_l, mutated_l = closed.tolist(), mutated.tolist()
    for gi, g in enumerate(geoms):
        b0, b1 = bstart[gi], bstart[gi + 1]
        g.pending = coords[gi] if mutated_l[gi] else None
        g.detected = b1 - b0
        g.reduce = ()
        if b0 == b1:
            g.is_simplest = True
        elif with_cand[gi]:
            g.reduce = _flag(bi_l[b0:b1], bj_l[b0:b1], area_l[b0:b1], perim_l[b0:b1],
                             closed_l[gi], min_adj)


def _prepare(runs: list) -> None:
    """The RbGeom flags (reference :685-739) and duplicate-node removal
    (:1630-1634) of every geometry of the tiles, on one ragged layout.
    Lengths and ring areas only meet a threshold here: a batched sum
    decides outside a bound on its summation-order error, and a value
    inside it is recomputed exactly.  A geometry none of whose interior
    vertices lies within epsilon of its predecessor keeps all of them
    (each is kept, so each predecessor is the last kept one); the others
    run the sequential rule."""
    geoms, zr = [], []
    for run in runs:
        for g in run.geoms:
            if g.original_kind == KIND_POINT:
                continue
            if len(g.coords) < 2:  # no length, no area
                g.is_simplest = True
                continue
            geoms.append(g)
            zr.append(run.eps.zero_relative)
    if not geoms:
        return
    zr = np.array(zr)
    xy, s, n = _ragged([g.coords for g in geoms])
    x, y = xy[:, 0], xy[:, 1]
    last = s + n - 1
    closed = (xy[s] == xy[last]).all(1).tolist()
    long_ = (_length_cmp(xy, s, n, zr, [g.coords for g in geoms]) >= 0).tolist()
    nxt = np.arange(1, len(xy) + 1)
    nxt[last] = s
    t1 = x * y[nxt]
    t2 = x[nxt] * y
    area = np.abs(0.5 * (np.add.reduceat(t1, s) - np.add.reduceat(t2, s)))
    err = 8 * n * np.finfo(float).eps * np.add.reduceat(np.abs(t1) + np.abs(t2), s)
    big = np.where(area - zr > err, 1, np.where(zr - area > err, 0, -1)).tolist()
    for gi, g in enumerate(geoms):
        if g.original_kind == KIND_LINE:
            if not long_[gi]:
                g.is_simplest = True
                continue
            if not closed[gi]:
                continue
        if big[gi] < 0:
            big[gi] = abs(P.signed_area(g.coords)) > zr[gi]
        g.need_pivot = bool(big[gi])
        g.is_simplest = not big[gi]

    d = xy[1:] - xy[:-1]
    gv = np.arange(len(geoms)).repeat(n)[1:]
    t = np.arange(1, len(xy)) - s[gv]
    close = ((d[:, 0] * d[:, 0] + d[:, 1] * d[:, 1] <= (zr * zr)[gv])
             & (t >= 1) & (t < (n - 1)[gv]))
    for gi in np.unique(gv[close]).tolist():
        g = geoms[gi]
        if not g.is_simplest:
            g.coords = _remove_duplicate_nodes(g.coords, zr[gi])


# ---------------------------------------------------------------------------
# tile segment index
# ---------------------------------------------------------------------------

_DEAD = (math.inf,) * 8  # a free slot meets no rect


class _SegIndex:
    """A tile's live segments and points in flat slots — the tile-local
    stand-in for the reference's QgsSpatialIndex (:481-534).  A query is
    one vectorized bbox test over the slots; every coordinate change
    rewrites only the slots of the segments it replaced.  ``box`` rows
    are (xmin, ymin, -xmax, -ymax, x0, y0, x1, y1): a slot meets rect
    iff its first four are <= (rect xmax, ymax, -xmin, -ymin).  ``owner``
    is each slot's geometry row and ``slots`` each geometry's slots in
    segment order (a point: one degenerate slot)."""

    def __init__(self, box, owner: list, slots: list, is_point: list):
        self.box, self.owner, self.slots, self.is_point = box, owner, slots, is_point
        self.free = []

    def query(self, rect):
        """(slots, [x0, y0, x1, y1] lists) of the slots meeting rect."""
        q = np.array((rect[2], rect[3], -rect[0], -rect[1]))
        hit = (self.box[:, :4] <= q).all(1).nonzero()[0]
        return hit.tolist(), self.box[hit, 4:].tolist()

    def _set(self, slot, x0, y0, x1, y1):
        self.box[slot] = (min(x0, x1), min(y0, y1), -max(x0, x1), -max(y0, y1),
                          x0, y0, x1, y1)

    def replace(self, row: int, k0: int, k1: int, xs: list, ys: list) -> None:
        """Segments k0..k1-1 of geometry ``row`` become the chain through
        the vertices xs/ys."""
        old = self.slots[row][k0:k1]
        m = len(xs) - 1
        while len(old) < m:
            if self.free:
                old.append(self.free.pop())
            else:
                self.box = np.concatenate([self.box, [_DEAD]])
                self.owner.append(row)
                old.append(len(self.owner) - 1)
        for k in range(m):
            self._set(old[k], xs[k], ys[k], xs[k + 1], ys[k + 1])
            self.owner[old[k]] = row
        self.box[old[m:]] = _DEAD
        self.free.extend(old[m:])
        self.slots[row][k0:k1] = old[:m]

    def reset(self, row: int, coords: np.ndarray) -> None:
        self.replace(row, 0, len(self.slots[row]), coords[:, 0].tolist(),
                     coords[:, 1].tolist())


def _index_tiles(runs: list) -> None:
    """Build the segment index of every tile in ``runs`` from one ragged
    layout of all their geometries (vectorized over the bucket; each
    tile gets views of its slot range)."""
    geoms = [g for run in runs for g in run.geoms]
    xy, s, n = _ragged([g.coords for g in geoms])
    point = np.fromiter((g.original_kind == KIND_POINT for g in geoms), bool, len(geoms))
    lens = np.where(point, 1, np.maximum(n - 1, 0))
    first = lens.cumsum() - lens
    a = (s - first).repeat(lens) + np.arange(int(lens.sum()))
    p, q = xy[a], xy[a + (~point).repeat(lens)]
    box = np.concatenate([np.minimum(p, q), -np.maximum(p, q), p, q], axis=1)
    row = np.concatenate([np.arange(len(run.geoms)) for run in runs]).repeat(lens).tolist()
    first, lens, point = first.tolist(), lens.tolist(), point.tolist()
    g0 = 0
    for run in runs:
        g1 = g0 + len(run.geoms)
        lo = first[g0]
        hi = first[g1 - 1] + lens[g1 - 1]
        run.index = _SegIndex(box[lo:hi], row[lo:hi],
                              [list(range(f - lo, f - lo + ln))
                               for f, ln in zip(first[g0:g1], lens[g0:g1])],
                              point[g0:g1])
        g0 = g1


# ---------------------------------------------------------------------------
# the engine
# ---------------------------------------------------------------------------

class _Tile:
    """One tile's bend-reduction state: its features and geometries,
    epsilon, result counters and segment index (one tile's features
    when called from Spark; the whole dataset in unit tests — semantics
    identical since constraint checks only consult bbox-overlapping
    segments, SURVEY.md §3.3)."""

    def __init__(self, features: list, diameter_tol: float, smooth_line=False,
                 flag_del_outer=False, flag_del_inner=False, epsilon: Epsilon | None = None):
        self.features = list(features)
        self.diameter_tol = float(diameter_tol)
        self.smooth_line = smooth_line
        self.flag_del_outer = flag_del_outer
        self.flag_del_inner = flag_del_inner
        self.eps = epsilon or Epsilon.from_coords([r for f in features for r in f.rings])
        self.res = ReduceBendResult(features=[])
        self.res.in_nbr_features = len(self.features)
        self.bends_reduced: list[_BendReduced] = []
        self.index: _SegIndex | None = None
        if self.flag_del_outer or self.flag_del_inner:
            self._del_outer_inner_ring()
        self.geoms: list[_Geom] = []
        self.feature_geoms: list[list[_Geom]] = []
        for f in self.features:
            geoms = [_Geom(len(self.geoms) + k, f.kind, ring)
                     for k, ring in enumerate(f.rings)]
            self.feature_geoms.append(geoms)
            self.geoms.extend(geoms)

    def _del_outer_inner_ring(self):
        """Reference :1638-1662 (pre-geom deletion pass)."""
        min_adj_area = calculate_min_adj_area(self.diameter_tol)
        for i in reversed(range(len(self.features))):
            f = self.features[i]
            if f.kind != KIND_POLYGON:
                continue
            for j in reversed(range(len(f.rings))):
                ring = np.asarray(f.rings[j], dtype=np.float64)
                area = P.ring_area(ring)
                perimeter = P.ring_perimeter(ring)
                adj_area = calculate_adj_area(area, perimeter)
                if j == 0:
                    if self.flag_del_outer and adj_area < min_adj_area:
                        del self.features[i]
                        self.res.nbr_pol_del += 1
                        break
                else:
                    if self.flag_del_inner and adj_area < min_adj_area:
                        # a copy: the caller's feature keeps its rings
                        f = self.features[i] = Feature(f.kind, f.rings[:j] + f.rings[j + 1:],
                                                       f.attrs)
                        self.res.nbr_hole_del += 1

    # -- passes -------------------------------------------------------------------

    def run_pass(self, swept: list) -> bool:
        """Reference :1664-1699, one pass over the geometries the sweep
        prepared, in order.  Returns True when the tile is finished."""
        res = self.res
        reduced = 0
        changed = False
        for geom in swept:
            if geom.pending is not None:
                self._set_coords(geom, geom.pending)
                geom.pending = None
                changed = True
            reduced += self._process_bends(geom)
        detected = swept[-1].detected if swept else 0
        res.nbr_bend_reduced.append(reduced)
        res.nbr_bend_detected.append(detected)
        if res.nbr_pass > 2 and reduced == 0:
            return True
        res.nbr_pass += 1
        if changed or reduced:
            return False
        # nothing changed: every later pass repeats this one, without
        # the geometries it found simplest (they reduced nothing)
        live = [g for g in swept if not g.is_simplest]
        detected = live[-1].detected if live else 0
        while True:
            res.nbr_bend_reduced.append(0)
            res.nbr_bend_detected.append(detected)
            if res.nbr_pass > 2:
                return True
            res.nbr_pass += 1

    def _set_coords(self, geom: _Geom, coords: np.ndarray):
        geom.coords = coords
        if self.index is not None:
            self.index.reset(geom.row, coords)

    def _process_bends(self, geom: _Geom) -> int:
        """Reference :1893-1916."""
        nbr = 0
        for i, j in reversed(geom.reduce):
            bend = self._validate_constraints(geom, i, j)
            if bend is not None:
                i, j = bend
                c = geom.coords
                if self.smooth_line:
                    self.bends_reduced.append(_BendReduced(
                        geom, c[i].copy(), c[j].copy(), c[i:j + 1].copy()))
                self._delete_vertices(geom, i, j)
                nbr += 1
        return nbr

    def _delete_vertices(self, geom: _Geom, i: int, j: int):
        """Drop vertices i+1..j-1 (reference RbCollection.delete_vertex,
        :571-615; i >= 0, so never its circular-array case)."""
        c = geom.coords
        geom.coords = np.concatenate((c[:i + 1], c[j:]))
        if self.index is not None:
            self.index.replace(geom.row, i, j, [c[i, 0], c[j, 0]], [c[i, 1], c[j, 1]])

    # -- segment queries ------------------------------------------------------------

    def _grow(self, rect):
        e = self.eps.zero_relative * 100.
        return (rect[0] - e, rect[1] - e, rect[2] + e, rect[3] + e)

    def _segments_in_rect(self, geom: _Geom, rect, excl_lo: int, excl_hi: int,
                          subline: np.ndarray, sl_bbox, others=True):
        """(own segments, other segments, other points) intersecting
        rect, as [x0, y0, x1, y1] float lists (reference :506-534).  Own segments
        exclude indices [excl_lo, excl_hi) and any segment lying within
        the old subline (its bbox sl_bbox skips the exact
        test for segments outside it)."""
        idx = self.index
        row = geom.row
        own = idx.slots[row]
        excl = set(own[excl_lo:excl_hi]) if excl_hi > excl_lo else ()
        sx0, sy0, sx1, sy1 = sl_bbox
        self_segs, other_segs, other_pts = [], [], []
        owner, is_point = idx.owner, idx.is_point
        for slot, s in zip(*idx.query(rect)):
            r = owner[slot]
            if r == row:
                if slot in excl:
                    continue
                x0, y0, x1, y1 = s
                if (sx0 <= x0 <= sx1 and sy0 <= y0 <= sy1
                        and sx0 <= x1 <= sx1 and sy0 <= y1 <= sy1
                        and P.point_on_polyline(x0, y0, subline)
                        and P.point_on_polyline(x1, y1, subline)
                        and P.point_on_polyline(0.5 * (x0 + x1), 0.5 * (y0 + y1), subline)):
                    continue
                self_segs.append(s)
            elif not others:
                continue
            elif is_point[r]:
                other_pts.append((s[0], s[1]))
            else:
                other_segs.append(s)
        return self_segs, other_segs, other_pts

    # -- constraints ------------------------------------------------------------

    @staticmethod
    def _chord_simplicity_ok(ax0, ay0, ax1, ay1, self_segs: list) -> bool:
        for x0, y0, x1, y1 in self_segs:
            if R.chord_violated_f(ax0, ay0, ax1, ay1, x0, y0, x1, y1):
                return False
        return True

    @staticmethod
    def _chord_intersection_ok(ax0, ay0, ax1, ay1, other_segs: list,
                               other_pts: list) -> bool:
        for x0, y0, x1, y1 in other_segs:
            if R.chord_intersects_f(ax0, ay0, ax1, ay1, x0, y0, x1, y1):
                return False
        for px, py in other_pts:
            if R.chord_touches_point_f(ax0, ay0, ax1, ay1, px, py):
                return False
        return True

    @staticmethod
    def _validate_simplicity(self_segs: list, new_subline) -> bool:
        if len(new_subline) == 2:  # chord case: interpreter-float loop
            return _Tile._chord_simplicity_ok(
                float(new_subline[0, 0]), float(new_subline[0, 1]),
                float(new_subline[1, 0]), float(new_subline[1, 1]), self_segs)
        for s in self_segs:  # smooth 4-point line (rare)
            if R.simplicity_violated(new_subline,
                                     np.array([[s[0], s[1]], [s[2], s[3]]])):
                return False
        return True

    @staticmethod
    def _validate_intersection(other_segs: list, other_pts: list,
                               new_subline) -> bool:
        if len(new_subline) == 2:  # chord case: interpreter-float loop
            return _Tile._chord_intersection_ok(
                float(new_subline[0, 0]), float(new_subline[0, 1]),
                float(new_subline[1, 0]), float(new_subline[1, 1]),
                other_segs, other_pts)
        for s in other_segs:
            if not R.disjoint_line_segment(new_subline,
                                           np.array([[s[0], s[1]], [s[2], s[3]]])):
                return False
        for pt in other_pts:
            if not R.disjoint_line_point(new_subline, pt):
                return False
        return True

    @staticmethod
    def _validate_sidedness(other_segs: list, other_pts: list, bend_ring) -> bool:
        for s in other_segs:
            if R.ring_contains_segment(bend_ring,
                                       np.array([[s[0], s[1]], [s[2], s[3]]])):
                return False
        for pt in other_pts:
            if R.ring_contains_point(bend_ring, pt):
                return False
        return True

    def _validate_alternate_bend(self, geom: _Geom, i: int, j: int, pts: np.ndarray,
                                 xs: list, ys: list):
        """Reference :1467-1498 (alternates of the bend i..j with vertices
        pts / float lists xs, ys, largest area first) and :1754-1791
        (simplicity-only check per alternate).  Returns the first valid
        alternate's (i, j), or None."""
        alternates = []
        while j - 1 >= 2:
            ia = i
            while j - ia >= 2:
                alternates.append(_Bend(ia, j, xs, ys, ia - i, j - i))
                ia += 1
            j -= 1
        alternates.sort(key=lambda b: b.area, reverse=True)
        for alt in alternates:
            bb = alt.bbox_f()
            self_segs, _, _ = self._segments_in_rect(
                geom, self._grow(bb), alt.i, alt.j, pts[alt._lo:alt._hi + 1], bb,
                others=False)
            if self._chord_simplicity_ok(*alt.chord_f(), self_segs):
                return alt.i, alt.j
        return None

    def _validate_constraints(self, geom: _Geom, i: int, j: int):
        """Reference :1793-1847 for the bend i..j — including keeping the
        ORIGINAL bend's subline/polygon for checks 2 and 3 after an
        alternate swap.  Returns the (i, j) to reduce (the bend's or its
        alternate's), or None."""
        pts = geom.coords[i:j + 1]
        xs = pts[:, 0].tolist()
        ys = pts[:, 1].tolist()
        bb = (min(xs), min(ys), max(xs), max(ys))
        self_segs, other_segs, other_pts = self._segments_in_rect(
            geom, self._grow(bb), i, j, pts, bb)

        ax0, ay0, ax1, ay1 = xs[0], ys[0], xs[-1], ys[-1]
        chosen = (i, j)
        # 2-point length via the same sqrt(dx*dx+dy*dy) float ops,
        # without the array machinery
        _dx = ax1 - ax0
        _dy = ay1 - ay0
        if math.sqrt(_dx * _dx + _dy * _dy) >= self.eps.zero_relative:
            if not self._chord_simplicity_ok(ax0, ay0, ax1, ay1, self_segs):
                chosen = self._validate_alternate_bend(geom, i, j, pts, xs, ys)
                if chosen is None:
                    return None
        # else: degenerate zero-length base — reference only logs (:1830-1836)

        # the ORIGINAL bend's chord: checks 2 and 3 keep the original
        # subline/polygon even after an alternate swap (reference)
        if not self._chord_intersection_ok(ax0, ay0, ax1, ay1, other_segs, other_pts):
            return None
        if not self._validate_sidedness(other_segs, other_pts, pts):
            return None
        return chosen

    # -- smoothing --------------------------------------------------------------------

    @staticmethod
    def _calculate_smooth_angle(angle_i, angle_j, smooth_case):
        """Reference BendReduced._calculate_angle (:791-819)."""
        if angle_i > math.pi:
            angle_i = (2 * math.pi) - angle_i
        if angle_j > math.pi:
            angle_j = (2 * math.pi) - angle_j
        angle_smooth = max(angle_i, angle_j)
        angle_smooth = math.pi - angle_smooth
        if smooth_case == 1:
            angle_smooth /= 1.5
            if math.degrees(angle_smooth) > 30.:
                angle_smooth = math.radians(30.)
        else:  # cases 2 and 3
            if smooth_case == 2:
                angle_smooth /= 2.5
                if math.degrees(angle_smooth) > 20.:
                    angle_smooth = math.radians(20.)
            else:
                angle_smooth /= 3
                if math.degrees(angle_smooth) > 20.:
                    angle_smooth = math.radians(20.)
        return angle_smooth

    def _calculate_smooth_line(self, br: _BendReduced):
        """Reference :900-976 — translate to bend.i, rotate onto x-axis,
        place 2 points at 1/3 and 2/3 of the base, rotate/translate back."""
        cx, cy = P.ring_centroid(br.bend_ring)
        g = br.geom.coords
        sub = np.vstack([g[br.i - 1], g[br.i], g[br.j], g[br.j + 1]])
        tx, ty = sub[1, 0], sub[1, 1]
        sub_t = sub - np.array([tx, ty])
        cen_t = np.array([[cx - tx, cy - ty]])

        x_axis_length = math.hypot(sub_t[2, 0] - sub_t[1, 0], sub_t[2, 1] - sub_t[1, 1])
        angle_x_axis = P.angle_between_three_points(
            x_axis_length, 0., sub_t[1, 0], sub_t[1, 1], sub_t[2, 0], sub_t[2, 1])
        angle_deg = math.degrees(float(angle_x_axis))
        sub_r = P.rotate_cw(sub_t, -angle_deg)
        cen_r = P.rotate_cw(cen_t, -angle_deg)

        base_length = sub_r[2, 0]
        p0_x = base_length * (1. / 3.)
        p1_x = base_length * (2. / 3.)

        if sub_r[0, 1] * sub_r[3, 1] > 0:
            if sub_r[0, 1] * cen_r[0, 1] < 0:
                smooth_case = 1
            else:
                smooth_case = 2
        else:
            smooth_case = 3

        angle_i = float(P.angle_between_three_points(
            sub_r[0, 0], sub_r[0, 1], sub_r[1, 0], sub_r[1, 1], sub_r[2, 0], sub_r[2, 1]))
        angle_j = float(P.angle_between_three_points(
            sub_r[1, 0], sub_r[1, 1], sub_r[2, 0], sub_r[2, 1], sub_r[3, 0], sub_r[3, 1]))
        angle_smooth = self._calculate_smooth_angle(angle_i, angle_j, smooth_case)

        p0_y = math.tan(angle_smooth) * p0_x
        if smooth_case in (1, 2):
            if sub_r[0, 1] > 0.:
                p0_y *= -1
            s0 = (p0_x, p0_y)
            s1 = (p1_x, p0_y)
        else:
            if sub_r[0, 1] > 0.:
                p0_y *= -1
            s0 = (p0_x, p0_y)
            p0_y *= -1
            s1 = (p1_x, p0_y)

        smooth = np.array([[sub_r[1, 0], sub_r[1, 1]], [s0[0], s0[1]],
                           [s1[0], s1[1]], [sub_r[2, 0], sub_r[2, 1]]])
        smooth = P.rotate_cw(smooth, angle_deg)
        smooth = smooth + np.array([tx, ty])
        br.smooth_line = smooth

    def _resolve_non_valid_polygon(self, br: _BendReduced):
        """Reference :844-879: close the smooth line; if the ring
        self-intersects, split into valid parts (the only geometry a
        4-point smooth line can produce is a bow-tie across the base);
        reject smoothing if a part is degenerate."""
        ring = np.vstack([br.smooth_line, br.smooth_line[:1]])
        # check ring simplicity: only non-adjacent segment pairs can cross
        sl = br.smooth_line
        closure = (sl[3], sl[0])
        mid = (sl[1], sl[2])
        cross = P.segment_intersection_point(closure[0], closure[1], mid[0], mid[1])
        crosses = cross is not None and not (
            (cross[0] == sl[0][0] and cross[1] == sl[0][1]) or
            (cross[0] == sl[3][0] and cross[1] == sl[3][1]))
        if not crosses:
            br.smooth_parts = [ring]
            return
        x = np.array(cross)
        part1 = np.vstack([sl[0], sl[1], x, sl[0]])
        part2 = np.vstack([x, sl[2], sl[3], x])
        parts = []
        for part in (part1, part2):
            if P.ring_area(part) > self.eps.zero_relative:
                parts.append(part)
            else:
                br.is_line_smoothable = False
                br.smooth_parts = []
                return
        br.smooth_parts = parts

    def _set_smooth_values(self, br: _BendReduced):
        """Reference set_values (:978-1006)."""
        base_len = math.hypot(br.pt_end[0] - br.pt_start[0], br.pt_end[1] - br.pt_start[1])
        if base_len > self.diameter_tol * (2. / 3.):
            br.i = self._extract_vertex_ind(br.geom, br.pt_start)
            br.j = self._extract_vertex_ind(br.geom, br.pt_end)
            if br.i is not None and br.j is not None:
                if br.i + 1 == br.j:
                    if br.i >= 1 and br.j <= len(br.geom.coords) - 2:
                        br.is_line_smoothable = True
                    else:
                        br.is_line_smoothable = False
                else:
                    br.is_line_smoothable = False
            else:
                br.is_line_smoothable = False
        if br.is_line_smoothable:
            self._calculate_smooth_line(br)
            self._resolve_non_valid_polygon(br)

    def _extract_vertex_ind(self, geom: _Geom, pt) -> int | None:
        """Reference :881-898 (closestVertex + distance gate)."""
        d2 = (geom.coords[:, 0] - pt[0]) ** 2 + (geom.coords[:, 1] - pt[1]) ** 2
        vid = int(np.argmin(d2))
        if math.sqrt(d2[vid]) < self.eps.zero_relative:
            return vid
        return None

    def _validate_constraints_smooth(self, br: _BendReduced) -> bool:
        """Reference :1849-1891."""
        if br.smooth_parts:
            allpts = np.vstack(br.smooth_parts)
        else:
            allpts = br.smooth_line
        rect = self._grow(P.bbox(allpts))
        old_subline = np.vstack([br.pt_start, br.pt_end])
        self_segs, other_segs, other_pts = self._segments_in_rect(
            br.geom, rect, br.i, br.j, old_subline, P.bbox(old_subline))

        if not self._validate_simplicity(self_segs, br.smooth_line):
            return False
        if not self._validate_intersection(other_segs, other_pts, br.smooth_line):
            return False
        for part in br.smooth_parts:
            if not self._validate_sidedness(other_segs, other_pts, part):
                return False
        return True

    def manage_smooth_line(self):
        """Reference :1918-1937."""
        for br in self.bends_reduced:
            self._set_smooth_values(br)
            if br.is_line_smoothable:
                if self._validate_constraints_smooth(br):
                    g = br.geom
                    c = g.coords
                    sm = br.smooth_line
                    g.coords = np.vstack([c[:br.i + 1], sm[1:3], c[br.j:]])
                    self.index.replace(g.row, br.i, br.j,
                                       [c[br.i, 0], sm[1, 0], sm[2, 0], c[br.j, 0]],
                                       [c[br.i, 1], sm[1, 1], sm[2, 1], c[br.j, 1]])
                    self.res.nbr_line_smooth += 1

    # -- output ---------------------------------------------------------------------

    def result(self) -> ReduceBendResult:
        if self.smooth_line:
            self.manage_smooth_line()
        self.res.features = [Feature(f.kind, [g.coords for g in geoms], f.attrs)
                             for f, geoms in zip(self.features, self.feature_geoms)]
        self.res.out_nbr_features = len(self.res.features)
        return self.res


def reduce_bend_tiles(tiles: list, diameter_tol, smooth_line=False, flag_del_outer=False,
                      flag_del_inner=False, epsilon: Epsilon | None = None) -> list:
    """Sherbend over independent tiles (each a list of Features), one
    ReduceBendResult per tile.  Every tile keeps its own epsilon
    (``epsilon=None`` derives each from its own features), pass loop and
    termination; a pass sweeps the pre-processing of all still-active
    tiles at once (module docstring)."""
    runs = [_Tile(t, diameter_tol, smooth_line, flag_del_outer, flag_del_inner, epsilon)
            for t in tiles]
    min_adj = calculate_min_adj_area(float(diameter_tol))
    _prepare(runs)
    active = runs
    while active:
        swept, todo, zr = [], [], []
        for run in active:
            mine = [g for g in run.geoms if not g.is_simplest]
            swept.append(mine)
            # a geometry unchanged since its last sweep keeps its outcome
            for g in mine:
                if g.swept is not g.coords:
                    todo.append(g)
                    zr.append(run.eps.zero_relative)
        if todo:
            _sweep(todo, np.array(zr), _ZERO_ANGLE, min_adj)
        unindexed = [run for run, mine in zip(active, swept)
                     if run.index is None and any(g.reduce for g in mine)]
        if unindexed:
            _index_tiles(unindexed)
        active = [run for run, mine in zip(active, swept) if not run.run_pass(mine)]
    return [run.result() for run in runs]


def reduce_bends(features, diameter_tol, smooth_line=False, flag_del_outer=False,
                 flag_del_inner=False, epsilon: Epsilon | None = None) -> ReduceBendResult:
    """Facade mirroring the reference's ReduceBend.reduce (:1164-1184):
    the one-tile call of ``reduce_bend_tiles``."""
    return reduce_bend_tiles([features], diameter_tol, smooth_line, flag_del_outer,
                             flag_del_inner, epsilon)[0]
