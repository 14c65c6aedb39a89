"""The bucket engine (``reduce_bend_tiles``): tiles run together in one
call give exactly what each gives alone, and the batched bend sums keep
the interpreter loops' summation order."""

import math

import numpy as np
import pandas as pd
import pytest

from geo_sim_processing_a_spark.functions.hashing import xxhash64_long_signed
from geo_sim_processing_a_spark.geom.epsilon import Epsilon
from geo_sim_processing_a_spark.kernels import reduce_bend as RBK
from geo_sim_processing_a_spark.kernels.reduce_bend import (
    KIND_LINE, KIND_POINT, KIND_POLYGON)
from geo_sim_processing_a_spark.operators.tiling import _cover_batch
from geo_sim_processing_a_spark.plans.pipeline import _reduce_bend_kernel
from geo_sim_processing_a_spark.sources.pages import (
    generate_pages_pdf, synthesize_geoms_pdf)

TOL = 3.0

# (kind, rings) per feature, one list per tile
GOLDEN_TILES = [
    # pivot on a bend (reference golden case 3)
    [(KIND_POLYGON, [[(5, 10), (5, 11), (6, 11), (6, 10), (10, 10), (10, 0), (0, 0),
                      (0, 10), (5, 10)]])],
    # several bends on one line
    [(KIND_LINE, [[(0, 10), (30, 10), (30, 11), (31, 11), (31, 10), (40, 10),
                   (50, 10), (50, 11), (51, 10), (60, 10)]])],
    # a point inside the bend blocks it
    [(KIND_POLYGON, [[(0, 0), (0, 20), (10, 20), (10, 21), (11, 21), (11, 20), (20, 20),
                      (20, 0), (0, 0)]]),
     (KIND_POINT, [[(10.1, 20.5)]])],
    # alternate bends
    [(KIND_LINE, [[(0, 0), (50, 0), (50, 2), (49, 2), (49, 1), (48, 1), (48, 3),
                   (51, 3), (51, 0), (100, 0)]])],
    # multi-ring polygon: a hole inside the bend blocks it
    [(KIND_POLYGON, [[(0, 0), (0, 20), (10, 20), (10, 21), (11, 21), (11, 20), (20, 20),
                      (20, 0), (0, 0)],
                     [(10.1, 20.1), (10.1, 20.2), (10.2, 20.2), (10.2, 20.1), (10.1, 20.1)]])],
    # smoothing case (reference golden case 26)
    [(KIND_LINE, [[(0, -25), (25, 0), (25, 1), (29, 1), (29, 0), (50, -25)]])],
]

# Per-tile epsilon: alone, each tile derives zero_relative from its own
# extent — 1e-6 around (1e6, 1e6), 1e-12 in the unit square.  The unit
# square's convex ring has a vertex 1.4e-8 from its predecessor: a
# duplicate only under the large tile's epsilon.
EPS_TILES = [
    [(KIND_POLYGON, [[(1e6, 1e6), (1e6 + 10, 1e6), (1e6 + 10, 1e6 + 10), (1e6, 1e6 + 10),
                      (1e6, 1e6)]])],
    [(KIND_POLYGON, [[(0, 0), (1, 0), (1, 1), (1 - 1e-8, 1 + 1e-8), (0, 1), (0, 0)]])],
]


def _window_tile(seed: int, cell: int) -> pd.DataFrame:
    """One tile of the benchmark's page window ``seed`` (3,000 pages,
    resolution 6): the pipeline's geometry synthesis and halo cover."""
    ids = np.arange(seed * 3000, seed * 3000 + 3000, dtype=np.int64)
    urls = generate_pages_pdf(ids)["url"].to_numpy()
    covered = _cover_batch(synthesize_geoms_pdf(urls, xxhash64_long_signed(ids)), 6)
    return covered[covered["cell"] == cell]


def _tiles_pdf(tiles: list, first_cell: int) -> pd.DataFrame:
    rows = []
    for k, feats in enumerate(tiles):
        for i, (kind, rings) in enumerate(feats):
            rings = [np.array(r, dtype=np.float64) for r in rings]
            rows.append({"cell": first_cell + k, "url": f"t{k}f{i}", "kind": kind,
                         "xs": np.concatenate([r[:, 0] for r in rings]),
                         "ys": np.concatenate([r[:, 1] for r in rings]),
                         "ring_offsets": list(np.cumsum([0] + [len(r) for r in rings[:-1]])),
                         "is_owner": True})
    return pd.DataFrame(rows)


def _bucket() -> pd.DataFrame:
    # a window tile that needs more than 3 passes
    multi = _window_tile(5, 115462)[["cell", "url", "kind", "xs", "ys", "ring_offsets",
                                      "is_owner"]]
    pdf = pd.concat([_tiles_pdf(EPS_TILES, 1), _tiles_pdf(GOLDEN_TILES, 10), multi],
                    ignore_index=True)
    pdf["salt"] = 0
    pdf["kind"] = pdf["kind"].astype("int8")
    return pdf


def _rows(out: pd.DataFrame) -> list:
    return [tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in out.itertuples(index=False)]


@pytest.mark.parametrize("smooth", [False, True])
def test_bucket_equals_tile_by_tile(smooth):
    """One bucket of mixed tiles (per-tile epsilon, pivots, a multi-ring
    polygon, alternates, a tile of > 3 passes) gives every output column
    — n_pass and n_bend_reduced included — exactly as the tiles run one
    per call: each keeps its own epsilon, pass loop and termination."""
    pdf = _bucket()
    together = _reduce_bend_kernel(pdf, TOL, smooth, epsilon=None)
    alone = pd.concat([_reduce_bend_kernel(grp, TOL, smooth, epsilon=None)
                       for _, grp in pdf.groupby("cell", sort=True)], ignore_index=True)
    assert _rows(together) == _rows(alone)
    passes = dict(zip(alone["cell"], alone["n_pass"]))
    assert passes[115462] > 3 and min(passes.values()) == 3  # tiles of unequal pass counts


def test_fixture_tiles_depend_on_their_own_epsilon():
    """The unit-square tile changes under the large tile's epsilon, so
    sharing one epsilon across the bucket would show above."""
    small = [RBK.Feature(k, [np.array(r, dtype=np.float64) for r in rings])
             for k, rings in EPS_TILES[1]]
    big = Epsilon.from_coords([np.array(r, dtype=np.float64) for _, rings in EPS_TILES[0]
                               for r in rings])
    own = RBK.reduce_bends(small, TOL).features[0].rings[0]
    shared = RBK.reduce_bends(small, TOL, epsilon=big).features[0].rings[0]
    assert len(own) != len(shared)


def _pairwise_differs(terms: list) -> bool:
    seq = 0.0
    for t in terms:
        seq += t
    return float(np.add.reduce(np.array(terms))) != seq


@pytest.mark.parametrize("block", [RBK._SUM_BLOCK, 256])
def test_batched_bend_sums_keep_the_loop_order(monkeypatch, block):
    """``_bend_sums`` gives the same doubles (==) as ``_Bend``'s
    interpreter-float loops for bends of 3-64 vertices at lon/lat
    magnitudes, in one accumulate block or in length-sorted blocks; a
    pairwise reduction (np.sum / np.add.reduce, pairwise past 8 terms)
    would not."""
    monkeypatch.setattr(RBK, "_SUM_BLOCK", block)
    rng = np.random.default_rng(11)
    rings, spans, start = [], [], 0
    for _ in range(400):
        n = int(rng.integers(3, 65))
        c = np.column_stack([rng.uniform(-180, 180, n), rng.uniform(-90, 90, n)])
        rings.append(c)
        spans.append((start, start + n - 1))
        start += n
    xy = np.concatenate(rings)
    lo = np.array([s for s, _ in spans])
    hi = np.array([e for _, e in spans])
    area, perim = RBK._bend_sums(xy, lo, hi)
    xs, ys = xy[:, 0].tolist(), xy[:, 1].tolist()
    for b, (s, e) in enumerate(spans):
        ref = RBK._Bend(0, e - s, xs, ys, s, e)
        assert area[b] == ref.area
        assert perim[b] == ref.perimeter
        assert (RBK.calculate_adj_area(area[b], perim[b])
                == RBK.calculate_adj_area(ref.area, ref.perimeter))
    # the fixture is strong enough: pairwise summation changes some sums
    assert any(_pairwise_differs([xs[k] * ys[k + 1] for k in range(s, e)])
               for s, e in spans)
    assert any(_pairwise_differs([math.hypot(xs[k + 1] - xs[k], ys[k + 1] - ys[k])
                                  for k in range(s, e)]) for s, e in spans)
