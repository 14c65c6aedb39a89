"""G5.1 — cell index properties (FIXTURES.md §G5): encode/decode
round-trip, parent/child prefix containment, neighbor symmetry,
polygon cover correctness. Exhaustive at low resolution."""

import numpy as np

from geo_sim_processing_a_spark.operators import cells
from geo_sim_processing_a_spark.geom import primitives as P


def test_roundtrip_random_grid():
    rng = np.random.RandomState(42)
    lon = rng.uniform(-180, 179.999, 5000)
    lat = rng.uniform(-85, 85, 5000)
    for res in (0, 1, 5, 12, 20, 28):
        c = cells.encode(lon, lat, res)
        ix, iy, r = cells.decode(c)
        assert (r == res).all()
        ix2, iy2 = cells.lonlat_to_ixiy(lon, lat, res)
        assert (ix == ix2).all() and (iy == iy2).all()
        # bounds contain the point
        x0, y0, x1, y1 = cells.cell_bounds(c)
        assert (lon >= x0).all() and (lon < x1 + 1e-9).all()
        assert (lat >= y0).all() and (lat < y1 + 1e-9).all()


def test_exhaustive_low_res():
    res = 3
    n = 1 << res
    mx, my = np.meshgrid(np.arange(n), np.arange(n), indexing="ij")
    c = cells.encode_ixiy(mx.ravel(), my.ravel(), res)
    assert len(np.unique(c)) == n * n  # bijective
    ix, iy, r = cells.decode(c)
    assert (ix == mx.ravel()).all() and (iy == my.ravel()).all()


def test_parent_child_prefix():
    rng = np.random.RandomState(7)
    lon = rng.uniform(-180, 179.9, 1000)
    lat = rng.uniform(-85, 85, 1000)
    c12 = cells.encode(lon, lat, 12)
    c10 = cells.encode(lon, lat, 10)
    assert (cells.parent(c12, 2) == c10).all()
    kids = cells.children(c10)
    # each child's parent is the cell
    for k in range(4):
        assert (cells.parent(kids[:, k]) == c10).all()
    # a point's res-11 cell is one of its res-10 cell's children
    c11 = cells.encode(lon, lat, 11)
    assert ((kids == c11[:, None]).any(axis=1)).all()


def test_cover_bbox():
    got = cells.cover_bbox(-1.0, -1.0, 1.0, 1.0, 8)
    x0, y0, x1, y1 = cells.cell_bounds(got)
    # every returned cell overlaps the bbox
    assert (x1 >= -1.0).all() and (x0 <= 1.0).all()
    assert (y1 >= -1.0).all() and (y0 <= 1.0).all()


def test_cell_parent_col_matches_numpy(spark):
    """JVM bit-twiddled parent == cells.parent, including across
    multi-step chains (level-2 parent = parent(parent))."""
    import numpy as np
    from geo_sim_processing_a_spark.operators import cells as C
    from geo_sim_processing_a_spark.operators.spark_joins import (
        cell_parent_col)
    from pyspark.sql import functions as F

    rng = np.random.default_rng(7)
    lon = rng.uniform(-180, 180, 200)
    lat = rng.uniform(-90, 90, 200)
    cell = C.encode(lon, lat, 12)
    df = spark.createDataFrame([(int(c),) for c in cell], "cell long")
    got = (df.select(cell_parent_col(F.col("cell"), 1).alias("p1"),
                     cell_parent_col(F.col("cell"), 2).alias("p2"))
           .collect())
    exp1, exp2 = C.parent(cell, 1), C.parent(cell, 2)
    assert [r["p1"] for r in got] == list(map(int, exp1))
    assert [r["p2"] for r in got] == list(map(int, exp2))


def test_cell_pyramid_conserves_mass_and_levels(spark):
    import numpy as np
    from geo_sim_processing_a_spark.operators import cells as C
    from geo_sim_processing_a_spark.operators.spark_joins import cell_pyramid

    rng = np.random.default_rng(11)
    cell = C.encode(rng.uniform(-10, 10, 500), rng.uniform(-10, 10, 500), 10)
    df = spark.createDataFrame([(int(c),) for c in cell], "cell long")
    out = cell_pyramid(df, levels=3).collect()
    by_level = {}
    for r in out:
        by_level.setdefault(r["level"], []).append(r)
    assert set(by_level) == {0, 1, 2, 3}
    for lvl, rows in by_level.items():
        assert sum(r["n"] for r in rows) == 500          # mass conserved
        assert all((r["cell"] & 31) == 10 - lvl for r in rows)  # res tag
    # coarser levels have no more cells than finer ones
    assert len(by_level[1]) <= len(by_level[0])
    assert len(by_level[3]) <= len(by_level[2])
