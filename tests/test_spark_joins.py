"""G5.2/G5.3 — PIP join and kNN against brute-force NumPy oracles."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geo_sim_processing_a_spark.geom import primitives as P
from geo_sim_processing_a_spark.operators.spark_joins import knn_join, pip_join


def make_points(spark, n=2000, lo=-3.0, hi=3.0, seed=42):
    rng = np.random.RandomState(seed)
    lon = rng.uniform(lo, hi, n)
    lat = rng.uniform(lo, hi, n)
    pdf = [(int(i), float(lon[i]), float(lat[i])) for i in range(n)]
    return (spark.createDataFrame(pdf, "pid long, lon double, lat double"),
            lon, lat)


def make_polys(spark, m=40, seed=7):
    rng = np.random.RandomState(seed)
    rows = []
    rings = {}
    for j in range(m):
        cx, cy = rng.uniform(-2.5, 2.5, 2)
        w, h = rng.uniform(0.1, 0.9, 2)
        ang = rng.uniform(0, np.pi)
        # rotated rectangle => generic PIP, not just range predicates
        base = np.array([(-w, -h), (w, -h), (w, h), (-w, h), (-w, -h)])
        rot = np.array([[np.cos(ang), -np.sin(ang)], [np.sin(ang), np.cos(ang)]])
        ring = base @ rot.T + np.array([cx, cy])
        rings[j] = ring
        rows.append((int(j), ring[:, 0].tolist(), ring[:, 1].tolist()))
    return (spark.createDataFrame(rows, "poly_id long, xs array<double>, ys array<double>"),
            rings)


def make_ring_polys(spark, n=3000, seed=13):
    """Polygons in flat (xs, ys, ring_offsets) form: an unclosed
    pentagon, a square with two holes (one unclosed), a row with NULL
    ring_offsets (one unclosed ring), and an unclosed U with horizontal
    edges.  Points: uniform over the extent, plus points whose lat
    equals a vertex y, points on every horizontal edge, and the
    vertices themselves."""
    polys = {
        0: ([0.0, 4.0, 5.0, 2.0, -1.0], [0.0, 0.0, 3.0, 5.0, 3.0], [0]),
        1: ([10.0, 20.0, 20.0, 10.0, 10.0, 12.0, 14.0, 14.0, 12.0,
             16.0, 16.0, 18.0, 18.0, 16.0],
            [0.0, 0.0, 10.0, 10.0, 0.0, 2.0, 2.0, 4.0, 4.0,
             5.0, 8.0, 8.0, 5.0, 5.0], [0, 5, 9]),
        2: ([-5.0, 0.0, 3.0], [-5.0, -8.0, -2.0], None),
        3: ([22.0, 28.0, 28.0, 26.0, 26.0, 24.0, 24.0, 22.0],
            [0.0, 0.0, 6.0, 6.0, 2.0, 2.0, 6.0, 6.0], [0]),
    }
    rng = np.random.RandomState(seed)
    lon = list(rng.uniform(-6.0, 29.0, n))
    lat = list(rng.uniform(-9.0, 11.0, n))
    all_x = [x for xs, _, _ in polys.values() for x in xs]
    all_y = [y for _, ys, _ in polys.values() for y in ys]
    for y in sorted(set(all_y)):                  # lat on a vertex y
        lon += list(rng.uniform(-6.0, 29.0, 60))
        lat += [y] * 60
    for xs, ys, _ in polys.values():              # on horizontal edges
        for k in range(len(xs)):
            j = (k + 1) % len(xs)
            if ys[k] == ys[j] and xs[k] != xs[j]:
                lon += list(rng.uniform(min(xs[k], xs[j]), max(xs[k], xs[j]), 20))
                lat += [ys[k]] * 20
    lon, lat = np.array(lon + all_x), np.array(lat + all_y)
    pts = spark.createDataFrame(
        [(i, float(lon[i]), float(lat[i])) for i in range(len(lon))],
        "pid long, lon double, lat double")
    df = spark.createDataFrame(
        [(j, xs, ys, offs) for j, (xs, ys, offs) in polys.items()],
        "poly_id long, xs array<double>, ys array<double>, ring_offsets array<int>")
    rings = {j: P.split_rings(xs, ys, offs if offs is not None else [0])
             for j, (xs, ys, offs) in polys.items()}
    return pts, lon, lat, df, rings


def _rect_fixture(spark):
    pts, lon, lat = make_points(spark)
    polys, rings = make_polys(spark)
    return pts, lon, lat, polys, {j: [r] for j, r in rings.items()}


@pytest.mark.parametrize("fixture", ["rects", "rings"])
def test_pip_join_matches_bruteforce(spark, fixture):
    """pip_join == P.points_in_ring XOR-ed over each polygon's rings
    (even-odd), over rotated rectangles and over multi-ring polygons
    with unclosed rings, holes, NULL ring_offsets and points on vertex
    latitudes and horizontal edges."""
    make = _rect_fixture if fixture == "rects" else make_ring_polys
    pts, lon, lat, polys, rings = make(spark)
    got = {(r["pid"], r["poly_id"]) for r in pip_join(pts, polys, res=8).collect()}
    exp = set()
    for j, poly in rings.items():
        inside = np.zeros(len(lon), dtype=bool)
        for ring in poly:
            inside ^= P.points_in_ring(lon, lat, ring)
        for i in np.flatnonzero(inside):
            exp.add((int(i), j))
    assert got == exp
    assert len(exp) > 100  # non-trivial fixture
    assert {j for _, j in exp} == set(rings)  # every polygon matches


def test_pip_join_empty_ring_raises(spark):
    """An empty ring (repeated ring offset) fails loudly, as
    P.points_in_ring does on it, instead of reading an edge that joins
    the previous ring's last vertex to the next ring's first."""
    pts = spark.createDataFrame([(1, 1.0, 1.0)], "pid long, lon double, lat double")
    polys = spark.createDataFrame(
        [(1, [0.0, 8.0, 8.0, 0.0, 3.0, 3.0, 5.0],
          [0.0, 0.0, 8.0, 8.0, 3.0, 5.0, 5.0], [0, 4, 4])],
        "poly_id long, xs array<double>, ys array<double>, ring_offsets array<int>")
    with pytest.raises(Exception, match="Illegal sequence boundaries"):
        pip_join(pts, polys, res=6).collect()


def _assert_knn_matches_bruteforce(pts, lon, lat, k, res):
    got = {}
    for r in knn_join(pts, k=k, res=res).collect():
        got.setdefault(r["pid"], []).append((r["rank"], r["neighbor_id"]))
    d2 = (lon[:, None] - lon[None, :]) ** 2 + (lat[:, None] - lat[None, :]) ** 2
    np.fill_diagonal(d2, np.inf)
    ids = np.arange(len(lon))
    assert len(got) == len(lon)
    for i in range(len(lon)):
        order = np.lexsort((ids, d2[i]))[:k]
        exp = [(r + 1, int(order[r])) for r in range(k)]
        assert sorted(got[i]) == exp, f"pid {i} k {k}"


def test_knn_matches_bruteforce(spark):
    # points confined to one res-4 cell's span so cell+ring1 covers all
    pts, lon, lat = make_points(spark, n=800, lo=0.1, hi=5.0, seed=3)
    for k in (1, 5):
        _assert_knn_matches_bruteforce(pts, lon, lat, k, res=4)


@pytest.mark.parametrize("res", [1, 2])
def test_knn_matches_bruteforce_at_wrap_and_poles(spark, res):
    """Clusters in the four corners of the lon/lat plane, boundary
    values included, where ring-1 wraps ix across lon +-180 and stops
    at the poles; plus one cluster on the prime meridian.  At res 1
    the wrap sends the -1 and +1 offsets to the same cell, so the
    meridian cluster's points arrive twice as candidates across lon 0
    and only the refine's dedup keeps the ranks exact."""
    rng = np.random.RandomState(5 + res)
    lon, lat = [rng.uniform(-1.5, 1.5, 25)], [rng.uniform(-1.5, 1.5, 25)]
    for sx in (-1, 1):
        for sy in (-1, 1):
            lon.append(sx * rng.uniform(177.0, 180.0, 25))
            lat.append(sy * rng.uniform(87.0, 90.0, 25))
    lon = np.concatenate(lon + [np.array([-180.0, 180.0, 179.5, -179.5])])
    lat = np.concatenate(lat + [np.array([-90.0, 90.0, -90.0, 90.0])])
    pts = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(zip(lon, lat))],
        "pid long, lon double, lat double")
    _assert_knn_matches_bruteforce(pts, lon, lat, k=3, res=res)


def test_range_join_edges_and_dedup(spark):
    """Range join: closed-interval edge/corner touches count as
    overlap; a geometry spanning many cells yields exactly ONE row per
    pair (reference-point dedup, no distinct)."""
    import pandas as pd
    from geo_sim_processing_a_spark.operators.spark_joins import range_join

    def box(i, x0, y0, x1, y1):
        return (i, [x0, x1, x1, x0, x0], [y0, y0, y1, y1, y0])

    def frame(rows, idc):
        pdf = pd.DataFrame(rows, columns=[idc, "xs", "ys"])
        return spark.createDataFrame(
            pdf, f"{idc} long, xs array<double>, ys array<double>")

    a = frame([box(1, 0.0, 0.0, 1.0, 1.0),
               box(2, 50.0, 50.0, 51.0, 51.0),
               box(3, -20.0, -20.0, 20.0, 20.0)], "a_id")
    b = frame([box(10, 1.0, 0.0, 2.0, 1.0),     # shares the x=1 edge with 1
               box(11, 1.0, 1.0, 2.0, 2.0),     # touches 1 at corner (1,1)
               box(12, 30.0, 30.0, 31.0, 31.0),  # disjoint from everything
               box(13, -5.0, -5.0, 5.0, 5.0)], "b_id")
    got = sorted((r["a_id"], r["b_id"]) for r in range_join(a, b, res=6).collect())
    assert got == [(1, 10), (1, 11), (1, 13), (3, 10), (3, 11), (3, 13)]
