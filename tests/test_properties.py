"""Property-based tests (hypothesis) for the cell index and the
simplification kernels."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from geo_sim_processing_a_spark.geom import primitives as P
from geo_sim_processing_a_spark.kernels.simplify import (
    douglas_peucker_line, visvalingam_whyatt_line)
from geo_sim_processing_a_spark.operators import cells


@given(st.floats(-180, 179.999999), st.floats(-90, 89.999999),
       st.integers(0, 28))
@settings(max_examples=200, deadline=None)
def test_cell_contains_its_point(lon, lat, res):
    c = cells.encode(np.array([lon]), np.array([lat]), res)
    x0, y0, x1, y1 = cells.cell_bounds(c)
    # 1e-9-degree tolerance: a point within one ULP of a cell edge can
    # snap to the neighbor (float grid); the mapping itself is exact and
    # identical everywhere in the engine, so joins stay consistent.
    assert x0[0] <= lon + 1e-9 and y0[0] <= lat + 1e-9
    assert lon <= x1[0] + 1e-9 and lat <= y1[0] + 1e-9
    if res > 0:
        p = cells.parent(c)
        px0, py0, px1, py1 = cells.cell_bounds(p)
        # parent bounds contain child bounds
        assert px0[0] <= x0[0] and py0[0] <= y0[0]
        assert px1[0] >= x1[0] and py1[0] >= y1[0]


@given(st.lists(st.tuples(st.floats(-100, 100, allow_nan=False),
                          st.floats(-100, 100, allow_nan=False)),
                min_size=2, max_size=40),
       st.floats(0.001, 50))
@settings(max_examples=150, deadline=None)
def test_dp_properties(coords, tol):
    line = np.array(coords, dtype=np.float64)
    out = douglas_peucker_line(line, tol)
    # endpoints kept, subset of input, max deviation bounded
    assert np.array_equal(out[0], line[0]) and np.array_equal(out[-1], line[-1])
    assert len(out) <= len(line)
    in_set = {tuple(p) for p in line}
    assert all(tuple(p) in in_set for p in out)
    # every dropped vertex is within tol of the simplified polyline
    for p in line:
        d = P.point_polyline_dist(p[0], p[1], out)
        assert d <= tol + 1e-9


@given(st.lists(st.tuples(st.floats(-100, 100, allow_nan=False),
                          st.floats(-100, 100, allow_nan=False)),
                min_size=2, max_size=30),
       st.floats(0.0001, 100))
@settings(max_examples=100, deadline=None)
def test_vw_properties(coords, area_tol):
    line = np.array(coords, dtype=np.float64)
    out = visvalingam_whyatt_line(line, area_tol)
    assert np.array_equal(out[0], line[0]) and np.array_equal(out[-1], line[-1])
    assert len(out) <= len(line)
    if len(out) > 2:
        a, b, c = out[:-2], out[1:-1], out[2:]
        areas = 0.5 * np.abs((b[:, 0] - a[:, 0]) * (c[:, 1] - a[:, 1])
                             - (b[:, 1] - a[:, 1]) * (c[:, 0] - a[:, 0]))
        assert (areas >= area_tol - 1e-12).all() or len(out) == len(line)


# ---------------------------------------------------------------------------
# round-4 curation ops: pure-Python reference parity (no Spark session —
# the Column expressions are exercised end-to-end by the oracle queries;
# these pin the SEMANTICS against an independent reference)
# ---------------------------------------------------------------------------

@given(st.lists(st.text(alphabet="abc ", min_size=0, max_size=8),
                min_size=0, max_size=12),
       st.integers(min_value=1, max_value=4))
@settings(max_examples=200, deadline=None)
def test_word_ngrams_matches_python_reference(words, n):
    """word_ngrams == the trivial sliding-window reference on the same
    literal single-space split, for arbitrary (messy) token content."""
    import duckdb
    text = " ".join(w.replace(" ", "_") or "x" for w in words)
    toks = text.split(" ")
    expect = ([" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]
              if len(toks) >= n else [])
    # DuckDB twin of the documented SQL shape — the engines must agree
    got = duckdb.sql(f"""
        SELECT coalesce(list(array_to_string(t[i:i+{n - 1}], ' ')), [])
        FROM (SELECT string_split('{text}', ' ') AS t),
             UNNEST(generate_series(1, len(t) - {n - 1})) AS u(i)
        WHERE len(t) >= {n}""").fetchone()[0]
    assert got == expect


@given(st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=300),
               min_size=0, max_size=40))
@settings(max_examples=200, deadline=None)
def test_md5_bucket_engine_parity(text):
    """The md5-hex bucket is byte-identical between Python's hashlib
    and DuckDB for arbitrary unicode content (the Spark side is pinned
    by the q_doc_split/q_domain_mix oracle hashes)."""
    import duckdb
    import hashlib
    expect = int(hashlib.md5(text.encode("utf-8")).hexdigest()[:3], 16)
    got = duckdb.execute(
        "SELECT ('0x' || substr(md5(?), 1, 3))::UBIGINT", [text]).fetchone()[0]
    assert got == expect
