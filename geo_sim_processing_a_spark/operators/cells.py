"""H3/S2-style hierarchical cell index — from-scratch Morton/quadkey
scheme in pure integer math (no h3/s2 libs in env; SURVEY.md §2.4 X6).

Layout of a cell id (int64):  ``(morton(ix, iy) << 5) | resolution``
 - lon/lat normalized to unit square: u=(lon+180)/360, v=(lat+90)/180
 - ix = floor(u * 2^r), iy = floor(v * 2^r), clipped to [0, 2^r-1]
 - morton interleaves ix into even bits, iy into odd bits
 - parent(cell) = drop 2 morton bits, resolution-1  (prefix containment)
 - resolution r in [0, 28] keeps ids positive in int64

The bit-spreading uses the classic 5-step magic-mask sequence so the
EXACT same formula is expressible in Spark SQL and DuckDB SQL for the
driver's oracle comparison (see __spark_entry__.py oracle_sql).
"""

from __future__ import annotations

import numpy as np

MAX_RES = 28

_MASKS = (
    (16, np.uint64(0x0000FFFF0000FFFF)),
    (8, np.uint64(0x00FF00FF00FF00FF)),
    (4, np.uint64(0x0F0F0F0F0F0F0F0F)),
    (2, np.uint64(0x3333333333333333)),
    (1, np.uint64(0x5555555555555555)),
)


def _spread_bits(v: np.ndarray) -> np.ndarray:
    """Spread the low 32 bits of v so bit k moves to bit 2k."""
    v = v.astype(np.uint64)
    for shift, mask in _MASKS:
        v = (v | (v << np.uint64(shift))) & mask
    return v


def _compact_bits(v: np.ndarray) -> np.ndarray:
    """Inverse of _spread_bits (takes even bits)."""
    v = v.astype(np.uint64) & np.uint64(0x5555555555555555)
    v = (v | (v >> np.uint64(1))) & np.uint64(0x3333333333333333)
    v = (v | (v >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
    return v


def lonlat_to_ixiy(lon: np.ndarray, lat: np.ndarray, res: int):
    n = np.int64(1) << np.int64(res)
    u = (np.asarray(lon, dtype=np.float64) + 180.0) / 360.0
    v = (np.asarray(lat, dtype=np.float64) + 90.0) / 180.0
    ix = np.clip(np.floor(u * n).astype(np.int64), 0, int(n) - 1)
    iy = np.clip(np.floor(v * n).astype(np.int64), 0, int(n) - 1)
    return ix, iy


def encode_ixiy(ix: np.ndarray, iy: np.ndarray, res: int) -> np.ndarray:
    m = _spread_bits(np.asarray(ix)) | (_spread_bits(np.asarray(iy)) << np.uint64(1))
    return ((m << np.uint64(5)) | np.uint64(res)).astype(np.int64)


def encode(lon, lat, res: int) -> np.ndarray:
    """Vectorized lon/lat -> cell id at resolution ``res``."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"resolution must be in [0, {MAX_RES}]")
    ix, iy = lonlat_to_ixiy(lon, lat, res)
    return encode_ixiy(ix, iy, res)


def decode(cell) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """cell id -> (ix, iy, res)."""
    c = np.asarray(cell, dtype=np.int64).astype(np.uint64)
    res = (c & np.uint64(0x1F)).astype(np.int64)
    m = c >> np.uint64(5)
    ix = _compact_bits(m).astype(np.int64)
    iy = _compact_bits(m >> np.uint64(1)).astype(np.int64)
    return ix, iy, res


def cell_bounds(cell) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """cell id -> (lon_min, lat_min, lon_max, lat_max)."""
    ix, iy, res = decode(cell)
    n = (np.int64(1) << res).astype(np.float64)
    lon0 = ix / n * 360.0 - 180.0
    lat0 = iy / n * 180.0 - 90.0
    return lon0, lat0, lon0 + 360.0 / n, lat0 + 180.0 / n


def parent(cell, steps: int = 1) -> np.ndarray:
    c = np.asarray(cell, dtype=np.int64).astype(np.uint64)
    res = (c & np.uint64(0x1F)).astype(np.int64)
    m = c >> np.uint64(5)
    s = np.uint64(2 * steps)
    new_res = res - steps
    if np.any(new_res < 0):
        raise ValueError("parent below resolution 0")
    return (((m >> s) << np.uint64(5)) | new_res.astype(np.uint64)).astype(np.int64)


def children(cell) -> np.ndarray:
    """The 4 children of each cell: shape (..., 4)."""
    c = np.asarray(cell, dtype=np.int64).astype(np.uint64)
    res = (c & np.uint64(0x1F)).astype(np.int64)
    if np.any(res + 1 > MAX_RES):
        raise ValueError("children beyond max resolution")
    m = c >> np.uint64(5)
    base = (m << np.uint64(2))[..., None] | np.arange(4, dtype=np.uint64)
    return ((base << np.uint64(5)) | (res + 1).astype(np.uint64)[..., None]).astype(np.int64)


def cover_bbox(xmin, ymin, xmax, ymax, res: int) -> np.ndarray:
    """All cells at ``res`` overlapping the bbox (lon/lat degrees)."""
    n = np.int64(1) << np.int64(res)
    ix0, iy0 = lonlat_to_ixiy(np.array([xmin]), np.array([ymin]), res)
    ix1, iy1 = lonlat_to_ixiy(np.array([xmax]), np.array([ymax]), res)
    gx = np.arange(ix0[0], ix1[0] + 1, dtype=np.int64)
    gy = np.arange(iy0[0], iy1[0] + 1, dtype=np.int64)
    mx, my = np.meshgrid(gx, gy, indexing="ij")
    return encode_ixiy(mx.ravel(), my.ravel(), res)


