"""The cell-local kNN refine kernel (SURVEY.md §2.4 X9).

spark_joins.knn_join cogroups each cell's queries with its ring-1
candidates and runs knn_brute on them inside ``applyInPandas``: the
cell keys and the candidate replication are Catalyst, the exact refine
below is vectorized NumPy.  The other spatial joins refine with Column
expressions and need no kernel here.
"""

from __future__ import annotations

import numpy as np


def knn_brute(qx: np.ndarray, qy: np.ndarray, px: np.ndarray, py: np.ndarray,
              pid: np.ndarray, k: int, exclude_same_index: bool = False):
    """Exact k-nearest-neighbors of query points among candidate points.
    Ties broken by (distance^2, pid) ascending — deterministic.

    Returns (idx, dist2): each (nq, k) arrays of candidate positions and
    squared distances.  Candidate count < k returns fewer columns.

    Memory- and sort-bounded: the naive formulation materialized the
    FULL (nq, nc) distance matrix and lexsorted every row (at sf0.1 a
    dense cell held ~19k points -> a 2.6 GB matrix and a minutes-long
    lexsort).  This version processes queries in blocks capped at
    ~256 MB of distances, selects the top ``k+64`` per row with
    argpartition (linear), and tie-sorts only that margin by (d2, pid);
    a row whose k-th selected distance reaches the margin boundary is
    re-done with a full row sort (exact even under mass ties)."""
    qx = np.asarray(qx, float)
    qy = np.asarray(qy, float)
    px = np.asarray(px, float)
    py = np.asarray(py, float)
    pid = np.asarray(pid)
    nq, nc = len(qx), len(px)
    kk = min(k, nc)
    out_idx = np.empty((nq, kk), dtype=np.int64)
    out_d2 = np.empty((nq, kk), dtype=np.float64)
    if nq == 0 or kk == 0:
        return out_idx, out_d2
    margin = min(nc, kk + 64)
    chunk = max(1, (1 << 25) // nc)
    for lo in range(0, nq, chunk):
        hi = min(lo + chunk, nq)
        m = hi - lo
        # difference form (NOT the |q|^2+|p|^2-2qp expansion: its
        # different rounding would break exact-tie parity with the
        # difference-form oracle), minimal DRAM traffic: two buffers,
        # in-place squares and add
        d2 = qx[lo:hi, None] - px[None, :]
        np.multiply(d2, d2, out=d2)
        dy = qy[lo:hi, None] - py[None, :]
        np.multiply(dy, dy, out=dy)
        np.add(d2, dy, out=d2)
        del dy
        if exclude_same_index:
            d2[np.arange(m), np.arange(lo, hi)] = np.inf
        rows = np.arange(m)[:, None]
        if margin < nc:
            part = np.argpartition(d2, margin - 1, axis=1)[:, :margin]
        else:
            part = np.broadcast_to(np.arange(nc), (m, nc))
        pd2 = d2[rows, part]
        order_local = np.lexsort((pid[part], pd2), axis=1)[:, :kk]
        sel = part[rows, order_local]
        seld2 = pd2[rows, order_local]
        if margin < nc:
            # boundary ties may extend past the margin: redo those rows
            risky = np.flatnonzero(seld2[:, -1] >= pd2.max(axis=1))
            for r in risky:
                full = np.lexsort((pid, d2[r]))[:kk]
                sel[r] = full
                seld2[r] = d2[r, full]
        out_idx[lo:hi] = sel
        out_d2[lo:hi] = seld2
    return out_idx, out_d2
