"""Row-interval disc-zonal kernel shared by both zonal paths — the
point-local virtual-raster windows of operators/availability.py and
the materialized tile groups of operators/zonal_tiles.py.

A disc cut by one raster row is one contiguous interval of columns
("Raster Intervals", SIGMOD 2023), so the sum of a cell array over
the disc is, per (point, row), two prefix-sum lookups: O(P·rows of
a disc + window cells) work instead of the O(P·disc cells) cell mask
or cell explode.
"""

from __future__ import annotations

import numpy as np


def disc_partials(cell_arrays, cxs: np.ndarray, cys: np.ndarray,
                  px: np.ndarray, py: np.ndarray, r2: float):
    """Exact per-point sums of each (nrow, ncol)-shaped integer cell
    array over the window cells whose center (cxs[col], cys[row])
    satisfies (cx−px)² + (cy−py)² ≤ r2, plus the per-point cell count.
    ``cxs``/``cys`` are ascending and evenly spaced.

    ``cell_arrays`` is any iterable (a generator keeps one cell array
    and one prefix-sum array alive at a time).  Cells outside the
    window contribute nothing, so a disc spanning several windows sums
    its partials.  Each point visits only the window rows its disc can
    reach.

    Exactness: the interval ends come from px ± sqrt(r2 − dy²), which
    can land on the wrong side of a cell center for fractional
    coordinates.  Each end and its outer neighbour are therefore
    re-tested with the membership predicate dx·dx + dy·dy ≤ r2 itself,
    in the operation order of availability.covered_cells.  Float error
    is many orders below a cell, so one step per end suffices, and the
    predicate is monotone on each side of px, so the corrected
    interval is exactly the member set for any double coordinates.
    """
    n_pts, nrow, ncol = len(px), len(cys), len(cxs)
    radius = float(np.sqrt(r2))
    step = float(cys[1] - cys[0]) if nrow > 1 else 1.0
    k = min(nrow, int(np.ceil(2.0 * radius / step)) + 3)
    r0 = np.searchsorted(cys, py - radius) - 1
    rows = np.clip(r0, 0, nrow - k)[:, None] + np.arange(k)[None, :]
    dy = cys[rows] - py[:, None]                       # (P, k)
    dy2 = dy * dy
    rem = r2 - dy2
    half = np.sqrt(np.maximum(rem, 0.0))
    pxc = px[:, None]
    lo = np.searchsorted(cxs, (pxc - half).ravel(),
                         side="left").reshape(n_pts, k)
    hi1 = np.searchsorted(cxs, (pxc + half).ravel(),
                          side="right").reshape(n_pts, k)
    hi1 = np.maximum(hi1, lo)

    def member(ix):
        dx = cxs[np.clip(ix, 0, ncol - 1)] - pxc
        return dx * dx + dy2 <= r2

    grow = (lo > 0) & member(lo - 1)
    lo = np.where(grow, lo - 1, lo + ((lo < hi1) & ~member(lo)))
    grow = (hi1 < ncol) & member(hi1)
    hi1 = np.where(grow, hi1 + 1, hi1 - ((lo < hi1) & ~member(hi1 - 1)))
    empty = rem < 0                  # dy² > r²: no cell can qualify
    lo[empty] = 0
    hi1[empty] = 0
    n = (hi1 - lo).sum(axis=1).astype(np.int64)
    sums = []
    rc = np.zeros((nrow, ncol + 1), dtype=np.int64)
    for v in cell_arrays:
        np.cumsum(np.asarray(v).reshape(nrow, ncol), axis=1,
                  dtype=np.int64, out=rc[:, 1:])
        sums.append((rc[rows, hi1] - rc[rows, lo]).sum(axis=1))
    return sums, n
