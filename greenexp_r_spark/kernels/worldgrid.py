"""Numpy renderings of the synthetic world's visibility rasters
(FIXTURES.md §5): DTM (gentle terrain), DSM (terrain + hash-placed
buildings outside parks), greenspace mask (1 inside park discs).

These feed the viewshed/VGVI kernels; they are deliberately smooth /
closed-form so any patch can be synthesized inside a task without a
tile shuffle, and so the pure-python oracle in tests can recompute
identical values.  The tile-table variant (sources/tiles.py) material-
izes the same fields as array<float> tiles for the raster-join path.
"""

from __future__ import annotations

import numpy as np

from .. import constants as C

BLOCK = 20            # building block size, meters
BH_MUL1, BH_MUL2 = 73_856_093, 83_492_791
BH_MOD = 2_147_483_647


def park_discs() -> np.ndarray:
    """(n_parks, 3) array of (cx, cy, radius) — mirrors world.parks_sql
    exactly (same integer arithmetic)."""
    pid = np.arange(C.N_PARKS, dtype=np.int64)
    hot = pid % C.PARK_HOT_FRACTION_MOD < 7
    hx = np.array(C.PARK_HOT_X, dtype=np.int64)[pid % 3]
    hy = np.array(C.PARK_HOT_Y, dtype=np.int64)[pid % 3]
    cx = np.where(
        hot,
        hx + (pid * C.PARK_CX_MUL + C.PARK_CX_ADD) % C.PARK_SPREAD - 1200,
        (pid * C.PARK_FAR_MUL + C.PARK_FAR_ADD) % 19000 + 500)
    cy = np.where(
        hot,
        hy + (pid * C.PARK_CY_MUL + C.PARK_CY_ADD) % C.PARK_SPREAD - 1200,
        (pid * C.PARK_FARY_MUL + C.PARK_FARY_ADD) % 19000 + 500)
    r = np.where(pid % C.PARK_SMALL_MOD == 0, 8.0,
                 40.0 + (pid * C.PARK_R_MUL) % C.PARK_R_MOD)
    return np.stack([cx.astype(float), cy.astype(float), r], axis=1)


def in_park(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Boolean mask: point inside any park disc."""
    discs = park_discs()
    out = np.zeros(x.shape, dtype=bool)
    for cx, cy, r in discs:
        out |= (x - cx) ** 2 + (y - cy) ** 2 <= r * r
    return out


def dtm(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    return 10.0 + 5.0 * np.sin(x / 2000.0) * np.sin(y / 2000.0)


def building_height(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Hash-placed buildings on a 20 m block grid: ~28% of blocks carry
    a 6–30 m building; parks are kept building-free by dsm()."""
    bx = np.floor(x / BLOCK).astype(np.int64)
    by = np.floor(y / BLOCK).astype(np.int64)
    h = (bx * BH_MUL1 + by * BH_MUL2) % BH_MOD
    has = (h % 7) < 2
    return np.where(has, 6.0 + (h % 25).astype(float), 0.0)


def dsm(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    base = dtm(x, y)
    b = building_height(x, y)
    park = in_park(x, y)
    return np.where(park, base, base + b)


def greenspace(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    return in_park(x, y).astype(float)


def patch_fields(xc: np.ndarray, yr: np.ndarray, ox: np.ndarray,
                 oy: np.ndarray, reach: float
                 ) -> tuple[np.ndarray, np.ndarray]:
    """(dsm, greenspace) of per-observer square patches, each
    (n_obs, nr·nc) row-major, from the patch column x-coordinates
    ``xc`` (n_obs, nc) and row y-coordinates ``yr`` (n_obs, nr).

    Separable: terrain is sin(x)·sin(y), the building hash is linear
    in the block indices and a park test is dx² + dy², so every
    per-axis factor is evaluated on the row and column vectors and
    combined by one broadcast, in the operation order of dtm(),
    building_height() and in_park() — the same bits as those applied
    to the full coordinate grids, at O(n·nc) transcendental work.
    Parks are pruned per observer: a park is tested against a patch
    only if its disc can reach the observer (center distance ≤ radius
    + reach), the candidate pruning of the J7 join inside the kernel.
    """
    n, nr, nc = len(xc), yr.shape[1], xc.shape[1]
    base = 10.0 + (5.0 * np.sin(xc / 2000.0))[:, None, :] \
        * np.sin(yr / 2000.0)[:, :, None]
    # building hash (bx·M1 + by·M2) mod P, reduced per axis: < 2P < 2³²
    hx = (np.floor(xc / BLOCK).astype(np.int64) * BH_MUL1) % BH_MOD
    hy = (np.floor(yr / BLOCK).astype(np.int64) * BH_MUL2) % BH_MOD
    h = hy.astype(np.uint32)[:, :, None] + hx.astype(np.uint32)[:, None, :]
    np.subtract(h, np.uint32(BH_MOD), out=h, where=h >= np.uint32(BH_MOD))
    b = np.where(h % np.uint32(7) < 2, 6.0 + (h % np.uint32(25)), 0.0)
    park = np.zeros((n, nr, nc), dtype=bool)
    for cx, cy, r in park_discs():
        rows = np.nonzero((ox - cx) ** 2 + (oy - cy) ** 2
                          <= (r + reach) ** 2)[0]
        if len(rows):
            park[rows] |= ((xc[rows] - cx) ** 2)[:, None, :] \
                + ((yr[rows] - cy) ** 2)[:, :, None] <= r * r
    dsm = np.where(park, base, base + b)
    return dsm.reshape(n, -1), park.reshape(n, -1).astype(float)
