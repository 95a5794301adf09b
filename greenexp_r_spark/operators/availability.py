"""Availability family: buffer-zonal raster statistics + overlay fractions.

Re-expresses GreenExp_R's `calc_ndvi` (ndvi_calc.R:332-344),
`land_cover` (land_cover.R:368-399), `greenspace_pct`
(park_coverage.R:337-358) and `canopy_pct` (canopy_coverage.R:334-345)
as Spark plans.

Zonal statistics (`ndvi_zonal`, `landcover_fractions`) are one
point-local mapInPandas over (point_id, x, y):

    Arrow batch → sort by y, cut the raster into disjoint row strips
    (and each strip by x gaps into windows) → render each window in
    numpy (sources/tiles.ndvi_window / landcover_window) → integer
    disc moments per point by row intervals (kernels/zonal.
    disc_partials) → final mean/sd/fraction expressions in Spark.

The raster is "virtual": cell values are a closed-form function of the
cell index (world.ndvi_int_expr), so each task renders the windows its
points need — no cell explode, no disc filter, no point_id shuffle.
Per point the work is O(rows of the disc), not O(cells of the disc);
a window costs its cells once however many points share it.  The
tile-table join variant (real raster arrays, same kernel) lives in
`operators/zonal_tiles.py`.

Scale notes (100 TB posture):
  * memory per task is bounded by ZONAL_WINDOW_CELLS whatever the
    partition size, extent or buffer: oversized windows are rendered
    in strips whose partial moments add up exactly;
  * overlay joins use the J7 shape (SURVEY.md §2.3): coarse bucket
    equi-join (hash join, broadcastable small side) → exact distance
    refine.  Never a nested-loop theta join.
  * integer sums (world.ndvi_int_expr) make results bit-identical
    across engines and partition orders — also the right call at scale,
    where float sums are nondeterministic under retries/AQE re-splits.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType, StructField, StructType

from .. import constants as C
from ..kernels.zonal import disc_partials
from ..sources.tiles import landcover_window, ndvi_window

# cells of one rendered window strip: bounds a task's zonal working
# set (a few arrays of this many cells) independently of partition
# size, world extent and buffer — the KERNEL_BATCH idea of
# operators/visibility.py applied to raster windows
ZONAL_WINDOW_CELLS = 4_000_000


def covered_cells(points: DataFrame, buffer_m: float, res: int) -> DataFrame:
    """Explode each point into the raster cells whose *center* lies in
    its disc buffer — the discrete zonal-extract semantics of
    terra::extract (ndvi_calc.R:332).  The zonal statistics below use
    the same membership predicate without the explode."""
    x, y = F.col("x"), F.col("y")
    lo = lambda c: F.floor((c - buffer_m) / res).cast("long")
    hi = lambda c: F.floor((c + buffer_m) / res).cast("long")
    cells = (
        points
        .withColumn("ci", F.explode(F.sequence(lo(x), hi(x))))
        .withColumn("cj", F.explode(F.sequence(lo(y), hi(y))))
    )
    ccx = (F.col("ci") + 0.5) * res
    ccy = (F.col("cj") + 0.5) * res
    return cells.where(
        (ccx - x) * (ccx - x) + (ccy - y) * (ccy - y) <= float(buffer_m) ** 2)


def _windows(xs: np.ndarray, ys: np.ndarray, buffer_m: float, res: int):
    """Raster windows that together cover every point's disc, as
    (point index array, ci0, cj0, ncol, nrow).

    Windows are cut from disjoint strips of raster rows, so a cell row
    is rendered once per strip however many discs reach it; a disc
    crossing strips gets its partial sums from each.  Within a strip
    the points whose disc reaches it are sorted by x and split where
    their column ranges leave a gap, so sparse points get windows
    around their own discs, dense points one window per strip.  A
    window is capped at ZONAL_WINDOW_CELLS by splitting its columns.
    Column/row ranges pad covered_cells' floor((c ∓ R)/res) bounds by
    one cell."""
    if not len(xs):
        return
    ci_lo = np.floor((xs - buffer_m) / res).astype(np.int64) - 1
    ci_hi = np.floor((xs + buffer_m) / res).astype(np.int64) + 1
    cj_lo = np.floor((ys - buffer_m) / res).astype(np.int64) - 1
    cj_hi = np.floor((ys + buffer_m) / res).astype(np.int64) + 1
    order = np.argsort(ys, kind="stable")     # cj_lo/cj_hi ascend too
    lo_s, hi_s = cj_lo[order], cj_hi[order]
    h = min(max(int(4 * buffer_m / res), 32), ZONAL_WINDOW_CELLS)
    s0 = int(lo_s[0])
    while True:
        a = int(np.searchsorted(hi_s, s0, side="left"))
        if a == len(order):
            return
        s0 = max(s0, int(lo_s[a]))          # skip rows no disc reaches
        b = int(np.searchsorted(lo_s, s0 + h, side="left"))
        strip = order[a:b]
        strip = strip[np.argsort(xs[strip], kind="stable")]
        lo_x, hi_x = ci_lo[strip], ci_hi[strip]
        for g in np.split(strip,
                          np.flatnonzero(lo_x[1:] > hi_x[:-1] + 1) + 1):
            r0 = max(s0, int(cj_lo[g].min()))
            nrow = min(s0 + h - 1, int(cj_hi[g].max())) - r0 + 1
            c0, c1 = int(ci_lo[g].min()), int(ci_hi[g].max())
            wcol = max(1, ZONAL_WINDOW_CELLS // nrow)
            for ci0 in range(c0, c1 + 1, wcol):
                yield g, ci0, r0, min(wcol, c1 + 1 - ci0), nrow
        s0 += h


def zonal_sums(xs: np.ndarray, ys: np.ndarray, buffer_m: float,
               res: int, cells, n_arrays: int):
    """Numpy core of the zonal statistics: per point, the integer sums
    of the ``n_arrays`` cell arrays ``cells(ci0, cj0, ncol, nrow)``
    renders over the cells covered_cells would emit, and their count.
    Returns ((n_arrays, P) sums, (P,) counts)."""
    r2 = float(buffer_m) ** 2
    sums = np.zeros((n_arrays, len(xs)), dtype=np.int64)
    n = np.zeros(len(xs), dtype=np.int64)
    for g, ci0, cj0, ncol, nrow in _windows(xs, ys, buffer_m, res):
        part, pn = disc_partials(
            cells(ci0, cj0, ncol, nrow),
            (np.arange(ci0, ci0 + ncol) + 0.5) * res,
            (np.arange(cj0, cj0 + nrow) + 0.5) * res, xs[g], ys[g], r2)
        sums[:, g] += part
        n[g] += pn
    return sums, n


def _zonal_map(points: DataFrame, buffer_m: float, res: int, cells,
               names: list[str]) -> DataFrame:
    """(point_id, *names, n_cells) per point with at least one covered
    cell: zonal_sums in one point-local mapInPandas (no explode, no
    shuffle).  point_id keys the points table, so each point is one
    output row, as the explode plan's groupBy(point_id) gave."""
    pts = points.select("point_id", "x", "y")
    schema = StructType(
        [pts.schema["point_id"]]
        + [StructField(c, LongType()) for c in names]
        + [StructField("n_cells", LongType(), False)])

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            # null coordinates enumerate no cells (sequence(null, null))
            pdf = pdf[pdf["x"].notna() & pdf["y"].notna()]
            if not len(pdf):
                continue
            sums, n = zonal_sums(pdf["x"].to_numpy(dtype=np.float64),
                                 pdf["y"].to_numpy(dtype=np.float64),
                                 buffer_m, res, cells, len(names))
            keep = n > 0
            out = {"point_id": pdf["point_id"].to_numpy()[keep]}
            for name, s in zip(names, sums):
                out[name] = s[keep]
            out["n_cells"] = n[keep]
            yield pd.DataFrame(out)

    return pts.mapInPandas(run, schema)


def ndvi_stats(agg: DataFrame, add_sd: bool) -> DataFrame:
    """(point_id, mean_ndvi[, sd_ndvi], n_cells) from integer moments
    (s1, s2, n_cells) — sample sd (R `sd`, n-1) in a fixed expression
    tree so both engines emit the same bits."""
    n = F.col("n_cells")
    mean = F.col("s1").cast("double") / (F.lit(800.0) * n)
    out = [F.col("point_id"), mean.alias("mean_ndvi")]
    if add_sd:
        s1d = F.col("s1").cast("double")
        s2d = F.col("s2").cast("double")
        nd = n.cast("double")
        var = (s2d - s1d * s1d / nd) / (nd - F.lit(1.0))
        out.append((F.sqrt(var) / F.lit(800.0)).alias("sd_ndvi"))
    out.append(n)
    return agg.select(*out)


def ndvi_zonal(points: DataFrame, buffer_m: float = C.BUFFER_M,
               add_sd: bool = True) -> DataFrame:
    """Mean (and sample-sd) NDVI in each point's disc buffer.

    Parity target: ndvi_calc.R:332-344 (NA→0 at :336, mean at :339,
    sample sd at :341-344).  Output: (point_id, mean_ndvi[, sd_ndvi],
    n_cells).
    """
    def cells(ci0, cj0, ncol, nrow):
        v = ndvi_window(ci0, cj0, ncol, nrow, na=0)
        yield v
        if add_sd:
            yield v * v            # |v| ≤ 800: v² fits int32

    names = ["s1", "s2"] if add_sd else ["s1"]
    agg = _zonal_map(points, buffer_m, C.NDVI_RES, cells, names)
    return ndvi_stats(agg, add_sd)


def landcover_fractions(points: DataFrame,
                        buffer_m: float = C.BUFFER_M) -> DataFrame:
    """Per-point land-cover class fractions (land_cover.R:368-399).

    The reference pivots cell counts wide then divides by the row sum
    (land_cover.R:373-377); here each class count is a disc sum of
    the class indicator — no pivot pass, no shuffle.  Also emits the
    greencover composite (green_cover_streets.R:244-246).
    """
    def cells(ci0, cj0, ncol, nrow):
        code = landcover_window(ci0, cj0, ncol, nrow)
        for c in C.LC_CODES:
            yield code == c

    g = _zonal_map(points, buffer_m, C.LC_RES, cells,
                   [f"cnt_{c}" for c in C.LC_CODES])
    n = F.col("n_cells").cast("double")
    cols = [F.col("point_id")]
    # 12-column parity with land_cover.R:393-399: every WorldCover
    # class appears, zero-filled when absent from the raster (the
    # reference's setdiff(codes, ...) missing-column fill, U4)
    for c in C.LC_ALL_CODES:
        if c in C.LC_CODES:
            cols.append((F.col(f"cnt_{c}").cast("double") / n)
                        .alias(C.LC_LABELS[c]))
        else:
            cols.append(F.lit(0.0).alias(C.LC_LABELS[c]))
    green = sum(F.col(f"cnt_{c}") for c in C.GREEN_CODES).cast("double") / n
    cols.append(green.alias("greencover"))
    cols.append(F.col("n_cells"))
    return g.select(*cols)


def _bucketed_disc_layer(layer: DataFrame, cx: str, cy: str, r: str,
                         bucket: int) -> DataFrame:
    """Explode a disc layer to every coarse bucket it can touch —
    the broadcastable side of the J7 coarse-join → refine plan."""
    lo = lambda c: F.floor((F.col(c) - F.col(r)) / bucket).cast("long")
    hi = lambda c: F.floor((F.col(c) + F.col(r)) / bucket).cast("long")
    return (layer
            .withColumn("bx", F.explode(F.sequence(lo(cx), hi(cx))))
            .withColumn("by", F.explode(F.sequence(lo(cy), hi(cy)))))


def _disc_cover_pct(points: DataFrame, layer: DataFrame,
                    cx: str, cy: str, r: str,
                    buffer_m: float, res: int, bucket: int,
                    out_name: str) -> DataFrame:
    """Shared area-fraction plan: % of buffer cells whose center falls
    inside ≥1 disc of `layer`.

    Plan shape: cells bucket-keyed → **broadcast hash equi-join** on
    (bx, by) with the bucket-exploded layer → exact distance refine →
    LEFT SEMI (each covered cell once, no post-join dedup shuffle) →
    count per point / total per point.
    """
    cells = covered_cells(points.select("point_id", "x", "y"),
                          buffer_m, res).select("point_id", "ci", "cj")
    ccx = (F.col("ci") + 0.5) * res
    ccy = (F.col("cj") + 0.5) * res
    cells = (cells
             .withColumn("bx", F.floor(ccx / bucket).cast("long"))
             .withColumn("by", F.floor(ccy / bucket).cast("long")))
    lay = _bucketed_disc_layer(layer, cx, cy, r, bucket).select(
        "bx", "by", F.col(cx).alias("_lx"), F.col(cy).alias("_ly"),
        F.col(r).alias("_lr"))
    dist2 = ((ccx - F.col("_lx")) * (ccx - F.col("_lx"))
             + (ccy - F.col("_ly")) * (ccy - F.col("_ly")))
    cond = ((cells["bx"] == lay["bx"]) & (cells["by"] == lay["by"])
            & (dist2 <= F.col("_lr") * F.col("_lr")))
    covered = cells.join(F.broadcast(lay), on=cond, how="left_semi")
    g = covered.groupBy("point_id").agg(F.count(F.lit(1)).alias("g"))
    n = cells.groupBy("point_id").agg(F.count(F.lit(1)).alias("n_cells"))
    pct = F.least(
        F.coalesce(F.col("g"), F.lit(0)).cast("double")
        / F.col("n_cells").cast("double") * 100.0,
        F.lit(100.0))  # clamp, park_coverage.R:358
    return (n.join(g, "point_id", "left")
            .select("point_id", pct.alias(out_name), "n_cells"))


def greenspace_pct(points: DataFrame, parks: DataFrame,
                   buffer_m: float = C.BUFFER_M,
                   res: int = C.LC_RES) -> DataFrame:
    """% of each point's buffer covered by greenspace (park discs) —
    park_coverage.R:337-358 semantics via grid discretization.  The
    polygon-clip variant (numpy Sutherland–Hodgman) is in
    kernels/geom.py; this relational form is the scale path."""
    return _disc_cover_pct(points, parks, "cx", "cy", "radius",
                           buffer_m, res, bucket=500,
                           out_name="greenspace_pct")


def canopy_pct(points: DataFrame, trees: DataFrame,
               buffer_m: float = C.BUFFER_M, res: int = 10) -> DataFrame:
    """% canopy cover in buffer (canopy_coverage.R:334-345): the same
    discretized area fraction against tree-canopy discs (~2-5 m radius,
    canopy_coverage.R:283-291)."""
    t = trees.select("tree_id", F.col("x").alias("tx"),
                     F.col("y").alias("ty"), "canopy_radius_m")
    return _disc_cover_pct(points, t, "tx", "ty", "canopy_radius_m",
                           buffer_m, res, bucket=50,
                           out_name="canopy_pct")
