"""The point-local zonal kernel (availability.ndvi_zonal /
landcover_fractions) against the relational explode plan it replaced,
kept here as the oracle: explode every point into its covered cells,
filter by the disc predicate, aggregate integer moments per point.
Bit-for-bit, on coordinates and buffers chosen to hit its edges."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from greenexp_r_spark import constants as C, world
from greenexp_r_spark.kernels.zonal import disc_partials
from greenexp_r_spark.operators import availability as A
from greenexp_r_spark.sources.tiles import ndvi_window


def _oracle_ndvi(points, buffer_m, add_sd=True):
    cells = A.covered_cells(points.select("point_id", "x", "y"),
                            buffer_m, C.NDVI_RES)
    v = F.expr(world.ndvi_int_expr("ci", "cj"))
    agg = cells.groupBy("point_id").agg(
        F.sum(v).alias("s1"), F.sum(v * v).alias("s2"),
        F.count(F.lit(1)).alias("n_cells"))
    return A.ndvi_stats(agg, add_sd)


def _oracle_landcover(points, buffer_m):
    cells = A.covered_cells(points.select("point_id", "x", "y"),
                            buffer_m, C.LC_RES)
    cells = cells.withColumn("code", F.expr(world.landcover_expr("ci", "cj")))
    aggs = [F.count(F.lit(1)).alias("n_cells")]
    for c in C.LC_CODES:
        aggs.append(F.sum(F.when(F.col("code") == c, 1).otherwise(0))
                    .alias(f"cnt_{c}"))
    g = cells.groupBy("point_id").agg(*aggs)
    n = F.col("n_cells").cast("double")
    cols = [F.col("point_id")]
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


def _assert_same(got, want):
    assert got.columns == want.columns
    assert got.schema == want.schema
    g = got.toPandas().sort_values("point_id").reset_index(drop=True)
    w = want.toPandas().sort_values("point_id").reset_index(drop=True)
    assert len(g) == len(w)
    for c in w.columns:
        np.testing.assert_array_equal(g[c].to_numpy(), w[c].to_numpy(),
                                      err_msg=c)


def _on_circle(rng, n, r, lo=0, hi=40):
    """Points with some cell center within a few ulps of their buffer
    circle, where px ± sqrt(r² − dy²) alone misplaces interval ends."""
    bx = rng.integers(lo, hi, n) * 10 + 5.0
    by = rng.integers(lo, hi, n) * 10 + 5.0
    ang = rng.uniform(0, 2 * np.pi, n)
    px = bx + r * np.cos(ang)
    return (px + rng.integers(-3, 4, n) * np.spacing(px),
            by + r * np.sin(ang))


def _points(spark, xs, ys, partitions=4):
    pdf = pd.DataFrame({"point_id": np.arange(len(xs), dtype=np.int64),
                        "x": np.asarray(xs, dtype=float),
                        "y": np.asarray(ys, dtype=float)})
    return spark.createDataFrame(pdf).repartition(partitions)


@pytest.fixture(scope="module")
def edge_points(spark):
    """Fractional coordinates all over the world, plus points whose
    buffers cross x<0 / y<0 and the far edge (negative cell indices),
    exact half-cell and integer coordinates, and points with a cell
    center on their 300 m or 137.3 m circle."""
    rng = np.random.default_rng(20)
    cx1, cy1 = _on_circle(rng, 150, C.BUFFER_M)
    cx2, cy2 = _on_circle(rng, 150, 137.3, 100, 200)
    xs = np.concatenate([cx1, cx2, rng.uniform(-350.0, C.WORLD_SIZE + 350.0, 300),
                         rng.uniform(-120.0, 90.0, 40),
                         rng.uniform(C.WORLD_SIZE - 60, C.WORLD_SIZE + 40, 20),
                         np.round(rng.uniform(0, 2000, 20)) + 0.5,
                         np.floor(rng.uniform(0, 2000, 20))])
    ys = np.concatenate([cy1, cy2, rng.uniform(-350.0, C.WORLD_SIZE + 350.0, 300),
                         rng.uniform(-90.0, 120.0, 40),
                         rng.uniform(-40, 60, 20),
                         np.round(rng.uniform(0, 2000, 20) * 2) / 2,
                         np.floor(rng.uniform(0, 2000, 20))])
    return _points(spark, xs, ys)


@pytest.mark.parametrize("buffer_m", [C.BUFFER_M, 137.3])
def test_ndvi_zonal_equals_explode_plan(spark, edge_points, buffer_m):
    _assert_same(A.ndvi_zonal(edge_points, buffer_m),
                 _oracle_ndvi(edge_points, buffer_m))
    _assert_same(A.ndvi_zonal(edge_points, buffer_m, add_sd=False),
                 _oracle_ndvi(edge_points, buffer_m, add_sd=False))


def test_buffer_below_half_cell(spark, edge_points):
    """A 4 m buffer (< res/2) holds one cell center or none: points
    without any drop out in both plans (no sd: it needs two cells)."""
    got = A.ndvi_zonal(edge_points, 4.0, add_sd=False)
    _assert_same(got, _oracle_ndvi(edge_points, 4.0, add_sd=False))
    assert 0 < got.count() < edge_points.count()


@pytest.mark.parametrize("buffer_m", [C.BUFFER_M, 55.5])
def test_landcover_equals_explode_plan(spark, edge_points, buffer_m):
    _assert_same(A.landcover_fractions(edge_points, buffer_m),
                 _oracle_landcover(edge_points, buffer_m))


def test_empty_partitions_and_null_coordinates(spark):
    """More partitions than points (most partitions empty), and null
    coordinates, which enumerate no cells in the explode plan."""
    rows = [(0, 10.5, 7.0), (1, None, 3.0), (2, 300.0, None),
            (3, 5000.25, 4999.75), (4, None, None), (5, -20.0, -33.3)]
    pts = spark.createDataFrame(
        rows, "point_id long, x double, y double").repartition(16)
    _assert_same(A.ndvi_zonal(pts), _oracle_ndvi(pts, C.BUFFER_M))
    _assert_same(A.landcover_fractions(pts),
                 _oracle_landcover(pts, C.BUFFER_M))
    none = pts.where("point_id < 0")
    assert A.ndvi_zonal(none).count() == 0


def test_batch_spanning_many_strips(spark):
    """One partition, one Arrow batch, dense points over the whole
    world: many row strips and windows, every disc crossing strips."""
    rng = np.random.default_rng(3)
    n = 3000
    pts = _points(spark, rng.uniform(0, C.WORLD_SIZE, n),
                  rng.uniform(0, C.WORLD_SIZE, n), partitions=1)
    _assert_same(A.ndvi_zonal(pts), _oracle_ndvi(pts, C.BUFFER_M))


def test_disc_partials_exact_on_fractional_windows():
    """Kernel-level: windows split into strips, fractional and
    near-boundary coordinates, against a direct cell mask evaluated
    like covered_cells."""
    rng = np.random.default_rng(11)
    res, r = 10, 137.3
    ox, oy = _on_circle(rng, 400, r, 0, 30)
    px = np.concatenate([rng.uniform(-50, 550, 200), ox])
    py = np.concatenate([rng.uniform(-50, 550, 200), oy])
    v = ndvi_window(-20, -20, 70, 70, na=0).astype(np.int64)
    ci = np.arange(-20, 50)
    cxs = (ci + 0.5) * res
    cys = (np.arange(-20, 50) + 0.5) * res
    for rows in (slice(0, 70), slice(0, 23), slice(23, 70)):
        (s,), n = disc_partials([v[rows]], cxs, cys[rows], px, py, r * r)
        dx = cxs[None, None, :] - px[:, None, None]
        dy = cys[rows][None, :, None] - py[:, None, None]
        m = dx * dx + dy * dy <= r * r
        np.testing.assert_array_equal(n, m.sum(axis=(1, 2)))
        np.testing.assert_array_equal(
            s, (m * v[rows][None]).sum(axis=(1, 2)))
