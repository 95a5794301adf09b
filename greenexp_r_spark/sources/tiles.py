"""Raster tile tables (FIXTURES.md §5): one row per 256×256 tile,
values as a flat row-major array — the Iceberg-friendly layout that
replaces terra SpatRaster + /vsicurl COG reads (ndvi_calc.R:308-315).

The NDVI band is stored as the *integer* field v = ndvi*800 (+NA=null
sentinel via -10000) so the tile-join zonal path reproduces the
virtual-raster closed form bit-for-bit (see world.ndvi_int_expr).

Tiles are generated by a mapInPandas over tile ids — numpy fills each
64k-cell array inside the task; nothing materializes on the driver.
At scale this table is written once to Iceberg partitioned by
bucket(N, tile_id) and pruned by tile bbox min/max metadata.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (ArrayType, DoubleType, IntegerType,
                               LongType, StringType, StructField,
                               StructType)

from .. import constants as C

TILE_CELLS = 256
NA_SENTINEL = -10000

TILE_SCHEMA = StructType([
    StructField("tile_id", LongType()),
    StructField("tx", IntegerType()),
    StructField("ty", IntegerType()),
    StructField("xmin", DoubleType()),
    StructField("ymin", DoubleType()),
    StructField("res", DoubleType()),
    StructField("nrow", IntegerType()),
    StructField("ncol", IntegerType()),
    StructField("band", StringType()),
    StructField("values", ArrayType(IntegerType())),
])


def n_tiles(res: int = C.NDVI_RES) -> int:
    return math.ceil(C.WORLD_SIZE / (TILE_CELLS * res))


def cell_hash(ci0: int, cj0: int, ncol: int, nrow: int,
              a: int, b: int) -> np.ndarray:
    """(nrow, ncol) uint32 window of world.cell_hash_expr over cells
    ci0..ci0+ncol-1 × cj0..cj0+nrow-1 — row r is cj0+r (south first).
    The hash is linear, so it is reduced per axis and combined by one
    broadcast add (< 2·P31, no wrap); the integers are those of the
    SQL expression, in half the bytes of int64."""
    hx = (np.arange(ci0, ci0 + ncol, dtype=np.int64) * a) % C.P31
    hy = (np.arange(cj0, cj0 + nrow, dtype=np.int64) * b) % C.P31
    h = hy.astype(np.uint32)[:, None] + hx.astype(np.uint32)[None, :]
    np.subtract(h, np.uint32(C.P31), out=h, where=h >= np.uint32(C.P31))
    return h


def ndvi_window(ci0: int, cj0: int, ncol: int, nrow: int,
                na: int = NA_SENTINEL) -> np.ndarray:
    """Integer NDVI*800 values (world.ndvi_int_expr) of a (nrow, ncol)
    cell window as int32, NA cells as ``na`` — the one numpy rendering
    of the virtual NDVI raster."""
    h = cell_hash(ci0, cj0, ncol, nrow, C.NDVI_H_A, C.NDVI_H_B)
    v = (h % np.uint32(C.NDVI_MOD)).astype(np.int32) - 200
    v[h % np.uint32(C.NDVI_NA_MOD) == 0] = na
    return v


def landcover_window(ci0: int, cj0: int, ncol: int,
                     nrow: int) -> np.ndarray:
    """WorldCover class codes (world.landcover_expr) of a (nrow, ncol)
    cell window."""
    h = cell_hash(ci0, cj0, ncol, nrow, C.LC_H_A, C.LC_H_B)
    return np.asarray(C.LC_CODES, dtype=np.int32)[h % len(C.LC_CODES)]


def ndvi_tile_values(tx: int, ty: int, res: int = C.NDVI_RES) -> np.ndarray:
    """Integer NDVI*800 values of tile (tx, ty), row-major with
    cell = row*ncol + col, row 0 at ymin (south); NA cells →
    NA_SENTINEL."""
    return ndvi_window(tx * TILE_CELLS, ty * TILE_CELLS, TILE_CELLS,
                       TILE_CELLS).reshape(-1)


S2_SCHEMA = StructType([
    StructField("tile_id", LongType()),
    StructField("tx", IntegerType()),
    StructField("ty", IntegerType()),
    StructField("xmin", DoubleType()),
    StructField("ymin", DoubleType()),
    StructField("res", DoubleType()),
    StructField("nrow", IntegerType()),
    StructField("ncol", IntegerType()),
    StructField("red", ArrayType(IntegerType())),
    StructField("nir", ArrayType(IntegerType())),
])


def band_tile_values(tx: int, ty: int) -> tuple[np.ndarray, np.ndarray]:
    """Positive integer red/NIR reflectances of tile (tx, ty) —
    closed-form spatial hash, same cell addressing as the NDVI tiles.
    The actual Sentinel-2 workflow computes ndvi=(nir−red)/(red+nir)
    from two such bands (ndvi_calc.R:315-318)."""
    ci0, cj0 = tx * TILE_CELLS, ty * TILE_CELLS
    hr = cell_hash(ci0, cj0, TILE_CELLS, TILE_CELLS, C.RED_H_A, C.RED_H_B)
    hn = cell_hash(ci0, cj0, TILE_CELLS, TILE_CELLS, C.NIR_H_A, C.NIR_H_B)
    red = (1 + hr % C.RED_MOD).reshape(-1).astype(np.int32)
    nir = (1 + hn % C.NIR_MOD).reshape(-1).astype(np.int32)
    return red, nir


def s2_tiles_df(spark: SparkSession, res: int = C.NDVI_RES) -> DataFrame:
    """Two-band tile table (red, nir co-located per tile row).  At
    scale, single-band COG rows pivot to this layout with one ingest
    equi-join on (tx, ty) inside the tile's Iceberg partition."""
    nt = n_tiles(res) + 2
    ids = spark.range(nt * nt).toDF("tile_id")

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for tid in pdf["id" if "id" in pdf else "tile_id"]:
                tx, ty = int(tid) % nt - 1, int(tid) // nt - 1
                red, nir = band_tile_values(tx, ty)
                rows.append({
                    "tile_id": int(tid), "tx": tx, "ty": ty,
                    "xmin": float(tx * TILE_CELLS * res),
                    "ymin": float(ty * TILE_CELLS * res),
                    "res": float(res),
                    "nrow": TILE_CELLS, "ncol": TILE_CELLS,
                    "red": red, "nir": nir,
                })
            yield pd.DataFrame(rows)

    return ids.mapInPandas(gen, S2_SCHEMA)


def ndvi_tiles_df(spark: SparkSession, res: int = C.NDVI_RES) -> DataFrame:
    """All tiles covering the world plus a 1-tile padding ring, so
    buffers of edge points stay inside tiled coverage (the virtual
    raster field is defined everywhere)."""
    nt = n_tiles(res) + 2           # indices -1 .. n_tiles
    ids = spark.range(nt * nt).toDF("tile_id")

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for tid in pdf["id" if "id" in pdf else "tile_id"]:
                tx, ty = int(tid) % nt - 1, int(tid) // nt - 1
                rows.append({
                    "tile_id": int(tid), "tx": tx, "ty": ty,
                    "xmin": float(tx * TILE_CELLS * res),
                    "ymin": float(ty * TILE_CELLS * res),
                    "res": float(res),
                    "nrow": TILE_CELLS, "ncol": TILE_CELLS,
                    "band": "ndvi_x800",
                    "values": ndvi_tile_values(tx, ty, res),
                })
            yield pd.DataFrame(rows)

    return ids.mapInPandas(gen, TILE_SCHEMA)


# ---------------------------------------------------------------------
# S4: multi-temporal scene collection (GEE ImageCollection analog)
# ---------------------------------------------------------------------

SCENE_SCHEMA = StructType([
    StructField("scene_id", IntegerType()),
    StructField("tile_id", LongType()),
    StructField("tx", IntegerType()),
    StructField("ty", IntegerType()),
    StructField("xmin", DoubleType()),
    StructField("ymin", DoubleType()),
    StructField("res", DoubleType()),
    StructField("nrow", IntegerType()),
    StructField("ncol", IntegerType()),
    StructField("values", ArrayType(IntegerType())),
])

SCENE_OFF_MUL = 37          # per-scene radiometric offset: ±10 units
SCENE_CLOUD_A = 48_271      # per-(scene, cell) cloud hash
SCENE_CLOUD_MOD = 12        # ~8.3% cloudy cells per scene


def scene_tile_values(scene: int, tx: int, ty: int,
                      res: int = C.NDVI_RES) -> np.ndarray:
    """Integer NDVI*800 of one scene's tile: the base field plus a
    per-scene radiometric offset, with per-(scene, cell) cloud cells
    masked to NA_SENTINEL — the multi-temporal acquisition whose
    reduce the GEE workflow runs server-side (SURVEY S4)."""
    base = ndvi_tile_values(tx, ty, res).astype(np.int64)
    off = (scene * SCENE_OFF_MUL) % 21 - 10
    h = cell_hash(tx * TILE_CELLS, ty * TILE_CELLS, TILE_CELLS,
                  TILE_CELLS, C.NDVI_H_A, C.NDVI_H_B)
    h = (h.astype(np.int64) + scene * SCENE_CLOUD_A) % C.P31
    cloudy = (h % SCENE_CLOUD_MOD == 0).reshape(-1)
    v = np.where(base == NA_SENTINEL, NA_SENTINEL, base + off)
    v = np.where(cloudy, NA_SENTINEL, v)
    return v.astype(np.int32)


def scene_tiles_df(spark: SparkSession, n_scenes: int,
                   res: int = C.NDVI_RES,
                   tile_ids: list[int] | None = None) -> DataFrame:
    """The scene collection: (scene_id, tile) rows, generated
    task-side like ndvi_tiles_df (nothing on the driver).  tile_ids
    restricts generation to an AOI tile subset BEFORE the mapInPandas
    (the filter applies to the id range, so unwanted tiles are never
    materialized — the partition-pruning analog for the virtual
    collection)."""
    from pyspark.sql import functions as F
    nt = n_tiles(res) + 2
    ids = spark.range(n_scenes * nt * nt).toDF("rid")
    if tile_ids is not None:
        ids = ids.where((F.col("rid") % (nt * nt))
                        .isin([int(t) for t in tile_ids]))

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for rid in pdf["rid"]:
                scene = int(rid) // (nt * nt)
                tid = int(rid) % (nt * nt)
                tx, ty = tid % nt - 1, tid // nt - 1
                rows.append({
                    "scene_id": scene, "tile_id": tid,
                    "tx": tx, "ty": ty,
                    "xmin": float(tx * TILE_CELLS * res),
                    "ymin": float(ty * TILE_CELLS * res),
                    "res": float(res),
                    "nrow": TILE_CELLS, "ncol": TILE_CELLS,
                    "values": scene_tile_values(scene, tx, ty, res),
                })
            yield pd.DataFrame(rows)

    return ids.mapInPandas(gen, SCENE_SCHEMA)
