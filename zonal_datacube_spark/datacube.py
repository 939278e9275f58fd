"""Datacube core — the reference's signature surface, Spark-native
(SURVEY.md §1.1, §2.11; reference identity: /root/reference/README.md:2
"Scalable Dask-backed zonal statistics").

Data model (SURVEY.md §1.1 layout (a)): the **long pixel table**
``(tile_id, y, x, layer columns...)`` keyed by tile_id — every zonal
operation becomes relational and Catalyst-optimizable. The fishnet is the
regular tile grid; zones here are rectangles (bbox containment, the
relational core of the real thing). TRUE polygon containment — concave-
capable ray casting as a broadcast edge join + parity count, no GEOS
needed — lives in ``operators/geometry.py`` (q_zonal_polygon) and slots
into this same pipeline wherever zones are real polygons.

Pipeline (the Raptor decomposition, PAPERS.md:9):
1. fishnet prune + pixel→zone assignment, fused into one tile-keyed
   broadcast hash join: the zones are exploded to the (tx, ty) tiles
   their bboxes overlap; each pixel probes on its own tile coordinates
   (x div TILE, y div TILE) with bbox containment as the join's extra
   condition, so pixels of tiles no zone overlaps drop in the probe;
2. per-zone aggregate: partial per-partition + final combine.

Two execution paths are provided and tested equal:
- ``zonal_stats``        — pure relational (the default; whole-stage codegen);
- ``zonal_stats_tiled``  — applyInPandas per-tile partial kernels + final
  combine (the reference's per-tile analysis-function model, for custom
  NumPy statistics that SQL can't express).

Scale: ``synthetic_raster`` is row-major over ``n_parts`` ``spark.range``
partitions, so a partition holds whole pixel rows and spans a full row of
tiles; nothing ties a tile to a task. Nothing ever materializes a global
raster: 100 TB of pixels = more rows and tiles, same plan.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from zonal_datacube_spark.functions.local_rel import local_relation

TILE = 256  # pixels per tile edge


def synthetic_raster(
    spark: SparkSession, width: int = 2048, height: int = 1024, n_parts: int = 32
) -> DataFrame:
    """Deterministic synthetic raster as a long pixel table, generated
    distributively with ``spark.range`` (no driver-side arrays): two value
    layers (smooth gradient + hashed noise) and a nodata mask."""
    n = width * height
    px = spark.range(0, n, 1, n_parts).select(
        (F.col("id") % width).cast("int").alias("x"),
        (F.col("id") / width).cast("int").alias("y"),
    )
    px = px.withColumn(
        "tile_id",
        (F.col("y") / TILE).cast("int") * ((width + TILE - 1) // TILE)
        + (F.col("x") / TILE).cast("int"),
    )
    elevation = (
        F.sin(F.col("x") * 0.01) * 100.0 + F.cos(F.col("y") * 0.02) * 50.0 + 500.0
    )
    noise = (F.hash(F.col("x"), F.col("y")) % 1000).cast("double") / 10.0
    return px.select(
        "tile_id",
        "x",
        "y",
        F.round(elevation, 3).alias("elevation"),
        F.round(noise, 1).alias("landcover_score"),
        # nodata stripe: sensor dropout emulation
        F.when((F.col("x") % 97) == 0, None).otherwise(F.round(elevation, 3)).alias(
            "elevation_masked"
        ),
    )


def make_zones(spark: SparkSession) -> DataFrame:
    """Small vector-zone table: id + attributes + bbox rectangle."""
    rows = [
        (0, "park", 0, 0, 600, 500),
        (1, "city", 500, 200, 1200, 800),
        (2, "farm", 1100, 0, 2048, 600),
        (3, "lake", 300, 600, 900, 1024),
        (4, "ridge", 1500, 500, 2000, 1000),
    ]
    return local_relation(
        spark, rows, "zone_id INT, zone_name STRING, xmin INT, ymin INT, xmax INT, ymax INT"
    )


def _tile(c):
    """Fishnet tile index of an x or y coordinate."""
    return F.floor(c / TILE).cast("int")


def _zone_tiles(zones: DataFrame) -> DataFrame:
    """Every zone row once per fishnet tile (tx, ty) its bbox overlaps."""

    def span(lo: str, hi: str):
        return F.sequence(_tile(F.col(lo)), _tile(F.col(hi) - 1))

    return zones.select("*", F.explode(span("ymin", "ymax")).alias("ty")).select(
        "*", F.explode(span("xmin", "xmax")).alias("tx")
    )


def assign_zones(pixels: DataFrame, zones: DataFrame) -> DataFrame:
    """Pixel→zone assignment as one broadcast hash join: the zones exploded
    to their tiles, joined on each pixel's own tile coordinates (so it
    holds for any raster width), with bbox containment as the join's extra
    condition. Tiles no zone overlaps find no build row and drop in the
    probe (the fishnet prune); the zone table is read once. Overlapping
    zones multi-assign (the zonal-stats convention: a pixel counts in
    every zone containing it)."""
    z = F.broadcast(_zone_tiles(zones))
    return pixels.join(
        z,
        (_tile(pixels.x) == z.tx) & (_tile(pixels.y) == z.ty)
        & (pixels.x >= z.xmin) & (pixels.x < z.xmax)
        & (pixels.y >= z.ymin) & (pixels.y < z.ymax),
    ).drop("tx", "ty")


def zonal_stats(pixels: DataFrame, zones: DataFrame, value_col: str = "elevation") -> DataFrame:
    """Relational zonal statistics (the default path)."""
    return (
        assign_zones(pixels, zones)
        .groupBy("zone_id", "zone_name")
        .agg(
            F.count(value_col).alias("n_pixels"),
            F.round(F.sum(value_col), 2).alias("sum_v"),
            F.round(F.avg(value_col), 6).alias("mean_v"),
            F.round(F.min(value_col), 3).alias("min_v"),
            F.round(F.max(value_col), 3).alias("max_v"),
        )
        .orderBy("zone_id")
    )


def zonal_stats_tiled(
    pixels: DataFrame, zones: DataFrame, value_col: str = "elevation"
) -> DataFrame:
    """Per-tile kernel path: applyInPandas computes *partial* statistics
    per (tile, zone) group — the slot where the reference runs arbitrary
    NumPy per tile — then a relational final combine merges partials.

    The combine is exact: sums/counts/min/max merge associatively, mean is
    derived at the end (never averaged across tiles)."""
    assigned = assign_zones(pixels, zones).select(
        "tile_id", "zone_id", "zone_name", F.col(value_col).alias("v")
    )

    def partial(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["v"].dropna()
        return pd.DataFrame(
            {
                "zone_id": [pdf["zone_id"].iloc[0]],
                "zone_name": [pdf["zone_name"].iloc[0]],
                "n": [int(v.size)],
                "s": [float(v.sum())],
                "mn": [float(v.min()) if v.size else None],
                "mx": [float(v.max()) if v.size else None],
            }
        )

    partials = assigned.groupBy("tile_id", "zone_id").applyInPandas(
        partial, "zone_id INT, zone_name STRING, n BIGINT, s DOUBLE, mn DOUBLE, mx DOUBLE"
    )
    return (
        partials.groupBy("zone_id", "zone_name")
        .agg(
            F.sum("n").alias("n_pixels"),
            F.round(F.sum("s"), 2).alias("sum_v"),
            F.round(F.sum("s") / F.sum("n"), 6).alias("mean_v"),
            F.round(F.min("mn"), 3).alias("min_v"),
            F.round(F.max("mx"), 3).alias("max_v"),
        )
        .orderBy("zone_id")
    )
