"""Datacube-core tests: fishnet pruning, both zonal paths agree, nodata,
and both paths match numpy box sums at any raster width.

These lock in the reference's signature semantics (SURVEY.md §2.11) on a
real (synthetic, distributed) raster — no geo libraries required.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from zonal_datacube_spark.datacube import (
    TILE,
    assign_zones,
    make_zones,
    synthetic_raster,
    zonal_stats,
    zonal_stats_tiled,
)


@pytest.fixture(scope="module")
def raster(spark):
    return synthetic_raster(spark, width=1024, height=512)


@pytest.fixture(scope="module")
def zones(spark):
    return make_zones(spark).filter(F.col("xmin") < 1024)


def test_fishnet_prunes_tiles(spark, raster, zones):
    # assign_zones is one broadcast hash join keyed on the tile coordinates
    # (no nested-loop bbox join, no separate semi-join prune), and its
    # probe really drops the tiles of the raster no zone overlaps
    one_zone = zones.filter(F.col("zone_id") == 0)  # 600x500 bbox
    assigned = assign_zones(raster, one_zone)
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    bhj = [line for line in plan.splitlines() if "BroadcastHashJoin" in line]
    assert len(bhj) == 1, plan
    keys = bhj[0].split("BroadcastHashJoin", 1)[1].split("Inner", 1)[0]
    assert "tx#" in keys and "ty#" in keys, plan
    assert "BroadcastNestedLoopJoin" not in plan and "LeftSemi" not in plan, plan
    all_tiles = raster.select("tile_id").distinct().count()
    kept = assigned.select("tile_id").distinct().count()
    assert 0 < kept < all_tiles


def test_assignment_respects_bbox(spark, raster, zones):
    sample = assign_zones(raster, zones).filter(F.col("zone_id") == 0).limit(100).collect()
    assert sample
    for r in sample:
        assert 0 <= r.x < 600 and 0 <= r.y < 500


def test_relational_and_tiled_paths_agree(spark, raster, zones):
    rel = {tuple(r) for r in zonal_stats(raster, zones).collect()}
    tiled = {tuple(r) for r in zonal_stats_tiled(raster, zones).collect()}
    assert rel == tiled
    assert len(rel) > 0


def test_nodata_excluded(spark, raster, zones):
    res = {r.zone_id: r for r in zonal_stats(raster, zones, "elevation_masked").collect()}
    full = {r.zone_id: r for r in zonal_stats(raster, zones, "elevation").collect()}
    for zid, r in res.items():
        assert r.n_pixels < full[zid].n_pixels  # masked pixels dropped


# two tile rows: on a single row every width prunes the same
HEIGHT = TILE + 44


def _zones(width: int) -> list[tuple]:
    return [
        (0, "west", 10, 20, 300, HEIGHT - 10),
        (1, "east", width - 300, 100, width, HEIGHT),
        (2, "mid", width // 2 - 50, TILE - 60, width // 2 + 280, HEIGHT - 5),
    ]


def _box_reference(zones: list[tuple]) -> dict[int, tuple[int, float, float, float]]:
    out = {}
    for zid, _, x0, y0, x1, y1 in zones:
        x = np.arange(x0, x1, dtype=np.float64)[None, :]
        y = np.arange(y0, y1, dtype=np.float64)[:, None]
        v = np.round(np.sin(x * 0.01) * 100.0 + np.cos(y * 0.02) * 50.0 + 500.0, 3)
        out[zid] = (int(v.size), float(v.sum()), float(v.min()), float(v.max()))
    return out


@pytest.mark.parametrize("width", [1024, 2048, 4096, 4097])
def test_zonal_paths_match_box_sums(spark, width):
    zones_rows = _zones(width)
    zones = spark.createDataFrame(
        zones_rows,
        "zone_id INT, zone_name STRING, xmin INT, ymin INT, xmax INT, ymax INT",
    )
    pixels = synthetic_raster(spark, width=width, height=HEIGHT)
    want = _box_reference(zones_rows)
    for path in (zonal_stats, zonal_stats_tiled):
        got = {r.zone_id: r for r in path(pixels, zones).collect()}
        assert set(got) == set(want), path.__name__
        for zid, (n, s, lo, hi) in want.items():
            r = got[zid]
            assert r.n_pixels == n, (path.__name__, zid)
            assert r.sum_v == pytest.approx(s, abs=0.05, rel=1e-9)
            assert r.min_v == pytest.approx(lo, abs=1.1e-3)
            assert r.max_v == pytest.approx(hi, abs=1.1e-3)
