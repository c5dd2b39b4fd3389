"""Plan hygiene for the round-2 operators: the point burn combines
pixels map-side before its tile exchanges; pansharpen's parent-tile join
is an equi-join; the native geocode stage has no Python node."""

from __future__ import annotations

import re

import numpy as np
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_point_burn_pixel_aggregate_plan(spark):
    from gdal_spark.operators.rasterize import rasterize_points
    from gdal_spark.sources.pages import geocode_encode, synth_pages

    geo = geocode_encode(synth_pages(spark, 2000, 4), res_list=(7,))
    plan = plan_of(rasterize_points(geo, z=8))
    lines = plan.splitlines()
    # (synth_pages itself contributes a repartition exchange upstream —
    # count only the tile-keyed ones)
    tile_ex = []
    for i, ln in enumerate(lines):
        m = re.search(r"Exchange hashpartitioning\(([^)]*)\)", ln)
        if m and "tx" in m.group(1):
            keys = re.sub(r"#\d+L?", "", m.group(1)).split(", ")[:-1]
            tile_ex.append((i, keys))
    # pixels shuffle on (tx, ty, pix) after the map-side combine; only
    # the aggregated pixel rows shuffle again on (tx, ty)
    assert [keys for _, keys in tile_ex] == [["tx", "ty"], ["tx", "ty", "pix"]]
    pix_ex = tile_ex[1][0]
    assert "HashAggregate" in lines[pix_ex + 1]
    assert "partial_count" in lines[pix_ex + 1]
    assert "salt" not in plan
    assert "CartesianProduct" not in plan


def test_fused_point_burn_pyramid_plan(spark):
    """rasterize_points(min_z) burns the base tiles and their overview
    levels from one pixel aggregate: the pixel exchange, then one
    exchange on the min_z ancestor, and no per-level shuffles."""
    from gdal_spark.operators.rasterize import rasterize_points
    from gdal_spark.sources.pages import geocode_encode, synth_pages

    geo = geocode_encode(synth_pages(spark, 2000, 4), res_list=(7,))
    plan = plan_of(rasterize_points(geo, z=8, min_z=5))
    lines = plan.splitlines()
    tile_ex = []
    for i, ln in enumerate(lines):
        m = re.search(r"Exchange hashpartitioning\(([^)]*)\)", ln)
        if m and "tx" in m.group(1):
            keys = re.sub(r"#\d+L?", "", m.group(1)).split(", ")[:-1]
            tile_ex.append((i, keys))
    assert [keys for _, keys in tile_ex] == [["atx", "aty"], ["tx", "ty", "pix"]]
    pix_ex = tile_ex[1][0]
    assert "HashAggregate" in lines[pix_ex + 1]
    assert "partial_count" in lines[pix_ex + 1]
    # the with_tile encode and the one per-ancestor assemble
    assert len(re.findall(r"ArrowEvalPython|FlatMapGroupsInPandas", plan)) == 2
    assert "FlatMapGroupsInPandas [atx" in plan


def test_pansharpen_join_is_equi(spark):
    from gdal_spark.operators.pansharpen import pansharpen_tiles
    from gdal_spark.session import local_df

    ts = 4
    pan = local_df(
        spark, [(0, 0, np.zeros((ts, ts)).tobytes())], "tx long, ty long, data binary"
    )
    ms = local_df(
        spark,
        [(0, 0, b, np.ones((ts, ts)).tobytes()) for b in range(2)],
        "tx long, ty long, band int, data binary",
    )
    plan = plan_of(pansharpen_tiles(pan, ms, [0.5, 0.5], dz=1, tile_size=ts))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_native_geocode_no_python_node(spark):
    from gdal_spark.sources.pages import geocode_encode, synth_pages

    plan = plan_of(geocode_encode(synth_pages(spark, 100, 2), res_list=(7, 9)))
    assert "EvalPython" not in plan


def test_inverse_burn_driven_by_full_grid(spark):
    from gdal_spark.kernels import wkb as W
    from gdal_spark.operators.rasterize_invert import rasterize_invert_grid
    from gdal_spark.session import local_df

    ring = np.array([[2, 2], [10, 2], [10, 8], [2, 8], [2, 2]], dtype=np.float64)
    feats = local_df(spark, [(1.0, W.polygon_wkb([ring]))], "burn double, geom binary")
    tiles = rasterize_invert_grid(
        feats, (0.0, 1.0, 0.0, 0.0, 0.0, 1.0), 64, 64, burn_value=5.0, tile_size=32
    )
    # ALL 4 tiles of the 64x64 grid materialize, including the 3 the
    # feature never touches
    assert tiles.count() == 4
