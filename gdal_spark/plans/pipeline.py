"""The flagship pages pipeline (north rule, end to end):

  synth pages → geocode (lon/lat) → cell index (res 7-9 + hilbert)
  → spatial join vs zone polygons (salted, two-phase)
  → web-density tile burn (z base) → pyramid rollup
  every stage manifest-checkpointed (resume = skip completed stages)

Scale notes (what changes at 10^12 rows on 1000 executors — nothing
structural):
- stage boundaries are parquet/Iceberg tables partitioned on the next
  stage's key (cells for the join, z/tx for tiles), so each stage
  starts from a co-partitioned scan instead of a shuffle;
- the polygon side is broadcast (cover-set rows, not geometry blobs ×
  points);
- the only big-data shuffles are the tile burn's and the pyramid
  rollups' (4× smaller per level).  The burn shuffles per-pixel
  partial counts, combined map-side, on (tx, ty, pix), then at most
  one row per occupied pixel on (tx, ty): the hot metro tiles cost
  at most tile_size² rows per map task, not their point count;
- hot metro cells are pre-salted (salt_factor) *and* AQE skew-split.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gdal_spark.kernels import wkb as W
from gdal_spark.operators.pyramid import pyramid_level
from gdal_spark.operators.rasterize import rasterize_points
from gdal_spark.operators.spatial_join import spatial_join_points_in_polygons, with_cell
from gdal_spark.plans.manifest import Manifest
from gdal_spark.sources.pages import CITIES, geocode, geocode_encode, synth_pages

# Zone polygons: one rectangle per city metro (deterministic).
def metro_zones() -> list[tuple]:
    zones = []
    for i, (name, lon, lat) in enumerate(CITIES):
        ring = np.array(
            [
                [lon - 0.6, lat - 0.6],
                [lon + 0.6, lat - 0.6],
                [lon + 0.6, lat + 0.6],
                [lon - 0.6, lat + 0.6],
                [lon - 0.6, lat - 0.6],
            ]
        )
        zones.append((i, W.polygon_wkb([ring])))
    return zones


def run_pipeline(
    spark: SparkSession,
    n_pages: int,
    root: str,
    base_z: int = 8,
    min_z: int = 5,
    partitions: int = 32,
    salt_factor: int = 4,
) -> dict:
    """Returns {stage: StageResult}; rerun with the same args resumes."""
    mf = Manifest(root)
    results = {}

    def pages_build():
        return synth_pages(spark, n_pages, partitions)

    res_pages = mf.run_stage(spark, "pages", [n_pages, partitions], pages_build)
    results["pages"] = res_pages

    def geo_build():
        pages = spark.read.parquet(res_pages.path)
        # fused geocode + cell encode: one pandas UDF, one Arrow pass.
        # Output is the NARROW derived table (page_id + derived cols):
        # the corpus itself (url/html/text) is never duplicated through
        # derived stages — join back on page_id when it is needed.
        geo = geocode_encode(pages, res_list=(7, 9)).select(
            "page_id", "lon", "lat", "cell7", "cell9"
        )
        # cluster by cell so the downstream join/tiling scans are
        # co-located (Hilbert-style spatial clustering via range
        # partitioning on the cell id)
        return geo.repartitionByRange(partitions, "cell7")

    res_geo = mf.run_stage(
        spark, "geocode", [res_pages.fp, 7, 9, partitions], geo_build
    )
    results["geocode"] = res_geo

    def join_build():
        geo = spark.read.parquet(res_geo.path)
        return spatial_join_points_in_polygons(
            geo.select("page_id", "lon", "lat"),
            metro_zones(),
            salt_factor=salt_factor,
            poly_id_col="zone_id",
        )

    res_join = mf.run_stage(
        spark, "zone_join", [res_geo.fp, salt_factor], join_build
    )
    results["zone_join"] = res_join

    def tiles_build():
        geo = spark.read.parquet(res_geo.path)
        return rasterize_points(geo, z=base_z)

    res_tiles = mf.run_stage(spark, "tiles", [res_geo.fp, base_z], tiles_build)
    results["tiles"] = res_tiles

    prev = res_tiles
    for z in range(base_z - 1, min_z - 1, -1):

        def level_build(prev_path=prev.path):
            return pyramid_level(spark.read.parquet(prev_path), method="sum")

        prev = mf.run_stage(spark, f"pyramid_z{z}", [prev.fp, z], level_build)
        results[f"pyramid_z{z}"] = prev

    # text invariant: the joined output carries `text` verbatim —
    # byte-identity per url is asserted in tests against re-synthesis
    return results
