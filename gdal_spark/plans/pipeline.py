"""The flagship pages pipeline (north rule, end to end):

  synth pages → geocode (lon/lat) → cell index (res 7-9 + hilbert)
  → spatial join vs zone polygons (broadcast cover)
  → web-density tile burn (z base) + SUM pyramid to z base-3, one job
  → any coarser pyramid levels, one stage each
  every stage manifest-checkpointed (resume = skip completed stages)

Every stage reads its input with the schema its producer writes
(``PAGES_SCHEMA``, ``GEOCODE_SCHEMA``, ``TILE_SCHEMA``), so building a
stage's DataFrame runs no Spark job, and the geocode stage has no
exchange.  One pipeline job at base_z=8, min_z=5 is six Spark jobs:
the geocode write, the zone join's broadcast and write, and the burn's
two shuffle map stages and write.

Scale notes (what changes at 10^12 rows on 1000 executors):
- stage boundaries are parquet/Iceberg tables written in their
  producer's scan order; no stage clusters its output for the next
  one, because none would use it: the zone join is map-only and the
  burn shuffles on its own keys;
- the polygon side is broadcast (cover-set rows, not geometry blobs ×
  points), so the join has no shuffle and no salting;
- the only big-data shuffle is the tile burn's.  It shuffles per-pixel
  partial counts, combined map-side, on (tx, ty, pix), then at most
  one row per occupied pixel on the tiles' z base-3 ancestor: the hot
  metro tiles cost at most tile_size² rows per map task, not their
  point count, and one Python call per ancestor writes its base tiles
  and their three overview levels (``rasterize_points(min_z=...)``).
- that last step does not widen with the cluster: it runs one task per
  occupied ancestor.  The metro zones occupy 19 z5 ancestors (44 z8
  tiles) at both 250k and 1M pages, and the 12 hottest hold 82-88% of
  the pixel rows, so at most 19 executors assemble tiles.  Its input
  is bounded by the pixel count (64·tile_size² rows per ancestor), not
  the page count, so it is a fixed cost per job, while the encode and
  pixel aggregate below it scale with the executors.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import SparkSession
from pyspark.sql import types as T

from gdal_spark.kernels import wkb as W
from gdal_spark.operators.pyramid import pyramid_level
from gdal_spark.operators.rasterize import MAX_FUSED_LEVELS, TILE_SCHEMA, rasterize_points
from gdal_spark.operators.spatial_join import spatial_join_points_in_polygons
from gdal_spark.plans.manifest import Manifest
from gdal_spark.sources.pages import CITIES, PAGES_SCHEMA, geocode_encode, synth_pages

# The geocode stage's table: page_id and the derived columns only.
GEOCODE_SCHEMA = T.StructType(
    [
        T.StructField("page_id", T.LongType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("cell7", T.LongType()),
        T.StructField("cell9", T.LongType()),
    ]
)


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
) -> dict:
    """Returns {stage: StageResult}; rerun with the same args resumes.

    ``partitions`` shapes only the pages stage (its slice count); the
    geocode stage is map-only and writes in the pages' scan order.  The
    ``tiles`` stage writes the base_z tiles and the pyramid levels
    down to base_z - ``MAX_FUSED_LEVELS`` in one job, committed as one
    manifest row per level (``tiles``, ``pyramid_z{z}``, ...); each
    level below that is its own ``pyramid_level`` stage."""
    mf = Manifest(root)
    results = {}

    def pages_build():
        return synth_pages(spark, n_pages, partitions)

    res_pages = mf.run_stage(spark, "pages", [n_pages, partitions], pages_build)
    results["pages"] = res_pages

    def geo_build():
        pages = spark.read.schema(PAGES_SCHEMA).parquet(res_pages.path)
        # fused geocode + cell encode in JVM expressions, written in the
        # pages' scan order: no exchange, one pass over the pages.
        # Output is the NARROW derived table (page_id + derived cols):
        # the corpus itself (url/html/text) is never duplicated through
        # derived stages — join back on page_id when it is needed.
        return geocode_encode(pages, res_list=(7, 9)).select(*GEOCODE_SCHEMA.names)

    res_geo = mf.run_stage(spark, "geocode", [res_pages.fp, 7, 9], geo_build)
    results["geocode"] = res_geo

    def join_build():
        geo = spark.read.schema(GEOCODE_SCHEMA).parquet(res_geo.path)
        return spatial_join_points_in_polygons(
            geo.select("page_id", "lon", "lat"),
            metro_zones(),
            poly_id_col="zone_id",
        )

    res_join = mf.run_stage(spark, "zone_join", [res_geo.fp], join_build)
    results["zone_join"] = res_join

    fused_z = max(min_z, base_z - MAX_FUSED_LEVELS)

    def tiles_build():
        geo = spark.read.schema(GEOCODE_SCHEMA).parquet(res_geo.path)
        return rasterize_points(geo, z=base_z, min_z=fused_z)

    levels = {"tiles": base_z}
    levels.update({f"pyramid_z{z}": z for z in range(base_z - 1, fused_z - 1, -1)})
    results.update(
        mf.run_stage(spark, "tiles", [res_geo.fp, base_z, fused_z], tiles_build, parts=levels)
    )

    prev = results[list(levels)[-1]]  # the coarsest fused level
    for z in range(fused_z - 1, min_z - 1, -1):

        def level_build(prev_path=prev.path):
            return pyramid_level(spark.read.schema(TILE_SCHEMA).parquet(prev_path), method="sum")

        prev = mf.run_stage(spark, f"pyramid_z{z}", [prev.fp, z], level_build)
        results[f"pyramid_z{z}"] = prev

    # text invariant: the joined output carries `text` verbatim —
    # byte-identity per url is asserted in tests against re-synthesis
    return results
