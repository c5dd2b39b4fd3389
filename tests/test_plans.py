"""Physical-plan hygiene: the optimizations we rely on at 100 TB must
actually appear in the plans — pushdown reaches the scan, small sides
broadcast, the point table is never shuffled, cell keys stay in
codegen."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gdal_spark.operators.spatial_join import spatial_join_points_in_polygons
from gdal_spark.plans.pipeline import metro_zones
from gdal_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    df = QUERIES["q01_filter_project"](spark, SF)
    plan = plan_of(df)
    assert "PushedFilters: [" in plan
    assert "l_quantity" in plan.split("PushedFilters:")[1].split("]")[0]


def test_column_pruning_reaches_scan(spark):
    df = QUERIES["q01_filter_project"](spark, SF)
    read_schema = plan_of(df).split("ReadSchema:")[1].splitlines()[0]
    # only the 6 referenced columns, not all 16 lineitem columns
    assert "l_comment" not in read_schema and "l_shipmode" not in read_schema


def test_spatial_join_broadcasts_and_never_shuffles_points(spark):
    pts = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id",
        (((F.col("doc_id") * 9973) % 36000) / 100.0 - 180.0).alias("lon"),
        (((F.col("doc_id") * 7919) % 16000) / 100.0 - 80.0).alias("lat"),
    )
    j = spatial_join_points_in_polygons(pts, metro_zones(), poly_id_col="zone_id")
    plan = plan_of(j)
    assert "BroadcastHashJoin" in plan
    # the only exchange allowed is the broadcast itself
    import re

    exchanges = re.findall(r"Exchange (\w+)", plan)
    assert all(e.startswith("SingleP") or "broadcast" in e.lower() for e in exchanges), exchanges


def test_cell_key_is_codegen_not_python(spark):
    pts = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id",
        (F.col("doc_id") / 10.0).alias("lon"),
        (F.col("doc_id") / 20.0).alias("lat"),
    )
    from gdal_spark.operators.spatial_join import with_cell

    plan = plan_of(with_cell(pts))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_small_dim_join_broadcasts(spark):
    df = QUERIES["q06_left_join"](spark, SF)
    assert "BroadcastHashJoin" in plan_of(df)


def test_groupby_has_partial_aggregation(spark):
    df = QUERIES["q05_groupby_agg"](spark, SF)
    plan = plan_of(df)
    # map-side combine: two HashAggregate levels around the exchange
    assert plan.count("HashAggregate") >= 2


def test_warp_mapping_join_no_cartesian(spark):
    """warp's dst-tile → src-tile mapping is a pure equi-join (no
    BroadcastNestedLoop / Cartesian), and the mapping side is computed
    with column arithmetic — no Python eval stage before the join."""
    df = QUERIES["q65_warp_nearest"](spark, SF)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_layer_algebra_broadcasts_method_side(spark):
    df = QUERIES["q76_overlay_union"](spark, SF)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_sieve_map_join_broadcasts(spark):
    """sieve's (tile, label) → merged-dn map is broadcast back onto the
    tile table — the big side must not shuffle for the relabel join."""
    df = QUERIES["q68_sieve_merge"](spark, SF)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_mosaic_single_shuffle_on_tile_key(spark):
    """mosaic = union + one groupBy(tx, ty): exactly one
    hashpartitioning exchange over the tile key."""
    import re

    df = QUERIES["q81_mosaic_last"](spark, SF)
    plan = plan_of(df)
    hashes = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    tile_keyed = [h for h in hashes if "tx" in h and "ty" in h]
    assert len(tile_keyed) >= 1
    assert "CartesianProduct" not in plan


def test_df_cover_join_is_shuffle_hash_not_cartesian(spark):
    """The DataFrame-polygon-side join (polygon_cover_df path) must be
    an equi-join on cell (shuffle-hash) that builds its hash table on
    the cover side, never a cartesian product."""
    import re

    import numpy as np
    import pandas as pd

    from gdal_spark.kernels import wkb as W

    pts = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id",
        (((F.col("doc_id") * 9973) % 36000) / 100.0 - 180.0).alias("lon"),
        (((F.col("doc_id") * 7919) % 16000) / 100.0 - 80.0).alias("lat"),
    )

    def mk(pdf_iter):
        for pdf in pdf_iter:
            rows = []
            for k in pdf["doc_id"].head(5):
                k = int(k)
                ring = np.array(
                    [[k % 50, 0], [k % 50 + 10, 0], [k % 50 + 10, 10],
                     [k % 50, 10], [k % 50, 0]], float
                )
                rows.append((k, W.polygon_wkb([ring])))
            yield pd.DataFrame(rows, columns=["zone_id", "geom"])

    zones = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id").limit(5).mapInPandas(mk, "zone_id long, geom binary")
    )
    j = spatial_join_points_in_polygons(pts, zones, poly_id_col="zone_id")
    plan = plan_of(j)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    # the hash table is built on the cover, not on the points
    assert "ShuffledHashJoin [cell#" in re.sub(r"#\d+L?", "#", plan)
    assert "BuildRight" in plan and "BuildLeft" not in plan


def test_pyramid_convolution_single_exchange(spark):
    """The convolution overview is one halo-strip exchange (the
    groupBy(tile)) — no extra shuffles in the plan."""
    from gdal_spark.operators.pyramid import pyramid_convolution
    from gdal_spark.queries import _dem_tiles

    out = pyramid_convolution(_dem_tiles(spark), "bilinear", 32, 128, 128)
    import re

    plan = plan_of(out)
    # RoundRobin comes from the fixture's synthesis repartition; the
    # OPERATOR itself contributes exactly one hash exchange (the halo
    # groupBy)
    hashes = [
        e for e in re.findall(r"Exchange (\w+)", plan) if e.startswith("hash")
    ]
    assert len(hashes) == 1, hashes
