"""Skew on the DataFrame polygon side: 90% of the points pile into one
res-7 cell (a metro blob).  The shuffle-hash join leaves the hot cell
to AQE's skew-join split, and the split plan returns exactly the
broadcast join's rows."""

from __future__ import annotations

import re

import numpy as np

from gdal_spark.kernels import wkb as W
from gdal_spark.operators.spatial_join import spatial_join_points_in_polygons
from gdal_spark.session import local_df


def rect_wkb(x0, y0, x1, y1):
    ring = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], dtype=float)
    return W.polygon_wkb([ring])


def _points(spark, n=20000):
    # 90% of points pile into a ~0.1° metro blob; the rest spread wide.
    df = spark.range(n)
    hot = df.filter("id % 10 < 9").selectExpr(
        "id",
        "10.0 + (id % 97) * 0.001 as lon",
        "50.0 + (id % 89) * 0.001 as lat",
    )
    cold = df.filter("id % 10 = 9").selectExpr(
        "id",
        "-170.0 + (id % 331) * 1.0 as lon",
        "-80.0 + (id % 157) * 1.0 as lat",
    )
    return hot.unionByName(cold)


POLYS = [
    (1, rect_wkb(9.5, 49.5, 11.5, 51.5)),    # covers the metro blob
    (2, rect_wkb(-60.0, -40.0, 20.0, 30.0)),  # big cold-region zone
]

# thresholds low enough that the 18k-row hot partition counts as skewed
SKEW_CONF = {
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1KB",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
}


def test_dataframe_side_hot_cell_is_skew_split(spark):
    pts = _points(spark)
    ref = {
        (r["id"], r["poly_id"])
        for r in spatial_join_points_in_polygons(pts, POLYS).collect()
    }
    saved = {k: spark.conf.get(k) for k in SKEW_CONF}
    try:
        for k, v in SKEW_CONF.items():
            spark.conf.set(k, v)
        j = spatial_join_points_in_polygons(
            pts, local_df(spark, POLYS, "poly_id long, geom binary")
        )
        got = {(r["id"], r["poly_id"]) for r in j.collect()}
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert got == ref and len(ref) > 0
    final = plan.split("isFinalPlan=true")[1].split("+- == Initial Plan ==")[0]
    assert re.search(r"ShuffledHashJoin\(skew=true\) \[cell.*BuildRight", final), final
    assert "AQEShuffleRead coalesced and skewed" in final
