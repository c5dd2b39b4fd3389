"""The packed region key shared by polygonize, dissolve and sieve:
(tx<<42)|(ty<<21)|local_label.

- It refuses what it cannot hold (tile sizes whose labels overflow 21
  bits, tiles outside [0, 2^21) per axis) instead of silently merging
  distinct regions.
- Keys past 2^53 (tiles far from the origin) stay exact.
- An empty label graph costs no join and no job beyond the size gate.
- Sieve under 8-connectivity absorbs across a tile corner.
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager

import numpy as np
import pytest

from gdal_spark.kernels import wkb as W
from gdal_spark.operators import graph, polygonize
from gdal_spark.operators.polygonize import polygonize_dissolved, polygonize_tiles
from gdal_spark.operators.rasterize import rasterize_wkb_grid, tiles_to_features
from gdal_spark.operators.sieve import sieve_tiles
from gdal_spark.session import local_df

IDENTITY_GT = (0.0, 1.0, 0.0, 0.0, 0.0, 1.0)
SF = "/root/testdata/sf0.001"

OPERATORS = {
    "polygonize_tiles": lambda t, ts: polygonize_tiles(t, nodata=0.0, tile_size=ts),
    "polygonize_dissolved": lambda t, ts: polygonize_dissolved(t, nodata=0.0, tile_size=ts),
    "sieve_tiles": lambda t, ts: sieve_tiles(t, threshold=5, nodata=0.0, tile_size=ts),
}


def rect_wkb(x0, y0, x1, y1):
    ring = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], dtype=float)
    return W.polygon_wkb([ring])


@contextmanager
def job_group(spark):
    """Yield a callable counting the Spark jobs run inside the block."""
    sc = spark.sparkContext
    group = uuid.uuid4().hex
    sc.setJobGroup(group, "region-key test")
    try:
        yield lambda: len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _tiles(spark, cells, ts):
    """One tile per (tx, ty), every pixel 1.0."""
    data = np.ones((ts, ts), dtype=np.float64).tobytes()
    return local_df(
        spark, [(tx, ty, data, "float64") for tx, ty in cells],
        "tx long, ty long, data binary, dtype string",
    )


@pytest.mark.parametrize("op", sorted(OPERATORS))
def test_tile_size_overflowing_the_label_field_fails_before_any_job(spark, op):
    tiles = _tiles(spark, [], 4)
    with job_group(spark) as jobs:
        with pytest.raises(ValueError, match="label field"):
            OPERATORS[op](tiles, 1449)  # 1449² > 2^21 local labels
        assert jobs() == 0
    OPERATORS[op](tiles, 1448)  # 1448² <= 2^21 is accepted


@pytest.mark.parametrize("op", sorted(OPERATORS))
@pytest.mark.parametrize(
    "cell", [(1 << 21, 0), (0, 1 << 21), (-1, 0)], ids=["tx=2^21", "ty=2^21", "tx=-1"])
def test_tile_outside_the_key_range_fails_loudly(spark, op, cell):
    tiles = _tiles(spark, [cell], 4)
    with pytest.raises(Exception, match="ValueError") as err:
        OPERATORS[op](tiles, 4).collect()
    assert "outside [0, 2^21)" in str(err.value)


def test_empty_label_graph_adds_no_join_and_no_job(spark, monkeypatch):
    """q26's rects never cross a block border, so its label graph is
    empty: the root map is an empty local relation, its left join folds
    away in the optimizer, and building it runs no Spark job beyond the
    size gate's own."""
    from gdal_spark.queries import QUERIES

    seen = {}
    real_gate, real_roots = graph.driver_rows, polygonize._label_roots

    with job_group(spark) as jobs:

        @contextmanager
        def gate(edges, cols):
            before = jobs()
            with real_gate(edges, cols) as rows:
                seen["gate_jobs"], seen["rows"] = jobs() - before, rows
                yield rows

        def label_roots(merges):
            before = jobs()
            roots = real_roots(merges)
            seen["roots_jobs"], seen["roots"] = jobs() - before, roots
            return roots

        monkeypatch.setattr(graph, "driver_rows", gate)
        monkeypatch.setattr(polygonize, "_label_roots", label_roots)
        df = QUERIES["q26_polygonize"](spark, SF)
        assert df.count() == 25

    assert seen["rows"] == []
    assert seen["roots_jobs"] == seen["gate_jobs"]
    assert "LocalRelation" in seen["roots"]._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in df._jdf.queryExecution().optimizedPlan().toString()


def test_q52_label_graph_is_not_empty(spark):
    """q52's rects cross block borders, so unlike q26 its root map is
    not empty and its join stays in the plan."""
    from gdal_spark.queries import QUERIES

    df = QUERIES["q52_polygonize_dissolved"](spark, SF)
    assert "Join" in df._jdf.queryExecution().optimizedPlan().toString()


@pytest.mark.parametrize("side", ["driver", "distributed"])
def test_sieve_absorbs_across_a_tile_corner_only_under_8conn(spark, monkeypatch, side):
    """Two 4-px regions each touch a 64-px region only diagonally
    through a tile corner: B at (32, 32) south-east of A, D at (64, 32)
    south-west of C.  With 8-connectivity both are absorbed into their
    big neighbour; with 4-connectivity they have no neighbour and
    stay."""
    feats = spark.createDataFrame(
        [
            (1.0, rect_wkb(24, 24, 32, 32)),  # A, tile (0, 0)
            (2.0, rect_wkb(32, 32, 34, 34)),  # B, tile (1, 1)
            (3.0, rect_wkb(64, 24, 72, 32)),  # C, tile (2, 0)
            (4.0, rect_wkb(62, 32, 64, 34)),  # D, tile (1, 1)
        ],
        "burn double, geom binary",
    )
    tiles = rasterize_wkb_grid(feats, IDENTITY_GT, 96, 96, tile_size=32).localCheckpoint()
    if side == "distributed":
        monkeypatch.setattr(graph, "DRIVER_EDGE_LIMIT", 0)

    def px(connect8):
        out = sieve_tiles(tiles, threshold=5, nodata=0.0, connect8=connect8, tile_size=32)
        return {(r["gx"], r["gy"]): r["v"]
                for r in tiles_to_features(out, tile_size=32, nodata=0.0).collect()}

    eight, four = px(True), px(False)
    b_px = [(x, y) for x in (32, 33) for y in (32, 33)]
    d_px = [(x, y) for x in (62, 63) for y in (32, 33)]
    assert [eight[p] for p in b_px] == [1.0] * 4
    assert [eight[p] for p in d_px] == [3.0] * 4
    assert [four[p] for p in b_px] == [2.0] * 4
    assert [four[p] for p in d_px] == [4.0] * 4
    assert list(eight.values()).count(1.0) == 64 + 4


def test_far_tiles_keep_exact_keys(spark):
    """Keys of tiles far from the origin exceed 2^53: shifting the
    sieve cascade fixture (big A – B – C) by 2^20 tiles per axis must
    relabel exactly as at the origin, and polygonize must count the
    same regions."""
    from pyspark.sql import functions as F

    feats = spark.createDataFrame(
        [
            (1.0, rect_wkb(10, 10, 16, 16)),
            (2.0, rect_wkb(16, 12, 18, 14)),
            (3.0, rect_wkb(18, 12, 19, 14)),
            (4.0, rect_wkb(28, 20, 36, 24)),  # crosses the x = 32 border
        ],
        "burn double, geom binary",
    )
    near = rasterize_wkb_grid(feats, IDENTITY_GT, 64, 64, tile_size=32).localCheckpoint()
    shift = 1 << 20
    far = near.withColumn("tx", F.col("tx") + shift).withColumn("ty", F.col("ty") + shift)

    def relabeled(tiles, offset):
        out = sieve_tiles(tiles, threshold=5, nodata=0.0, tile_size=32)
        return {(r["tx"] - offset, r["ty"] - offset, bytes(r["data"])) for r in out.collect()}

    assert relabeled(far, shift) == relabeled(near, 0)
    regions = [
        sorted((r["dn"], r["pixel_count"], r["n_tiles"]) for r in
               polygonize_tiles(t, nodata=0.0, tile_size=32).collect())
        for t in (near, far)
    ]
    assert regions[0] == regions[1] and (4.0, 32, 2) in regions[0]
