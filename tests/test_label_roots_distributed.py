"""The size-gated label-graph CC (`polygonize._label_roots` through
`graph.connected_components`): past `graph.DRIVER_EDGE_LIMIT` the driver
union-find is replaced by the distributed pointer-jumping CC.  Both
paths root components at the lexicographic-min (tx, ty, label), so
polygonize / sieve results must be bit-identical either way — these
tests force DRIVER_EDGE_LIMIT=0 (always distributed) and compare
against the default driver path.
"""

from __future__ import annotations

import numpy as np

from gdal_spark.kernels import wkb as W
from gdal_spark.operators import graph
from gdal_spark.operators.polygonize import polygonize_dissolved, polygonize_tiles
from gdal_spark.operators.rasterize import rasterize_wkb_grid, tiles_to_features
from gdal_spark.operators.sieve import sieve_tiles

IDENTITY_GT = (0.0, 1.0, 0.0, 0.0, 0.0, 1.0)


def rect_wkb(x0, y0, x1, y1):
    ring = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], dtype=float)
    return W.polygon_wkb([ring])


def _fixture(spark):
    """Multi-tile raster with cross-tile regions: an L-shape spanning
    3 tiles, a small satellite, and a corner-touching square pair."""
    feats = spark.createDataFrame(
        [
            (3.0, rect_wkb(20, 10, 40, 18)),   # crosses x=32
            (3.0, rect_wkb(20, 18, 26, 40)),   # same dn, crosses y=32 — one L region
            (9.0, rect_wkb(40, 11, 42, 13)),   # small satellite touching the L
            (5.0, rect_wkb(30, 30, 32, 32)),   # corner-touches next square at (32,32)
            (5.0, rect_wkb(32, 32, 34, 34)),
        ],
        "burn double, geom binary",
    )
    return rasterize_wkb_grid(feats, IDENTITY_GT, 64, 64, tile_size=32)


def _region_set(df):
    return {(r["dn"], r["pixel_count"], r["n_tiles"]) for r in df.collect()}


def _distributed(monkeypatch, fn, *args, **kwargs):
    with monkeypatch.context() as m:
        m.setattr(graph, "DRIVER_EDGE_LIMIT", 0)
        return fn(*args, **kwargs)


def test_polygonize_tiles_distributed_cc_matches_driver(spark, monkeypatch):
    tiles = _fixture(spark)
    for connect8 in (False, True):
        drv = polygonize_tiles(tiles, nodata=0.0, connect8=connect8, tile_size=32)
        dist = _distributed(
            monkeypatch, polygonize_tiles,
            tiles, nodata=0.0, connect8=connect8, tile_size=32
        )
        a = sorted((r["region_id"], r["dn"], r["pixel_count"], r["n_tiles"])
                   for r in drv.collect())
        b = sorted((r["region_id"], r["dn"], r["pixel_count"], r["n_tiles"])
                   for r in dist.collect())
        assert a == b  # region ids identical → identical roots


def test_polygonize_dissolved_distributed_cc_matches_driver(spark, monkeypatch):
    tiles = _fixture(spark)
    drv = polygonize_dissolved(tiles, nodata=0.0, tile_size=32).collect()
    dist = _distributed(
        monkeypatch, polygonize_dissolved, tiles, nodata=0.0, tile_size=32
    ).collect()
    key = lambda r: r["region_id"]
    for a, b in zip(sorted(drv, key=key), sorted(dist, key=key)):
        assert (a["region_id"], a["dn"], a["n_rings"], a["perim"], a["parea"]) == (
            b["region_id"], b["dn"], b["n_rings"], b["perim"], b["parea"]
        )
        assert a["wkb"] == b["wkb"]


def test_sieve_distributed_cc_matches_driver(spark, monkeypatch):
    tiles = _fixture(spark)
    drv = sieve_tiles(tiles, threshold=5, nodata=0.0, tile_size=32)
    dist = _distributed(
        monkeypatch, sieve_tiles, tiles, threshold=5, nodata=0.0, tile_size=32)
    px_a = {(r["gx"], r["gy"]): r["v"]
            for r in tiles_to_features(drv, tile_size=32, nodata=0.0).collect()}
    px_b = {(r["gx"], r["gy"]): r["v"]
            for r in tiles_to_features(dist, tile_size=32, nodata=0.0).collect()}
    assert px_a == px_b
    assert 9.0 not in px_a.values()  # satellite absorbed into the L


def test_no_driver_dsu_past_threshold(spark, monkeypatch):
    """Plan hygiene: with DRIVER_EDGE_LIMIT=0 the driver union-find must
    never engage — sabotage the shared `graph._union_find` and require
    the distributed CC path to carry polygonize and sieve end to end."""
    def boom(pairs):
        raise AssertionError("driver union-find used past DRIVER_EDGE_LIMIT")

    tiles = _fixture(spark)
    monkeypatch.setattr(graph, "_union_find", boom)
    monkeypatch.setattr(graph, "DRIVER_EDGE_LIMIT", 0)
    out = polygonize_tiles(tiles, nodata=0.0, tile_size=32)
    assert out.count() > 0
    # sieve: the label CC goes through polygonize._label_roots; the
    # absorption stage (graph.driver_rows as well) runs distributed too
    px = sieve_tiles(tiles, threshold=5, nodata=0.0, tile_size=32)
    assert px.count() > 0
