"""Size-gated sieve absorption: the distributed round-synchronous
contraction (_absorb_rounds_distributed) must produce IDENTICAL output
to the collected driver loop (_absorb_rounds) — the _label_roots
dual-path pattern applied to the absorption stage
(alg/gdalsievefilter.cpp:640's merge loop, re-pinned as the
order-free round-synchronous spec)."""

import numpy as np

from gdal_spark.kernels import wkb as W
from gdal_spark.operators import graph
from gdal_spark.operators.polygonize import _pack
from gdal_spark.operators.rasterize import rasterize_wkb_grid, tiles_to_features
from gdal_spark.operators.sieve import _absorb_rounds, sieve_tiles

IDENTITY_GT = (0.0, 1.0, 0.0, 0.0, 0.0, 1.0)


def rect_wkb(x0, y0, x1, y1):
    ring = np.array(
        [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], dtype=float
    )
    return W.polygon_wkb([ring])


def _px(df):
    return {(r["gx"], r["gy"]): r["v"] for r in df.collect()}


def _fixture(spark):
    """Cascade chains + a mutual small pair + satellites straddling
    tile borders — every absorption topology the rounds handle."""
    feats = []
    # chain: big A — B — C (cascading absorption)
    feats += [
        (1.0, rect_wkb(10, 10, 16, 16)),
        (2.0, rect_wkb(16, 12, 18, 14)),
        (3.0, rect_wkb(18, 12, 19, 14)),
    ]
    # mutual pair: two small regions adjacent only to each other
    feats += [
        (4.0, rect_wkb(40, 40, 42, 42)),  # 4 px
        (5.0, rect_wkb(42, 40, 43, 42)),  # 2 px
    ]
    # cross-tile satellite
    feats += [
        (6.0, rect_wkb(24, 50, 32, 56)),
        (7.0, rect_wkb(32, 51, 34, 53)),
    ]
    # isolated small region (survives)
    feats += [(8.0, rect_wkb(55, 55, 57, 57))]
    return spark.createDataFrame(feats, "burn double, geom binary")


def test_distributed_absorption_matches_driver(spark, monkeypatch):
    tiles = rasterize_wkb_grid(
        _fixture(spark), IDENTITY_GT, 64, 64, tile_size=32
    ).localCheckpoint()
    out_driver = sieve_tiles(
        tiles, threshold=5, nodata=0.0, tile_size=32
    )
    # DRIVER_EDGE_LIMIT 0 puts the absorption subgraph past the gate
    monkeypatch.setattr(graph, "DRIVER_EDGE_LIMIT", 0)
    out_dist = sieve_tiles(
        tiles, threshold=5, nodata=0.0, tile_size=32
    )
    px_d = _px(tiles_to_features(out_driver, tile_size=32, nodata=0.0))
    px_x = _px(tiles_to_features(out_dist, tile_size=32, nodata=0.0))
    assert px_d == px_x
    # semantic spot checks
    assert px_d[(18, 12)] == 1.0  # cascade collapses into A
    assert px_d[(42, 40)] == 4.0  # mutual pair: larger (dn=4) survives
    assert px_d[(32, 51)] == 6.0  # cross-tile satellite absorbed
    assert px_d[(55, 55)] == 8.0  # isolated survives


def test_absorb_rounds_mutual_pair_semantics():
    # pinned round-synchronous contract: in a mutual selection the
    # larger (count, smallest-key) region survives
    a, b = _pack(0, 0, 1), _pack(0, 0, 2)
    count = {a: 3, b: 2}
    dn = {a: 10.0, b: 20.0}
    adj = {a: {b}, b: {a}}
    parent = _absorb_rounds(count, dn, adj, threshold=5)
    assert parent == {b: a}


def test_absorb_rounds_chain_collapses_in_one_round():
    big, mid, tip = _pack(0, 0, 1), _pack(0, 0, 2), _pack(0, 0, 3)
    count = {big: 36, mid: 4, tip: 2}
    dn = {big: 1.0, mid: 2.0, tip: 3.0}
    adj = {big: {mid}, mid: {big, tip}, tip: {mid}}
    parent = _absorb_rounds(count, dn, adj, threshold=5)
    assert parent == {mid: big, tip: big}
