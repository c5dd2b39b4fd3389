"""Both sides of every graph size gate return the same schema and rows.

Every driver/distributed switch reads ``graph.DRIVER_EDGE_LIMIT``.  Each
case runs once at the default limit (every gate on the driver side) and
once with the limit forced to 0 (at least one gate past it), and must
return an identical ``schema.simpleString()`` and identical sorted
rows.  A spy on ``graph.driver_rows`` checks which side each run took.
"""

from __future__ import annotations

from contextlib import contextmanager

import numpy as np
import pytest

from gdal_spark.kernels import wkb as W
from gdal_spark.operators import graph
from gdal_spark.operators.polygonize import polygonize_tiles
from gdal_spark.operators.rasterize import rasterize_wkb_grid
from gdal_spark.operators.sieve import sieve_tiles

IDENTITY_GT = (0.0, 1.0, 0.0, 0.0, 0.0, 1.0)


def _pairs():
    # three components (a chain, a cycle, a star) plus a self-loop
    return ([(i, i + 1) for i in range(10, 19)]
            + [(30, 31), (31, 32), (32, 30)]
            + [(50, j) for j in (41, 47, 53, 44)] + [(7, 7)])


def _cc(spark, node_type):
    if node_type == "string":
        rows = [(f"n{a:03d}", f"n{b:03d}") for a, b in _pairs()]
    else:
        rows = _pairs()
    e = spark.createDataFrame(rows, f"a {node_type}, b {node_type}")
    return graph.connected_components(e, src="a", dst="b")


def _weighted(spark, w_type):
    rows = [
        (u, v, 1 + (u * v) % 7 + (0.25 * (u % 4) if w_type == "double" else 0))
        for u in range(59)
        for v in (u + 1 + (u * 7) % 4, u + 2 + (u * 13) % 5)
        if v < 60
    ]
    return spark.createDataFrame(rows, f"src long, dst long, w {w_type}")


def _mst_double(spark):
    rows = []
    for i in range(60):
        for d in (1, 2, 5, 9):
            j = (i * 2654435761 + d) % 60
            if i != j:
                rows.append((i, j, 0.125 + 0.5 * ((i * 31 + j * 17) % 7)))
    return graph.boruvka_mst(
        spark.createDataFrame(rows, "src long, dst long, w double"))


def _rect(x0, y0, x1, y1):
    ring = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], dtype=float)
    return W.polygon_wkb([ring])


def _tiles(spark, rects, size):
    feats = spark.createDataFrame(
        [(dn, _rect(*r)) for dn, r in rects], "burn double, geom binary")
    return rasterize_wkb_grid(feats, IDENTITY_GT, size, size, tile_size=32)


# cross-tile regions: an L over three tiles, a small satellite touching
# it, a corner-touching square pair
CROSS_TILE = [
    (3.0, (20, 10, 40, 18)), (3.0, (20, 18, 26, 40)), (9.0, (40, 11, 42, 13)),
    (5.0, (30, 30, 32, 32)), (5.0, (32, 32, 34, 34)),
]
# one tile, so the label graph is empty and only the absorption gate
# can flip: a cascade chain, a mutual small pair, an isolated speck
ONE_TILE = [
    (1.0, (4, 4, 10, 10)), (2.0, (10, 6, 12, 8)), (3.0, (12, 6, 13, 8)),
    (4.0, (20, 20, 22, 22)), (5.0, (22, 20, 23, 22)), (8.0, (28, 28, 30, 30)),
]

CASES = {
    "cc_long": lambda s: _cc(s, "long"),
    "cc_int": lambda s: _cc(s, "int"),
    "cc_string": lambda s: _cc(s, "string"),
    "sssp_long": lambda s: graph.shortest_paths(_weighted(s, "long"), 0),
    "sssp_double": lambda s: graph.shortest_paths(_weighted(s, "double"), 0),
    "kshortest_long": lambda s: graph.k_shortest_costs(_weighted(s, "long"), 0, k=3),
    "kshortest_double": lambda s: graph.k_shortest_costs(
        _weighted(s, "double"), 0, k=3),
    "mst_double": _mst_double,
    "polygonize_label_graph": lambda s: polygonize_tiles(
        _tiles(s, CROSS_TILE, 64), nodata=0.0, connect8=True, tile_size=32),
    "sieve_label_graph": lambda s: sieve_tiles(
        _tiles(s, CROSS_TILE, 64), threshold=5, nodata=0.0, tile_size=32),
    "sieve_absorption": lambda s: sieve_tiles(
        _tiles(s, ONE_TILE, 32), threshold=5, nodata=0.0, tile_size=32),
}


@pytest.fixture
def distributed_sides(monkeypatch):
    """One bool per gate passed: True when it went past the limit."""
    sides: list[bool] = []
    real = graph.driver_rows

    @contextmanager
    def spy(edges, cols):
        with real(edges, cols) as rows:
            sides.append(rows is None)
            yield rows

    monkeypatch.setattr(graph, "driver_rows", spy)
    return sides


@pytest.mark.parametrize("case", sorted(CASES))
def test_both_sides_of_gate(spark, monkeypatch, distributed_sides, case):
    drv = CASES[case](spark)
    drv_out = (drv.schema.simpleString(), sorted(map(tuple, drv.collect())))
    assert distributed_sides and not any(distributed_sides)
    assert drv_out[1]

    distributed_sides.clear()
    monkeypatch.setattr(graph, "DRIVER_EDGE_LIMIT", 0)
    dist = CASES[case](spark)
    assert any(distributed_sides)
    assert (dist.schema.simpleString(), sorted(map(tuple, dist.collect()))) == drv_out
