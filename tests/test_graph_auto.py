"""Size-gated SSSP / k-shortest parity: the driver replay and the
distributed loop must produce identical result sets on the same graph
(DRIVER_EDGE_LIMIT=0 forces the distributed branch on the same input)."""

from gdal_spark.operators import graph
from gdal_spark.operators.graph import k_shortest_costs, shortest_paths


def _edges(spark):
    rows = [
        (u, v, 1 + (u * v) % 7)
        for u in range(59)
        for v in (u + 1 + (u * 7) % 4, u + 2 + (u * 13) % 5)
        if v < 60
    ]
    return spark.createDataFrame(rows, "src long, dst long, w long")


def test_sssp_auto_parity(spark, monkeypatch):
    e = _edges(spark)
    drv = {(r.node, r.cost) for r in shortest_paths(e, 0).collect()}
    monkeypatch.setattr(graph, "DRIVER_EDGE_LIMIT", 0)
    dist = {(r.node, r.cost) for r in shortest_paths(e, 0).collect()}
    assert drv == dist and len(drv) > 10


def test_k_shortest_auto_parity(spark, monkeypatch):
    e = _edges(spark)
    drv = {(r.node, r.rank, r.cost) for r in k_shortest_costs(e, 0, k=3).collect()}
    monkeypatch.setattr(graph, "DRIVER_EDGE_LIMIT", 0)
    dist = {
        (r.node, r.rank, r.cost)
        for r in k_shortest_costs(e, 0, k=3).collect()
    }
    assert drv == dist and len(drv) > 30
