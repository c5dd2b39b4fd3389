"""Driver-vs-distributed parity for the size-gated Borůvka MST.

The repo rule (round-3 invariant): a size-gated operator must
implement BOTH paths of the SAME spec and assert identical outputs.
`boruvka_mst` replays the distributed round recurrence in driver
dicts up to `graph.DRIVER_EDGE_LIMIT` edges (forced to 0 here for the
distributed side); this pins the two paths equal on

- the q472 fixture shape (48 points on a line, |i-j| <= 4 window), and
- an irregular hash-weighted graph with weight ties (the (w, u, v)
  total order must break them identically on both paths).
"""

from pyspark.sql import functions as F  # noqa: F401

from gdal_spark.operators import graph
from gdal_spark.operators.graph import boruvka_mst
from gdal_spark.session import local_df


def _edges_line(spark):
    rows = []
    for i in range(48):
        pos_i = 100 * (i // 8) + 7 * (i % 8) + (i * i) % 5
        for j in range(i + 1, min(i + 5, 48)):
            pos_j = 100 * (j // 8) + 7 * (j % 8) + (j * j) % 5
            rows.append((i, j, pos_j - pos_i))
    return local_df(spark, rows, "src long, dst long, w long")


def _edges_hashed(spark):
    # multiplicative mixing (the q747 lesson) + deliberate ties:
    # w mod 7 collides heavily, exercising the (w, u, v) tie-break
    rows = []
    for i in range(60):
        for d in (1, 2, 5, 9):
            j = (i * 2654435761 + d) % 60
            if i != j:
                rows.append((i, j, (i * 31 + j * 17) % 7))
    return local_df(spark, rows, "src long, dst long, w long")


def _canon(df):
    return sorted(tuple(r) for r in df.select("u", "v", "w").collect())


def _distributed(monkeypatch, e):
    """boruvka_mst past the size gate (DRIVER_EDGE_LIMIT forced to 0)."""
    with monkeypatch.context() as m:
        m.setattr(graph, "DRIVER_EDGE_LIMIT", 0)
        return boruvka_mst(e)


def test_parity_line(spark, monkeypatch):
    e = _edges_line(spark)
    assert _canon(_distributed(monkeypatch, e)) == _canon(
        boruvka_mst(e))


def test_parity_ties(spark, monkeypatch):
    e = _edges_hashed(spark)
    dist = _canon(_distributed(monkeypatch, e))
    loc = _canon(boruvka_mst(e))
    assert dist == loc
    # forest spans: edge count == nodes - components is implied by
    # both paths agreeing; sanity-check non-triviality
    assert len(loc) > 0


def test_gate_routes_large_to_distributed(spark, monkeypatch):
    e = _edges_line(spark)
    # DRIVER_EDGE_LIMIT 0 forces the distributed path through the gate:
    # the driver union-find must not run there
    def boom(pairs):
        raise AssertionError("driver union-find used past the gate")

    with monkeypatch.context() as m:
        m.setattr(graph, "_union_find", boom)
        dist = _distributed(monkeypatch, e)
    assert _canon(dist) == _canon(
        boruvka_mst(e))


def test_double_weights_same_schema_both_sides_of_gate(spark, monkeypatch):
    # the driver path used to hardcode `w long`; DOUBLE weights must
    # come back as DOUBLE, with identical rows, whichever side runs
    rows = []
    for i in range(60):
        for d in (1, 2, 5, 9):
            j = (i * 2654435761 + d) % 60
            if i != j:
                rows.append((i, j, 0.125 + 0.5 * ((i * 31 + j * 17) % 7)))
    e = local_df(spark, rows, "src long, dst long, w double")
    drv = boruvka_mst(e)
    dist = _distributed(monkeypatch, e)
    schema = [(f.name, f.dataType.simpleString()) for f in drv.schema]
    assert schema == [("u", "bigint"), ("v", "bigint"), ("w", "double")]
    assert schema == [(f.name, f.dataType.simpleString()) for f in dist.schema]
    assert _canon(drv) == _canon(dist) and len(_canon(drv)) > 0
