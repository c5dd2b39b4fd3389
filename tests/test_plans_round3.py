"""Round-3 plan-hygiene assertions.

q148 PQ serving: the per-(query, subspace, code) ADC lookup tables
must be BROADCAST-JOINED tables, never plan literals — a literal 2-D
array grows the plan O(n_queries·m·k) and breaks real serving
batches.  The executed plan must show one broadcast hash join per
subspace and stay small and free of element_at literal indexing.
"""

from gdal_spark import queries as _registry
import parity_queries

QUERIES = {**_registry.QUERIES, **parity_queries.QUERIES}

SF = "/root/testdata/sf0.01"


def test_q148_luts_are_broadcast_joined(spark):
    df = QUERIES["q148_pq_ann_search"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2
    assert "element_at" not in plan
    # plan size constant in batch size: a 10-query literal-LUT plan
    # measured ~80 entries inline; the joined plan stays well under
    assert len(plan) < 20_000


def test_overlay_features_broadcast_prefilter(spark):
    """overlay_features must prefilter candidates with a BROADCAST
    bbox join (no cartesian/BNLJ of the big side) before the exact
    clip stage."""
    import numpy as np

    from gdal_spark.kernels import wkb as W
    from gdal_spark.operators.overlay import overlay_features
    from gdal_spark.session import local_df

    def rect(x0, y0, x1, y1):
        ring = np.array(
            [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], dtype=float
        )
        return W.polygon_wkb([ring])

    rows = [(i, rect(i * 20, 0, i * 20 + 5, 5)) for i in range(6)]
    layer = local_df(spark, rows, "a_id long, geom binary")
    bpolys = [(i, rect(i * 20 + 2, 2, i * 20 + 7, 7)) for i in range(6)]
    res = overlay_features(layer, bpolys, "intersection")
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    out = {r["a_id"]: r["piece_area"] for r in res.collect()}
    assert out == {i: 9.0 for i in range(6)}


def test_web_pipeline_queries_are_jvm_only(spark):
    """q165-q167 (URL dedup, contamination, repetition) must contain
    ZERO Python nodes — the hot path is split/transform/slice/regexp
    Columns, whole-stage-codegen territory."""
    for name in (
        "q165_url_canonical_dedup",
        "q166_contamination_ngram",
        "q167_repetition_stats",
    ):
        df = QUERIES[name](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan, name
        # (WholeStageCodegen spans only appear in the finalized AQE
        # plan; the no-Python-node assertion is the load-bearing one)
