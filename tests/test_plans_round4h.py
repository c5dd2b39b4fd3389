"""Physical-plan hygiene for the round-4h additions: the scale
properties the new queries claim must be visible in their plans —
the MaxSim query side broadcasts, the whash dedup is an equi-join
(never all-pairs), the D8 inflow join shuffles on coords rather than
looping, the Reed-Solomon GF LUTs broadcast, and the LPA argmax is a
map-side partial aggregation rather than a window sort."""

from __future__ import annotations

from gdal_spark import queries as _registry
import parity_queries

QUERIES = {**_registry.QUERIES, **parity_queries.QUERIES}

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q452_maxsim_query_side_broadcasts(spark):
    plan = plan_of(QUERIES["q452_late_interaction_maxsim"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # the per-token argmax and per-candidate sum are hash aggregates,
    # never a window over the token cross product
    assert plan.count("HashAggregate") >= 2


def test_q460_whash_dedup_is_equi_join(spark):
    plan = plan_of(QUERIES["q460_whash_dedup"](spark, SF))
    # keeper = min(doc_id) per hash, joined back by hash equality —
    # no nested loop anywhere
    assert "hash15" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q466_d8_inflow_join_on_coords(spark):
    plan = plan_of(QUERIES["q466_d8_flow"](spark, SF))
    # inflow joins the direction table on computed target coords —
    # an equi-join (SMJ or SHJ), never a nested loop
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q468_gf_luts_broadcast(spark):
    plan = plan_of(QUERIES["q468_reed_solomon_pq"](spark, SF))
    # the 255-row log/exp tables must be the broadcast side of every
    # field-multiply lookup (the q148 ADC-LUT shape)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_q458_lpa_argmax_is_partial_aggregate(spark):
    plan = plan_of(QUERIES["q458_label_propagation"](spark, SF))
    # the (count, 999-lbl) encoding keeps the per-node argmax a
    # two-phase hash aggregate; no Window over the neighbor table
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 2


def test_q472_boruvka_pick_is_partial_min(spark):
    plan = plan_of(QUERIES["q472_boruvka_mst"](spark, SF))
    # each round's component pick is min(struct(w,u,v)) — map-side
    # combinable, no window sort over the edge table
    assert "Window" not in plan
