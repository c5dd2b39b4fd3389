"""Physical-plan hygiene for the round-4i additions: the scale
properties the spatial-statistics / terrain / trajectory window
claims must be visible in the plans — banded spatial joins are
equi-prefixed (never cartesian over points), small dims broadcast,
argmins are map-side partial aggregates (never windows over the
cross product), and the iterative operators' lineage is truncated
(the q521 doubling-chain lesson)."""

from __future__ import annotations

from gdal_spark import queries as _registry
import parity_queries

QUERIES = {**_registry.QUERIES, **parity_queries.QUERIES}

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q502_ripley_band_join_no_cartesian(spark):
    plan = plan_of(QUERIES["q502_ripleys_k"](spark, SF))
    # the grid-banded candidate join must not degenerate to an
    # all-pairs product over the point table; the 3-row radii dim
    # broadcasts
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_q509_dbscan_counts_are_hash_aggregates(spark):
    plan = plan_of(QUERIES["q509_dbscan"](spark, SF))
    # eps-neighbourhood counts and class rollups are hash aggregates;
    # no window ever sorts the candidate pair table
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 2


def test_q514_huff_argmin_is_partial_aggregate(spark):
    plan = plan_of(QUERIES["q514_huff_market_areas"](spark, SF))
    # per-consumer argmin = min(struct(cost, store_id, d2)) — a
    # map-side-combinable aggregate over the broadcast store dim,
    # never a window sort of consumers x stores
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") >= 2


def test_q516_composite_argmax_is_partial_aggregate(spark):
    plan = plan_of(QUERIES["q516_max_ndvi_composite"](spark, SF))
    # the max-NDVI pick is max(struct(...)) per pixel — two-phase
    # hash aggregate, never a window over pixels x epochs
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 2


def test_q535_scan_windows_broadcast(spark):
    plan = plan_of(QUERIES["q535_spatial_scan"](spark, SF))
    # the 240-circle dim is the broadcast side; the point table is
    # never shuffled for the window counts
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q536_stab_lookups_broadcast(spark):
    plan = plan_of(QUERIES["q536_interval_stabbing"](spark, SF))
    # the cumulative endpoint tables are broadcast to the probes —
    # the interval table itself is scanned exactly twice (starts,
    # ends), never per probe
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_q522_viterbi_stage_is_single_aggregate(spark):
    plan = plan_of(QUERIES["q522_hmm_map_matching"](spark, SF))
    # each unrolled stage is one hash aggregate over (trace, seg);
    # the packed-key min keeps path recovery out of any Window
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 8


def test_q521_watershed_lineage_truncated(spark):
    # the doubling loop localCheckpoints each stage: the final plan
    # must NOT contain the full pick/grid subtree 16x (the q276/q414
    # inlining trap) — after checkpointing, scans are of cached RDDs
    plan = plan_of(QUERIES["q521_watershed_basins"](spark, SF))
    assert plan.count("Scan ExistingRDD") >= 1
    assert "CartesianProduct" not in plan
