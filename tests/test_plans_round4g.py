"""Physical-plan hygiene for the round-4g additions: the scale
properties the new queries claim must be visible in their plans —
the typosquat brand side broadcasts, the OCC conflict join carries
the block key, GROUPING SETS goes through one Expand (not four
scans), and the RANGE frame is a real range frame."""

from __future__ import annotations

from parity_queries import QUERIES

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q403_brand_side_broadcasts(spark):
    plan = plan_of(QUERIES["q403_typosquat_domains"](spark, SF))
    # 25 brands x ~200-host lexicon: the cross join must be a
    # broadcast nested loop, never a shuffle
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_q419_conflict_join_carries_block_key(spark):
    plan = plan_of(QUERIES["q419_occ_conflicts"](spark, SF))
    # the quadratic key-only join was the 30 s bug; the block id must
    # appear as a join key alongside wkey (divide-by-4 in the keys)
    assert "wkey" in plan
    assert plan.count("div 4") >= 1 or plan.count("/ 4") >= 1


def test_q429_grouping_sets_is_one_expand(spark):
    plan = plan_of(QUERIES["q429_grouping_sets_report"](spark, SF))
    assert plan.count("Expand") >= 1
    # one scan feeds the Expand — not one scan per grouping set
    assert plan.count("Scan parquet") + plan.count("FileScan") <= 2


def test_q430_window_uses_range_frame(spark):
    plan = plan_of(QUERIES["q430_range_frame_load"](spark, SF))
    assert "RANGE BETWEEN" in plan.upper() or "RangeFrame" in plan


def test_q415_argmin_is_partial_aggregate(spark):
    plan = plan_of(QUERIES["q415_snap_to_segment"](spark, SF))
    # min(struct(...)) must run as a map-side partial aggregation
    # (two-phase HashAggregate), not a window sort over candidates
    assert "Window" not in plan
    assert plan.count("Aggregate") >= 2
