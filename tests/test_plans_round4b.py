"""Plan-hygiene assertions for the round-4 continuation operators:
joins that must broadcast do broadcast, and nothing degenerates into a
CartesianProduct (the bounded keypoint/palette pair joins are
BroadcastNestedLoopJoin by design)."""

import __spark_entry__ as e
import parity_queries

SF = "/root/testdata/sf0.001"


def _plan(spark, name):
    df = {**e.queries(), **parity_queries.QUERIES}[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_geoloc_inverse_broadcasts_the_grid(spark):
    p = _plan(spark, "q199_geoloc_inverse")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_vertical_shift_grid_four_broadcast_corners(spark):
    p = _plan(spark, "q205_vertical_shift_grid")
    assert p.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in p


def test_importance_weights_ratio_join_broadcasts(spark):
    p = _plan(spark, "q204_importance_weights")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_median_cut_no_cartesian(spark):
    p = _plan(spark, "q192_median_cut_rgb2pct")
    # palette assignment is an explicit 8-row broadcast pair join
    assert "CartesianProduct" not in p


def test_feature_matching_pair_join_is_broadcast(spark):
    p = _plan(spark, "q202_feature_matching")
    # bounded keypoint sets: the pair join must be the broadcast NL
    # form, never a shuffled cartesian
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p


def test_pagerank_iterations_shuffle_on_host_only(spark):
    p = _plan(spark, "q190_host_pagerank")
    assert "CartesianProduct" not in p
