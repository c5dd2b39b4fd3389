"""Plan hygiene for the round-4e additions: probe/patch/LUT sides must
broadcast, per-doc combinatorics must hash-aggregate (no window over
the gram table), and nothing degenerates into a CartesianProduct."""

import parity_queries

SF = "/root/testdata/sf0.001"


def _plan(spark, name):
    df = parity_queries.QUERIES[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_phrase_search_probe_broadcasts(spark):
    p = _plan(spark, "q244_phrase_search")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_raster_update_patch_broadcasts(spark):
    p = _plan(spark, "q260_raster_update")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_hist_match_lut_is_broadcast(spark):
    p = _plan(spark, "q248_hist_match")
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p


def test_gopher_ngram_rep_has_no_window_over_grams(spark):
    # the top-gram argmax must be the map-side-combinable struct max,
    # never a window sort over the exploded gram table
    p = _plan(spark, "q240_gopher_ngram_rep")
    assert "Window" not in p
    assert "HashAggregate" in p


def test_tfidf_keywords_all_hash_aggregate(spark):
    p = _plan(spark, "q256_tfidf_keywords")
    assert "Window" not in p
    assert "CartesianProduct" not in p


def test_point_in_time_join_keys_on_url(spark):
    p = _plan(spark, "q255_point_in_time")
    # equi-key on url carries the join; the validity range is a
    # residual filter, not a nested loop over all pairs
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
