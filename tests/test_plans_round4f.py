"""Round-4f plan-hygiene assertions for the sketch / retrieval /
fleet-infra query batch (q278-q311).

The scale claims these queries make are plan shapes, not numbers:
small sides must BROADCAST (sketch tables, marginals, df tables,
ring/vnode tables), and the heavy aggregations must stay map-side
combinable hash aggregates — never a window over the corpus-sized
table, never a cartesian product of two big sides.
"""

from parity_queries import QUERIES

SF = "/root/testdata/sf0.01"


def _plan(name):
    df = QUERIES[name](spark_ref[0], SF)
    return df._jdf.queryExecution().executedPlan().toString()


spark_ref = [None]


def _p(spark, name):
    spark_ref[0] = spark
    return _plan(name)


def test_countmin_sketch_broadcasts(spark):
    plan = _p(spark, "q278_countmin_sketch")
    # the 256-cell sketch joins back to the probe side as a broadcast
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bloom_positions_broadcast(spark):
    plan = _p(spark, "q282_bloom_blocklist")
    # the <=90-position filter set and the blocklist are broadcast
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_chisq_grid_marginals_broadcast(spark):
    plan = _p(spark, "q284_chisq_drift")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_lm_surprisal_unigram_sides_broadcast(spark):
    plan = _p(spark, "q297_bigram_lm_surprisal")
    # c1 / cy / n1 broadcast; only the bigram join may shuffle
    assert plan.count("BroadcastHashJoin") >= 2


def test_wand_no_window_over_postings(spark):
    plan = _p(spark, "q298_wand_block_pruning")
    # per-(word, block) max is a hash aggregate, never a window sort
    assert "Window" not in plan
    assert "HashAggregate" in plan


def test_hrw_and_ring_no_window(spark):
    for name in ("q293_rendezvous_hashing", "q305_consistent_hash_ring"):
        plan = _p(spark, name)
        assert "Window" not in plan
        assert "HashAggregate" in plan


def test_symspell_key_tables_broadcast(spark):
    plan = _p(spark, "q301_symspell_correction")
    assert "BroadcastHashJoin" in plan


def test_newcomer_dedup_is_asymmetric(spark):
    plan = _p(spark, "q303_newcomer_dedup")
    # the newcomer batch is the broadcast side — ingest cost
    # proportional to the batch, never corpus x corpus
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_cdc_stays_codegen(spark):
    plan = _p(spark, "q308_cdc_boundaries")
    # the rolling hash is a pure JVM Column expression (no python
    # eval nodes, no window); partial_sum proves map-side combine
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "partial_sum" in plan
    assert "ascii(substring" in plan  # the 8-term hash is in-plan JVM


def test_burst_marginals_broadcast(spark):
    plan = _p(spark, "q306_burst_detection")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "Window" not in plan


def test_sparse_tfidf_weights_broadcast(spark):
    plan = _p(spark, "q343_sparse_tfidf_neighbor")
    # df table and corpus-count broadcast; only the term join shuffles
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_topic_lexicon_broadcast(spark):
    plan = _p(spark, "q346_topic_tagging")
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan


def test_attribution_no_window(spark):
    plan = _p(spark, "q334_last_touch_attribution")
    # the as-of join is a combinable max-struct aggregate, no window
    assert "Window" not in plan
    assert "HashAggregate" in plan or "SortAggregate" in plan


def test_geo_fusion_single_pass(spark):
    plan = _p(spark, "q342_geofence_compliance")
    assert "Window" not in plan
    assert "partial_" in plan  # map-side combine of the flag sums
