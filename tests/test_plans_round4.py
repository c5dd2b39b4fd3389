"""Round-4 plan-hygiene assertions for the new query surface.

- q178/q179: corpus-scalar (N, avgdl) and query-term sides must be
  BROADCAST — a shuffled scalar join would add a full-stats shuffle
  per batch at 10^12 docs.
- q165 canonical_url: the whole plan must stay JVM Columns — zero
  Python UDF stages (the operator's scale contract).
- q19: the df-cap aggregate must appear BEFORE the shingle self-join
  (the candidate bound is the operator's linearity story).
"""

from gdal_spark import queries as _registry
import parity_queries

QUERIES = {**_registry.QUERIES, **parity_queries.QUERIES}

SF = "/root/testdata/sf0.01"


def _plan(spark, name):
    df = QUERIES[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q178_scalar_broadcast(spark):
    plan = _plan(spark, "q178_tfidf_top_term")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_q179_query_side_broadcast(spark):
    plan = _plan(spark, "q179_bm25")
    # 3-row query-term table + 1-row stats table both broadcast
    assert plan.count("BroadcastExchange") >= 2
    assert "CartesianProduct" not in plan


def test_q165_pure_column_plan(spark):
    plan = _plan(spark, "q165_url_canonical_dedup")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q19_df_cap_precedes_self_join(spark):
    plan = _plan(spark, "q19_ngram_jaccard")
    # the cap is a HashAggregate(count per gram) + filter feeding the
    # join; a disabled cap plan had no df filter at all
    assert "df#" in plan or "(df" in plan or "count(1)" in plan
    # and the shingle join is an equi-join on gram, not a cartesian
    assert "CartesianProduct" not in plan


def test_q169_rotated_warp_no_cartesian(spark):
    plan = _plan(spark, "q169_warp_average_rotated")
    assert "CartesianProduct" not in plan
