"""q607's brute-force control arm, moved out of the timed headline.

The r4 verdict flagged the deliberate O(V^3) no-pruning control (support
of EVERY vocabulary triple) as 20.6 s of the sf0.1 bench — sound
pedagogy, wrong venue.  The timed query now ships the Apriori side
only; THIS test runs the full `_q607_sql(brute=True)` build on both
engines at sf0.001 and asserts the claims the control exists to prove:

- brute_resid == 0 and prune_miss == 0: Apriori's candidate pruning is
  EXACT — the no-pruning brute force finds the identical frequent-3 set
  (Agrawal & Srikant 1994, the downward-closure correctness theorem).
- n_cand3_apriori < n_cand3_brute: the measured candidate savings that
  is the algorithm's point.
- the two-sided lift census over the UNTHRESHOLDED triple universe has
  both signs populated (the q607 selection-bias lesson: any lift
  comparison restricted to frequent itemsets is forced one-sided).
- engine vs DuckDB oracle value-equality on the full brute output.
"""

import duckdb
import pytest

from parity_queries import _q607_sql

SF = "/root/testdata/sf0.001"  # 500 docs — the brute cube stays small


@pytest.fixture(scope="module")
def built(spark):
    spark.read.parquet(f"{SF}/documents.parquet") \
        .createOrReplaceTempView("q607t_documents")
    spark.sql(
        "SELECT DISTINCT doc_id, w FROM (\n"
        "  SELECT doc_id, explode(split(text, ' ')) AS w\n"
        "  FROM q607t_documents) t WHERE w <> ''"
    ).localCheckpoint().createOrReplaceTempView("q607t_mt")
    sdf = spark.sql(
        "WITH " + _q607_sql("q607t_documents", "q607t_mt",
                            "div", "", brute=True)).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF}/documents.parquet')")
    ddf = con.execute(
        "WITH mt AS MATERIALIZED (SELECT DISTINCT doc_id, w FROM (\n"
        "         SELECT doc_id, unnest(string_split(text, ' '))"
        " AS w\n"
        "         FROM documents) t WHERE w <> ''),\n"
        "       " + _q607_sql("documents", "mt", "//",
                              " MATERIALIZED", brute=True)).df()
    return sdf, ddf


def test_prune_exactness(built):
    sdf, _ = built
    assert (sdf["brute_resid"] == 0).all()
    assert (sdf["prune_miss"] == 0).all()


def test_candidate_savings(built):
    sdf, _ = built
    assert (sdf["n_cand3_apriori"] < sdf["n_cand3_brute"]).all()


def test_lift_two_sided(built):
    sdf, _ = built
    assert (sdf["n_lift_pos_all"] > 0).all()
    assert (sdf["n_lift_neg_all"] > 0).all()


def test_engine_matches_oracle(built):
    sdf, ddf = built
    cols = sorted(sdf.columns)
    assert cols == sorted(ddf.columns)
    a = sdf[cols].sort_values(cols).reset_index(drop=True)
    b = ddf[cols].sort_values(cols).reset_index(drop=True)
    assert a.equals(b.astype(a.dtypes.to_dict()))
