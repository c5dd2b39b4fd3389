"""Mirror of the driver's correctness gate: run every queries() entry
on sf0.001 and compare to its DuckDB oracle (row count + order-
insensitive values).  sf0.001 keeps the suite fast; the driver runs
the same comparison at sf0.01.  The Spark-vs-DuckDB parity corpus
(``parity_queries``) runs through the same comparison."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entry_mod
import parity_queries

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype(bool)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


QUERIES = {**entry_mod.queries(), **parity_queries.QUERIES}
ORACLES = {**entry_mod.oracle_sql(), **parity_queries.ORACLES}
QUERY_NAMES = sorted(QUERIES)


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, ddb, name):
    fn = QUERIES[name]
    sdf = fn(spark, SF_DIR).toPandas()
    sql = ORACLES.get(name)
    if sql is None:
        assert len(sdf) >= 0  # rows-only contract
        return
    ddf = ddb.execute(sql).df()
    a, b = _normalize(sdf), _normalize(ddf)
    assert list(a.columns) == list(b.columns), f"{name}: columns {list(a.columns)} vs {list(b.columns)}"
    assert len(a) == len(b), f"{name}: rows {len(a)} vs {len(b)}"
    for c in a.columns:
        if pd.api.types.is_float_dtype(a[c]) or pd.api.types.is_float_dtype(b[c]):
            ok = np.allclose(
                a[c].astype(float), b[c].astype(float), rtol=0, atol=1e-6, equal_nan=True
            )
        else:
            ok = (a[c].astype(str) == b[c].astype(str)).all()
        assert ok, f"{name}: column {c} differs\n{a[c].head()}\nvs\n{b[c].head()}"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0 and len(df.columns) >= 2
