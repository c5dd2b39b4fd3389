"""OGR SQL dialect veneer — semantics subset modeled on the
reference's SQL corpus (autotest/ogr/ogr_sql_test.py runs 81 cases
over a `poly` fixture with eas_id/area fields; we re-create the table
shape synthetically and assert against DuckDB on identical data)."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

from gdal_spark.functions.ogrsql import execute_sql
from gdal_spark.kernels import wkb as W


# The exact 10 attribute records of the reference's poly.dbf fixture
# (autotest/ogr/data/poly.dbf — values per FIXTURES.md §2), the table
# behind the 81-case ogr_sql_test.py corpus.
POLY_RECORDS = [
    (215229.266, 168, "35043411"),
    (247328.172, 179, "35043423"),
    (261752.781, 171, "35043414"),
    (547597.188, 173, "35043416"),
    (15775.758, 172, "35043415"),
    (101429.977, 169, "35043412"),
    (268597.625, 166, "35043409"),
    (1634833.375, 158, "35043369"),
    (-596610.313, 165, "35043408"),
    (5268.813, 170, "35043413"),
]


@pytest.fixture(scope="module")
def poly(spark):
    """The poly fixture: exact dbf attributes + seeded rect geometries
    (garea = geometry area, distinct from the dbf AREA field)."""
    rows = []
    for k, (area, eas_id, prfedea) in enumerate(POLY_RECORDS):
        x0, y0 = float(k * 7 % 50), float(k * 11 % 40)
        w, h = 2.0 + k % 5, 1.0 + k % 4
        ring = np.array([[x0, y0], [x0 + w, y0], [x0 + w, y0 + h], [x0, y0 + h], [x0, y0]])
        rows.append((k, area, eas_id, prfedea, float(w * h), W.polygon_wkb([ring])))
    df = spark.createDataFrame(
        rows, "fid long, area double, eas_id long, prfedea string, garea double, geom binary"
    )
    pdf = pd.DataFrame(
        [r[:5] for r in rows], columns=["fid", "area", "eas_id", "prfedea", "garea"]
    )
    con = duckdb.connect()
    con.register("poly", pdf)
    return df, con


def test_reference_eas_id_filter(spark, poly):
    """ogr_sql_test.py:187 parity: WHERE eas_id < 167 selects exactly
    the 3 features {158, 165, 166}."""
    df, _ = poly
    got = execute_sql(
        spark, "SELECT eas_id FROM poly WHERE eas_id < 167 ORDER BY eas_id",
        layers={"poly": df},
    ).toPandas()
    assert list(got["eas_id"]) == [158, 165, 166]


CASES = [
    # (ogr sql for the engine, ansi sql for duckdb)
    ("SELECT eas_id FROM poly WHERE eas_id < 167 ORDER BY eas_id",
     "SELECT eas_id FROM poly WHERE eas_id < 167 ORDER BY eas_id"),
    ("SELECT COUNT(*) AS n, MIN(eas_id) AS mn, MAX(eas_id) AS mx, "
     "CAST(AVG(eas_id) AS DOUBLE) AS av FROM poly",
     "SELECT COUNT(*) AS n, MIN(eas_id) AS mn, MAX(eas_id) AS mx, "
     "CAST(AVG(eas_id) AS DOUBLE) AS av FROM poly"),
    ("SELECT DISTINCT eas_id % 5 AS m FROM poly ORDER BY m",
     "SELECT DISTINCT eas_id % 5 AS m FROM poly ORDER BY m"),
    ("SELECT fid, prfedea FROM poly WHERE prfedea LIKE '3504341%' ORDER BY fid",
     "SELECT fid, prfedea FROM poly WHERE prfedea LIKE '3504341%' ORDER BY fid"),
    ("SELECT eas_id, SUBSTR(prfedea, 6, 4) AS tail FROM poly "
     "WHERE eas_id BETWEEN 160 AND 180 ORDER BY eas_id",
     "SELECT eas_id, SUBSTR(prfedea, 6, 4) AS tail FROM poly "
     "WHERE eas_id BETWEEN 160 AND 180 ORDER BY eas_id"),
    ("SELECT eas_id FROM poly WHERE eas_id IN (158, 161, 170) ORDER BY eas_id",
     "SELECT eas_id FROM poly WHERE eas_id IN (158, 161, 170) ORDER BY eas_id"),
    ("SELECT CONCAT(prfedea, ':', CAST(eas_id AS STRING)) AS tag FROM poly "
     "WHERE fid < 3 ORDER BY tag",
     "SELECT prfedea || ':' || CAST(eas_id AS VARCHAR) AS tag FROM poly "
     "WHERE fid < 3 ORDER BY tag"),
    ("SELECT 'lo' AS b, COUNT(*) AS n FROM poly WHERE eas_id < 190 "
     "UNION ALL SELECT 'hi' AS b, COUNT(*) AS n FROM poly WHERE eas_id >= 190 "
     "ORDER BY b",
     "SELECT 'lo' AS b, COUNT(*) AS n FROM poly WHERE eas_id < 190 "
     "UNION ALL SELECT 'hi' AS b, COUNT(*) AS n FROM poly WHERE eas_id >= 190 "
     "ORDER BY b"),
    ("SELECT fid FROM poly ORDER BY eas_id DESC LIMIT 5 OFFSET 3",
     "SELECT fid FROM poly ORDER BY eas_id DESC LIMIT 5 OFFSET 3"),
]


@pytest.mark.parametrize("ogr_sql,ansi_sql", CASES)
def test_ogrsql_case(spark, poly, ogr_sql, ansi_sql):
    df, con = poly
    got = execute_sql(spark, ogr_sql, layers={"poly": df}).toPandas()
    want = con.execute(ansi_sql).df()
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want)
    for c in got.columns:
        g, w = got[c], want[c]
        if pd.api.types.is_float_dtype(g):
            assert np.allclose(g.astype(float), w.astype(float), atol=1e-9)
        else:
            assert (g.astype(str).values == w.astype(str).values).all(), c


def test_ogr_geom_area_pseudocolumn(spark, poly):
    df, con = poly
    got = execute_sql(
        spark,
        "SELECT FID, ROUND(OGR_GEOM_AREA, 6) AS a FROM poly WHERE FID < 5 ORDER BY FID",
        layers={"poly": df},
    ).toPandas()
    want = con.execute(
        "SELECT fid, ROUND(garea, 6) AS a FROM poly WHERE fid < 5 ORDER BY fid"
    ).df()
    assert np.allclose(got["a"], want["a"], atol=1e-9)


def test_ogrsql_secondary_table_join(spark, poly):
    """OGR SQL secondary-table JOIN..ON (swq_parser.y:1088-1094,
    ogr_gensql.cpp GetFilterForJoin) through the veneer: LEFT JOIN
    null-pads on miss exactly like the reference."""
    df, con = poly
    idl = spark.createDataFrame(
        [(158, "rural"), (166, "urban"), (170, "urban"), (999, "unused")],
        "eas_id long, zone_class string",
    )
    got = execute_sql(
        spark,
        """SELECT p.eas_id, z.zone_class FROM poly p
           LEFT JOIN zones z ON p.eas_id = z.eas_id
           WHERE p.eas_id < 172 ORDER BY p.eas_id""",
        layers={"poly": df, "zones": idl},
    ).toPandas()
    con.register("zones", pd.DataFrame(
        {"eas_id": [158, 166, 170, 999],
         "zone_class": ["rural", "urban", "urban", "unused"]}
    ))
    want = con.execute(
        """SELECT p.eas_id, z.zone_class FROM poly p
           LEFT JOIN zones z ON p.eas_id = z.eas_id
           WHERE p.eas_id < 172 ORDER BY p.eas_id"""
    ).df()
    assert len(got) == len(want)
    assert (got["eas_id"].values == want["eas_id"].values).all()
    assert (got["zone_class"].fillna("∅").values == want["zone_class"].fillna("∅").values).all()


def test_hstore_get_value_rewrite(spark):
    df = spark.createDataFrame(
        [(1, '{"color": "red", "size": "4"}'), (2, '{"color": "blue", "size": "7"}')],
        "id long, props string",
    )
    out = execute_sql(
        spark,
        "SELECT id, HSTORE_GET_VALUE(props, 'color') AS color FROM t ORDER BY id",
        layers={"t": df},
    ).toPandas()
    assert list(out["color"].str.strip()) == ["red", "blue"]


def test_ogr_style_null_without_style_column(spark, poly):
    """OGR_STYLE pseudo-column (ogr/ogr_p.h:168-175): a layer with no
    style strings reads NULL, named OGR_STYLE in the schema — the
    GetStyleString() unset case."""
    df, _ = poly
    got = execute_sql(
        spark,
        "SELECT eas_id, OGR_STYLE FROM poly WHERE eas_id = 158",
        layers={"poly": df},
    ).toPandas()
    assert list(got.columns) == ["eas_id", "OGR_STYLE"]
    assert got["OGR_STYLE"].isna().all()


def test_ogr_style_passthrough_and_filter(spark, poly):
    """With a style column present, OGR_STYLE reads it — including in
    WHERE (the pseudo-column is a real expression, not select-only)."""
    df, _ = poly
    styled = df.selectExpr(
        "*",
        "CASE WHEN eas_id % 2 = 0 THEN 'PEN(c:#FF0000)' END AS style",
    )
    got = execute_sql(
        spark,
        "SELECT eas_id, OGR_STYLE FROM poly "
        "WHERE OGR_STYLE IS NOT NULL ORDER BY eas_id",
        layers={"poly": styled},
    ).toPandas()
    assert list(got.columns) == ["eas_id", "OGR_STYLE"]
    assert (got["OGR_STYLE"] == "PEN(c:#FF0000)").all()
    assert got["eas_id"].tolist() == sorted(
        e for _a, e, _p in POLY_RECORDS if e % 2 == 0)


def test_ogr_style_inside_function_arguments(spark, poly):
    """OGR_STYLE as a function argument is substituted without an
    alias (``COALESCE(style AS OGR_STYLE, ..)`` is not SQL)."""
    df, _ = poly
    styled = df.selectExpr(
        "*", "CASE WHEN eas_id % 2 = 0 THEN 'PEN(c:#FF0000)' END AS style")
    got = execute_sql(
        spark,
        "SELECT eas_id, COALESCE(OGR_STYLE, 'none') AS s, "
        "CONCAT(OGR_STYLE, '/', prfedea) AS c FROM poly ORDER BY eas_id",
        layers={"poly": styled},
    ).toPandas()
    assert list(got.columns) == ["eas_id", "s", "c"]
    for r in got.itertuples():
        assert r.s == ("PEN(c:#FF0000)" if r.eas_id % 2 == 0 else "none")
        assert (r.c is None) == (r.eas_id % 2 == 1)


def test_ogr_style_not_rewritten_in_string_literals(spark, poly):
    df, _ = poly
    got = execute_sql(
        spark,
        "SELECT eas_id, 'OGR_STYLE' AS lit, OGR_STYLE FROM poly "
        "WHERE eas_id = 158",
        layers={"poly": df},
    ).toPandas()
    assert list(got.columns) == ["eas_id", "lit", "OGR_STYLE"]
    assert got["lit"].tolist() == ["OGR_STYLE"]
    assert got["OGR_STYLE"].isna().all()


def test_ogr_style_resolves_against_from_layers_only(spark, poly):
    """A style column on some OTHER registered layer does not leak into
    a query whose FROM layer has none; in a join the primary layer's
    style is the one read."""
    df, _ = poly
    styled = df.selectExpr("eas_id AS sid", "'BRUSH(fc:#00FF00)' AS style")
    got = execute_sql(
        spark,
        "SELECT eas_id, OGR_STYLE FROM poly WHERE eas_id = 158",
        layers={"poly": df, "styled_other": styled},
    ).toPandas()
    assert got["OGR_STYLE"].isna().all()
    both = df.selectExpr("*", "'PEN(c:#0000FF)' AS style")
    got = execute_sql(
        spark,
        "SELECT p.eas_id, OGR_STYLE FROM poly_styled p "
        "JOIN styled_other s ON p.eas_id = s.sid ORDER BY p.eas_id",
        layers={"poly_styled": both, "styled_other": styled},
    ).toPandas()
    assert list(got.columns) == ["eas_id", "OGR_STYLE"]
    assert len(got) == len(POLY_RECORDS)
    assert (got["OGR_STYLE"] == "PEN(c:#0000FF)").all()
