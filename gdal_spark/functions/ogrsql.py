"""ExecuteSQL veneer — the reference's SQL entry points on Spark.

Reference lifecycle (SURVEY.md §3): ``GDALDataset::ExecuteSQL`` parses
OGR SQL into a swq_select tree and pull-executes it
(gcore/gdaldataset.cpp:7411-7705); the SQLite dialect registers ST_*
functions over virtual tables (ogr/ogrsf_frmts/sqlite/
ogrsqliteexecutesql.cpp:788).  Here Catalyst IS the
parser/planner/executor — the veneer just (a) registers layers as temp
views, (b) registers the ST_* function surface
(ogrsqlitesqlfunctions.cpp:1111-1240 names), and (c) maps the few OGR
SQL spellings Spark SQL writes differently.

Supported OGR SQL surface maps 1:1 onto Spark SQL: SELECT lists with
``*``/aliases, WHERE (=, <>, <=, >=, <, >, LIKE, ILIKE, IN, BETWEEN,
IS NULL, AND/OR/NOT), CONCAT/SUBSTR/CAST, summary aggregates
(MIN/MAX/COUNT/COUNT(DISTINCT)/SUM/AVG/STDDEV_*), DISTINCT, ORDER BY,
LIMIT/OFFSET, UNION ALL, JOIN..ON / LEFT JOIN..ON.  The OGR
pseudo-columns map to: FID → a bigint id column, OGR_GEOMETRY/geometry
→ the WKB column, OGR_GEOM_AREA → ST_Area(geom).
"""

from __future__ import annotations

import re

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from gdal_spark.functions.st import register_st_functions

_REWRITES = [
    # OGR SQL spells remainder as %, LIKE escapes with ESCAPE — both
    # native in Spark SQL; the only spellings needing help:
    (re.compile(r"\bHSTORE_GET_VALUE\s*\(\s*([^,]+),", re.I),
     r"element_at(str_to_map(regexp_replace(\1, '[{}\"]', ''), ',', ':'),"),
    (re.compile(r"\bOGR_GEOM_AREA\b", re.I), "ST_Area(geom)"),
    (re.compile(r"\bOGR_GEOMETRY\b", re.I), "geom"),
    (re.compile(r"\bFID\b"), "fid"),
]


# SQL tokens: literals and quoted identifiers stay opaque, so nothing
# inside them is rewritten; whitespace is skipped by finditer.
_TOKEN = re.compile(r"""
    (?P<opaque>'(?:[^']|'')*'|"(?:[^"]|"")*"|`[^`]*`|--[^\n]*)
  | (?P<word>[A-Za-z_][A-Za-z0-9_]*)
  | (?P<open>\()
  | (?P<close>\))
  | (?P<comma>,)
  | (?P<other>\S)
""", re.X)

# words that end a FROM/JOIN table reference instead of aliasing it
_CLAUSE_WORDS = frozenset(
    "WHERE JOIN LEFT RIGHT INNER OUTER FULL CROSS ON USING GROUP ORDER "
    "HAVING LIMIT OFFSET UNION".split())


def _from_layers(toks) -> list[tuple[str, str]]:
    """(table, reference) for every name after FROM or JOIN, in order;
    the reference is the alias when one is given.  ``toks`` holds
    (kind, text) pairs."""
    out = []
    for i, (kind, text) in enumerate(toks[:-1]):
        if kind != "word" or text.upper() not in ("FROM", "JOIN"):
            continue
        kind2, name = toks[i + 1]
        if kind2 != "word":
            continue  # a subquery
        j = i + 2
        if j < len(toks) and toks[j][1].upper() == "AS":
            j += 1
        ref = name
        if (j < len(toks) and toks[j][0] == "word"
                and toks[j][1].upper() not in _CLAUSE_WORDS):
            ref = toks[j][1]
        out.append((name, ref))
    return out


def _style_expr(spark: SparkSession, toks) -> str:
    """OGR_STYLE resolves against the primary (first) FROM layer: its
    ``style`` column when it has one, NULL otherwise.  The column is
    qualified only when another FROM layer also has one."""
    layers = []
    for name, ref in _from_layers(toks):
        try:
            layers.append((ref, "style" in spark.table(name).columns))
        except AnalysisException:  # not a table: EXTRACT(YEAR FROM col)
            continue
    if not layers or not layers[0][1]:
        return "CAST(NULL AS STRING)"
    if sum(styled for _, styled in layers) == 1:
        return "style"
    return f"{layers[0][0]}.style"


def _rewrite_ogr_style(spark: SparkSession, sql: str) -> str:
    """Replace the OGR_STYLE pseudo-column (ogr/ogr_p.h:168-175
    SPF_OGR_STYLE; OGRFeature::GetStyleString) with the layer's style
    expression.  A bare select-list item keeps the name OGR_STYLE in
    the output schema, as in the reference; inside expressions
    (``COALESCE(OGR_STYLE, 'x')``) it is substituted without an alias,
    and string literals are never touched."""
    matches = list(_TOKEN.finditer(sql))
    toks = [(m.lastgroup, m.group()) for m in matches]
    if ("word", "OGR_STYLE") not in [(k, t.upper()) for k, t in toks]:
        return sql
    expr = _style_expr(spark, toks)
    out, last, depth = [], 0, 0
    in_select = {}  # paren depth -> inside that level's SELECT list
    for i, ((kind, text), m) in enumerate(zip(toks, matches)):
        word = text.upper() if kind == "word" else None
        if kind == "open":
            depth += 1
        elif kind == "close":
            in_select.pop(depth, None)
            depth -= 1
        elif word in ("SELECT", "FROM"):
            in_select[depth] = word == "SELECT"
        elif word == "OGR_STYLE":
            prev = toks[i - 1] if i else ("", "")
            nxt = toks[i + 1] if i + 1 < len(toks) else ("close", "")
            item = (in_select.get(depth, False)
                    and (prev[0] == "comma"
                         or prev[1].upper() in ("SELECT", "DISTINCT", "ALL"))
                    and (nxt[0] in ("comma", "close")
                         or nxt[1].upper() == "FROM"))
            out += [sql[last:m.start()],
                    f"{expr} AS OGR_STYLE" if item else expr]
            last = m.end()
    out.append(sql[last:])
    return "".join(out)


def execute_sql(
    spark: SparkSession, sql: str, layers: dict[str, DataFrame] | None = None
) -> DataFrame:
    """Run an OGR-SQL-dialect query: register ``layers`` as temp views,
    expose the ST_* surface, rewrite OGR spellings, hand to Catalyst."""
    register_st_functions(spark)
    for name, df in (layers or {}).items():
        df.createOrReplaceTempView(name)
    sql = _rewrite_ogr_style(spark, sql)
    for pat, repl in _REWRITES:
        sql = pat.sub(repl, sql)
    return spark.sql(sql)
