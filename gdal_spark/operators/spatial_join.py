"""Distributed point-in-polygon spatial join.

Re-creates the reference's spatial-filter join (iterate one layer with
``SetSpatialFilter`` bound to the other's geometry — an index-nested-
loop join over its quadtree/R-tree, ogrlayer.cpp:3492-3618 + 4004-4076)
as the idiomatic Spark two-phase plan:

  phase 0  polygon side → cell cover set at res R
  phase 1  points.join(cover, on=cell)  — hash join
  phase 2  exact PIP pandas UDF on the candidates (vectorized kernel,
           grouped by polygon inside each Arrow batch)

One phase-1 plan per polygon-side kind:

- list side (a small dim): the cover is per-polygon metadata built on
  the driver and broadcast — one BroadcastHashJoin, no Exchange on the
  point side, so candidates flow straight from the scan through the
  UDF filter at any row count.
- DataFrame side (a polygon table too large for the driver): the cover
  is computed distributedly and the join is a shuffle-hash join on
  ``cell`` that builds its hash table on the cover.

Skew: web-scale point sets pile onto a few metro cells.  The broadcast
join has no shuffle, so it cannot skew; the shuffle-hash join leaves
hot cells to AQE's skew-join split (``spark.sql.adaptive.skewJoin``),
which splits an oversized point-side partition and replicates the
matching cover partition (tests/test_spatial_join_skew.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gdal_spark.session import local_df

from gdal_spark.functions.st import st_intersects_point, st_contains_point
from gdal_spark.kernels import wkb as W
from gdal_spark.kernels.cells import cell_encode, cells_cover_polygon

DEFAULT_RES = 7


def cell_expr(lon, lat, res: int):
    """Catalyst expression computing the same int64 cell id as
    ``kernels.cells.cell_encode`` — bit-identical by construction (the
    identical IEEE op sequence ``floor(((lon+180.0)/360.0)*n)``, then
    clip, then the same bit packing).

    Cell assignment is pure arithmetic, so the *default* path keeps it
    inside whole-stage codegen: no Arrow round trip, and no risk of
    Catalyst double-evaluating a Python UDF when it pushes an
    ``isnotnull`` join-key filter through the projection (which it
    does — measured as 2× ArrowEvalPython in the join plan).  The
    NumPy kernel (``with_cell_kernel``) stays as the parity oracle."""
    n = 1 << res
    xf = F.floor(((F.col(lon) + F.lit(180.0)) / F.lit(360.0)) * F.lit(float(n))).cast("long")
    yf = F.floor(((F.lit(90.0) - F.col(lat)) / F.lit(180.0)) * F.lit(float(n))).cast("long")
    xc = F.least(F.greatest(xf, F.lit(0).cast("long")), F.lit(n - 1).cast("long"))
    yc = F.least(F.greatest(yf, F.lit(0).cast("long")), F.lit(n - 1).cast("long"))
    return (
        F.shiftleft(F.lit(res).cast("long"), 57)
        .bitwiseOR(F.shiftleft(xc, 28))
        .bitwiseOR(yc)
    )


def with_cell(points: DataFrame, lon="lon", lat="lat", res: int = DEFAULT_RES,
              out="cell") -> DataFrame:
    """Attach the equi-join cell id (JVM-side codegen expression)."""
    return points.withColumn(out, cell_expr(lon, lat, res))


def with_cell_kernel(points: DataFrame, lon="lon", lat="lat", res: int = DEFAULT_RES,
                     out="cell") -> DataFrame:
    """Pandas-UDF variant wrapping the batched NumPy kernel — kept as
    the parity reference for ``cell_expr`` (tested equal on random and
    boundary inputs)."""

    @F.pandas_udf(T.LongType())
    def enc(lo: pd.Series, la: pd.Series) -> pd.Series:
        return pd.Series(cell_encode(lo.to_numpy(np.float64), la.to_numpy(np.float64), res))

    return points.withColumn(out, enc(F.col(lon), F.col(lat)))


def _cover_schema(poly_id_col: str) -> T.StructType:
    return T.StructType(
        [
            T.StructField("cell", T.LongType()),
            T.StructField(poly_id_col, T.LongType()),
            T.StructField("_poly_wkb", T.BinaryType()),
        ]
    )


def _cover_rows(pid, blob: bytes, res: int) -> list[tuple]:
    """One polygon's (cell, poly_id, wkb) cover rows: every res-R cell
    any of its parts' rings touch (superset cover; the exact phase
    removes false positives)."""
    cover: set[int] = set()
    for rings in W.polygon_rings(blob):
        cover.update(cells_cover_polygon(rings, res).tolist())
    return [(int(c), pid, blob) for c in cover]


def polygon_cover(polys: list[tuple], res: int = DEFAULT_RES) -> list[tuple]:
    """[(poly_id, wkb)] → [(cell, poly_id, wkb)] cover rows, computed
    on the driver — the list (broadcast) polygon side.  Big polygon
    tables use ``polygon_cover_df``."""
    return [row for pid, blob in polys for row in _cover_rows(pid, blob, res)]


def polygon_cover_df(
    polys: DataFrame,
    res: int = DEFAULT_RES,
    poly_id_col: str = "poly_id",
    wkb_col: str = "geom",
) -> DataFrame:
    """DataFrame-native cell cover: (poly_id, wkb) rows → (cell,
    poly_id, _poly_wkb) cover rows via a batched pandas UDF — the
    cover of a MILLIONS-of-features polygon table is computed where
    the features live, never on the driver.  Same rows as
    ``polygon_cover``."""

    def gen(pdf_iter):
        for pdf in pdf_iter:
            rows = [
                row
                for pid, blob in zip(pdf[poly_id_col], pdf[wkb_col])
                for row in _cover_rows(int(pid), bytes(blob), res)
            ]
            yield pd.DataFrame(rows, columns=["cell", poly_id_col, "_poly_wkb"])

    return polys.mapInPandas(gen, _cover_schema(poly_id_col))


def spatial_join_points_in_polygons(
    points: DataFrame,
    polys: list[tuple] | DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    res: int = DEFAULT_RES,
    include_boundary: bool = True,
    poly_id_col: str = "poly_id",
) -> DataFrame:
    """points × polygon set → matching (point row, poly_id) rows.

    The polygon side's type picks the plan:

    - ``[(poly_id, wkb_bytes)]`` — a small dim.  Its cover is computed
      on the driver (``polygon_cover``) and broadcast: ONE
      BroadcastHashJoin on ``cell``, the point table is never shuffled.
    - a DataFrame with columns (``poly_id_col``, geom) — a polygon
      table too large for the driver.  Its cover is computed where the
      features live (``polygon_cover_df``) and the join is one
      shuffle-hash join on ``cell`` that builds its hash table on the
      cover side; AQE's skew-join split handles hot cells.
    """
    pts = with_cell(points, lon, lat, res)
    if isinstance(polys, DataFrame):
        cover = polygon_cover_df(polys, res, poly_id_col=poly_id_col)
        joined = pts.join(cover.hint("shuffle_hash"), "cell")
    else:
        cover = local_df(
            points.sparkSession, polygon_cover(polys, res), _cover_schema(poly_id_col)
        )
        joined = pts.join(F.broadcast(cover), "cell")

    pred = st_intersects_point if include_boundary else st_contains_point
    out = joined.filter(pred(F.col("_poly_wkb"), F.col(lon), F.col(lat)))
    return out.drop("_poly_wkb", "cell")
