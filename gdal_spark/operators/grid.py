"""Grid interpolation: scattered points → regular grid cells.

Reference: GDALGridCreate algorithms (alg/gdal_alg.h:402-416,
alg/gdalgrid.cpp) — InverseDistanceToAPower, MovingAverage,
NearestNeighbor, metrics — each a reduction over points within a
search window of the target cell.  Distributed form: explode each
point onto the target cells whose search window contains it (radius →
fixed cell fan-out), then groupBy(cell).agg — one shuffle whose keys
are grid cells, perfectly balanced by construction.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def grid_idw(
    points: DataFrame,
    x0: float,
    y0: float,
    cell: float,
    nx: int,
    ny: int,
    radius: float,
    power: int = 2,
    lon: str = "lon",
    lat: str = "lat",
    value_col: str = "v",
) -> DataFrame:
    """Inverse-distance-to-a-power over a fixed search radius
    (GDALGridInverseDistanceToAPower semantics: weight = 1/d^power,
    points at d > radius excluded; cell with no points → null).

    Grid cell centers: (x0 + (i+0.5)·cell, y0 + (j+0.5)·cell).
    The point→cells fan-out is ceil(radius/cell)² per point — a
    constant; no cross-join.
    """
    r_cells = int(radius // cell) + 1
    p = points.select(
        F.col(lon).alias("px"), F.col(lat).alias("py"), F.col(value_col).cast("double").alias("pv")
    )
    # candidate cell indexes around each point
    p = p.withColumn("ci0", F.floor((F.col("px") - F.lit(x0)) / F.lit(cell)).cast("int"))
    p = p.withColumn("cj0", F.floor((F.col("py") - F.lit(y0)) / F.lit(cell)).cast("int"))
    offs = F.sequence(F.lit(-r_cells), F.lit(r_cells))
    p = (
        p.withColumn("di", F.explode(offs))
        .withColumn("i", F.col("ci0") + F.col("di"))
        .withColumn("dj", F.explode(offs))
        .withColumn("j", F.col("cj0") + F.col("dj"))
        .filter((F.col("i") >= 0) & (F.col("i") < nx) & (F.col("j") >= 0) & (F.col("j") < ny))
    )
    cx = F.lit(x0) + (F.col("i") + 0.5) * F.lit(cell)
    cy = F.lit(y0) + (F.col("j") + 0.5) * F.lit(cell)
    d2 = (F.col("px") - cx) * (F.col("px") - cx) + (F.col("py") - cy) * (F.col("py") - cy)
    p = p.withColumn("d2", d2).filter(F.col("d2") <= F.lit(radius * radius))
    # exact-hit points (d2 == 0) take the value directly (reference
    # IDW: dfR2 == 0 → return point value)
    w = F.when(F.col("d2") > 0, F.pow(F.col("d2"), F.lit(-power / 2.0))).otherwise(F.lit(0.0))
    agg = p.groupBy("i", "j").agg(
        F.round(F.sum(w * F.col("pv")), 6).alias("wsum"),
        F.round(F.sum(w), 6).alias("wtot"),
        F.count(F.when(F.col("d2") == 0, 1)).alias("nhit"),
        F.round(F.avg(F.when(F.col("d2") == 0, F.col("pv"))), 6).alias("hitval"),
        F.count("*").alias("npts"),
    )
    return agg.select(
        "i",
        "j",
        F.when(F.col("nhit") > 0, F.col("hitval"))
        .otherwise(F.round(F.col("wsum") / F.col("wtot"), 6))
        .alias("idw"),
        "npts",
    )


def _fanout_in_radius(
    points: DataFrame, x0, y0, cell, nx, ny, radius, lon, lat, value_col
) -> DataFrame:
    """points → (i, j, pv, d2) candidate rows for every grid cell whose
    search window contains the point (shared by all grid algorithms)."""
    r_cells = int(radius // cell) + 1
    p = points.select(
        F.col(lon).alias("px"), F.col(lat).alias("py"), F.col(value_col).cast("double").alias("pv")
    )
    p = p.withColumn("ci0", F.floor((F.col("px") - F.lit(x0)) / F.lit(cell)).cast("int"))
    p = p.withColumn("cj0", F.floor((F.col("py") - F.lit(y0)) / F.lit(cell)).cast("int"))
    offs = F.sequence(F.lit(-r_cells), F.lit(r_cells))
    p = (
        p.withColumn("di", F.explode(offs))
        .withColumn("i", F.col("ci0") + F.col("di"))
        .withColumn("dj", F.explode(offs))
        .withColumn("j", F.col("cj0") + F.col("dj"))
        .filter((F.col("i") >= 0) & (F.col("i") < nx) & (F.col("j") >= 0) & (F.col("j") < ny))
    )
    cx = F.lit(x0) + (F.col("i") + 0.5) * F.lit(cell)
    cy = F.lit(y0) + (F.col("j") + 0.5) * F.lit(cell)
    d2 = (F.col("px") - cx) * (F.col("px") - cx) + (F.col("py") - cy) * (F.col("py") - cy)
    return p.withColumn("d2", d2).filter(F.col("d2") <= F.lit(radius * radius))


def grid_data_metrics(
    points: DataFrame, x0, y0, cell, nx, ny, radius,
    lon: str = "lon", lat: str = "lat", value_col: str = "v",
) -> DataFrame:
    """GDALGrid data metrics (alg/gdal_alg.h GGA_Metric*): per cell the
    Count / Minimum / Maximum / Range / AverageDistance of points in
    the search radius — one shuffle keyed by grid cell, map-side
    partial aggregation for every metric."""
    p = _fanout_in_radius(points, x0, y0, cell, nx, ny, radius, lon, lat, value_col)
    return p.groupBy("i", "j").agg(
        F.count("*").alias("m_count"),
        F.min("pv").alias("m_min"),
        F.max("pv").alias("m_max"),
        (F.max("pv") - F.min("pv")).alias("m_range"),
        F.round(F.avg(F.sqrt(F.col("d2"))), 6).alias("m_avg_dist"),
    )


def grid_idw_nn_quadrant(
    points: DataFrame, x0, y0, cell, nx, ny, radius,
    power: int = 2, max_per_quadrant: int = 3, min_per_quadrant: int = 1,
    lon: str = "lon", lat: str = "lat", value_col: str = "v", id_col: str = "doc_id",
) -> DataFrame:
    """GDALGridInverseDistanceToAPowerNearestNeighborPerQuadrant
    (alg/gdalgrid.cpp:351-470): per grid node, points split into the 4
    quadrants around it ((dx≥0) | (dy≥0)<<1), each quadrant contributes
    its ``max_per_quadrant`` nearest points (tie → smallest id), the
    node is nodata unless every quadrant has ≥ ``min_per_quadrant``;
    IDW weight 1/d^power over the selected set.  Fully DataFrame-native:
    radius fan-out, a window rank per (cell, quadrant), one aggregation."""
    from pyspark.sql import Window

    p = points.select(
        F.col(id_col).alias("pid"),
        F.col(lon).alias("px"), F.col(lat).alias("py"),
        F.col(value_col).cast("double").alias("pv"),
    )
    r_cells = int(radius // cell) + 1
    p = p.withColumn("ci0", F.floor((F.col("px") - F.lit(x0)) / F.lit(cell)).cast("int"))
    p = p.withColumn("cj0", F.floor((F.col("py") - F.lit(y0)) / F.lit(cell)).cast("int"))
    offs = F.sequence(F.lit(-r_cells), F.lit(r_cells))
    p = (
        p.withColumn("di", F.explode(offs))
        .withColumn("i", F.col("ci0") + F.col("di"))
        .withColumn("dj", F.explode(offs))
        .withColumn("j", F.col("cj0") + F.col("dj"))
        .filter((F.col("i") >= 0) & (F.col("i") < nx)
                & (F.col("j") >= 0) & (F.col("j") < ny))
    )
    cx = F.lit(x0) + (F.col("i") + 0.5) * F.lit(cell)
    cy = F.lit(y0) + (F.col("j") + 0.5) * F.lit(cell)
    rx = F.col("px") - cx
    ry = F.col("py") - cy
    p = (
        p.withColumn("d2", rx * rx + ry * ry)
        .filter(F.col("d2") <= F.lit(radius * radius))
        .withColumn(
            "quad",
            F.when(rx >= 0, 1).otherwise(0)
            + F.when(ry >= 0, 2).otherwise(0),
        )
    )
    w = Window.partitionBy("i", "j", "quad").orderBy("d2", "pid")
    sel = p.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= max_per_quadrant
    )
    invw = F.when(F.col("d2") > 0, F.pow(F.col("d2"), F.lit(-power / 2.0))).otherwise(
        F.lit(0.0)
    )
    agg = sel.groupBy("i", "j").agg(
        F.sum(invw * F.col("pv")).alias("nom"),
        F.sum(invw).alias("den"),
        *[
            F.count(F.when(F.col("quad") == q, 1)).alias(f"nq{q}")
            for q in range(4)
        ],
        F.count(F.when(F.col("d2") == 0, 1)).alias("nhit"),
        F.round(F.avg(F.when(F.col("d2") == 0, F.col("pv"))), 6).alias("hitval"),
    )
    ok = (
        (F.col("nq0") >= min_per_quadrant) & (F.col("nq1") >= min_per_quadrant)
        & (F.col("nq2") >= min_per_quadrant) & (F.col("nq3") >= min_per_quadrant)
    )
    return agg.filter(ok | (F.col("nhit") > 0)).select(
        "i", "j",
        F.when(F.col("nhit") > 0, F.col("hitval"))
        .otherwise(F.round(F.col("nom") / F.col("den"), 6))
        .alias("idw"),
    )


def delaunay_triangles(P) -> list[tuple[int, int, int]]:
    """Exact Delaunay triangulation of integer points in general
    position (no 4 cocircular): a triple (a<b<c) is a Delaunay facet
    iff no other point lies STRICTLY inside its circumcircle — the
    defining property, evaluated with exact int64 determinants.  O(n⁴)
    on the (small, broadcast-side) point set; an O(n log n)
    Bowyer–Watson drops in behind the same return type when point sets
    grow (reference: GDALTriangulationCreateDelaunay, alg/delaunay.c)."""
    import itertools

    P = np.asarray(P, dtype=np.int64)
    n = P.shape[0]
    tris = []
    for a, b, c in itertools.combinations(range(n), 3):
        ax, ay = P[a]
        bx, by = P[b]
        cx, cy = P[c]
        o = (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
        if o == 0:
            continue
        # vectorized strict-incircle over all other points
        dx, dy = P[:, 0], P[:, 1]
        r1x, r1y = ax - dx, ay - dy
        r2x, r2y = bx - dx, by - dy
        r3x, r3y = cx - dx, cy - dy
        c1 = r1x * r1x + r1y * r1y
        c2 = r2x * r2x + r2y * r2y
        c3 = r3x * r3x + r3y * r3y
        det = (
            r1x * (r2y * c3 - r3y * c2)
            - r1y * (r2x * c3 - r3x * c2)
            + c1 * (r2x * r3y - r3x * r2y)
        )
        inside = o * det > 0
        inside[[a, b, c]] = False
        if not inside.any():
            tris.append((a, b, c))
    return tris


def grid_linear_tin(
    point_rows: list[tuple[int, float, float, float]],
    spark,
    x0, y0, cell, nx, ny,
) -> DataFrame:
    """GDALGridLinear (alg/gdalgrid.cpp GDALGridLinear): Delaunay TIN +
    barycentric interpolation at grid-cell centers; cells outside the
    hull are nodata (radius=0 semantics — omitted rows).

    Distribution: the point set is the SMALL side (like the reference,
    which triangulates all points once) — triangulated once and
    broadcast in the task closure; grid cells are the distributed side.
    On-edge centers resolve to the lexicographically-first qualifying
    triangle, a deterministic rule both engines replay (the value is
    identical on shared edges by linearity)."""
    import pandas as pd

    pts = sorted(point_rows)
    P = [(int(x), int(y)) for _, x, y, _ in pts]
    Z = [float(z) for _, _, _, z in pts]
    tris = delaunay_triangles(P)

    def per_block(pdf_iter):
        for pdf in pdf_iter:
            rows = []
            for _, row in pdf.iterrows():
                cid = int(row["id"])
                i, j = cid % nx, cid // nx
                qx = x0 + (i + 0.5) * cell
                qy = y0 + (j + 0.5) * cell
                for a, b, c in tris:
                    x1, y1 = P[a]
                    x2, y2 = P[b]
                    x3, y3 = P[c]
                    D = (y2 - y3) * (x1 - x3) + (x3 - x2) * (y1 - y3)
                    l1 = ((y2 - y3) * (qx - x3) + (x3 - x2) * (qy - y3)) / D
                    l2 = ((y3 - y1) * (qx - x3) + (x1 - x3) * (qy - y3)) / D
                    l3 = 1.0 - l1 - l2
                    if l1 >= 0 and l2 >= 0 and l3 >= 0:
                        v = l1 * Z[a] + l2 * Z[b] + l3 * Z[c]
                        rows.append((i, j, round(v, 6)))
                        break
            yield pd.DataFrame(rows, columns=["i", "j", "linear_v"])

    return spark.range(nx * ny).mapInPandas(
        per_block, "i int, j int, linear_v double"
    )
