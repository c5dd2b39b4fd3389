"""Raster Attribute Tables (RAT) — the reference's per-band value
table (gcore/gdal_rat.cpp: GDALRasterAttributeTable, columns with
GFU_MinMax/GFU_PixelCount/GFU_Name usages, histogram binning) as a
first-class DataFrame.

Spark-first shape: a RAT IS a DataFrame keyed by pixel value —
build = one mapInPandas histogram pass + a groupBy (map-side
partials), enrich = window functions, apply = broadcast LUT join back
onto the tiles.  At 100 TB the build is a single shuffle on the value
key; the table itself is dimension-sized.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

_RAT_PARTIAL = T.StructType(
    [
        T.StructField("value", T.DoubleType()),
        T.StructField("cnt", T.LongType()),
    ]
)


def build_rat(
    tiles: DataFrame, tile_size: int = 256, nodata: float | None = 0.0
) -> DataFrame:
    """Build the attribute table: one row per distinct pixel value with
    VALUE / COUNT / PCT / CUM_PCT / RANK columns (the GFU_MinMax +
    GFU_PixelCount usage pair of gdal_rat.cpp, plus the cumulative
    columns its dense-binning consumers derive)."""
    ts = tile_size

    def gen(pdf_iter):
        for pdf in pdf_iter:
            rows = []
            for _, row in pdf.iterrows():
                arr = np.frombuffer(
                    row["data"], dtype=np.dtype(row["dtype"])
                ).reshape(ts, ts)
                if nodata is not None:
                    arr = arr[arr != nodata]
                vals, cnts = np.unique(arr, return_counts=True)
                rows.extend(
                    (float(v), int(c)) for v, c in zip(vals, cnts)
                )
            yield pd.DataFrame(rows, columns=["value", "cnt"])

    partials = tiles.mapInPandas(gen, _RAT_PARTIAL)
    agg = partials.groupBy("value").agg(F.sum("cnt").alias("count"))
    total = Window.partitionBy()
    ordered = Window.partitionBy().orderBy("value")
    return agg.select(
        "value",
        "count",
        (F.col("count") / F.sum("count").over(total)).alias("pct"),
        (F.sum("count").over(ordered) / F.sum("count").over(total)).alias(
            "cum_pct"
        ),
        F.row_number().over(ordered).alias("rnk"),
    )
