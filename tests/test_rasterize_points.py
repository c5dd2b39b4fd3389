"""Point burn (encode → JVM pixel aggregate → one tile per key):
bitwise parity with a NumPy single-phase oracle that groups points by
the ``with_tile`` kernel's (tx, ty) and burns each tile with
``burn_points(..., merge_add=True)``.

Inputs are Zipf-skewed synth pages plus edge points whose pixel falls
outside their own (clamped) tile — lon = ±180, |lat| > 85.06 — and
tile corners on lat 0.  Such a point still materializes its tile, all
zero if nothing else lands there."""

import hashlib

import numpy as np
import pandas as pd
import pyspark.sql.functions as F

from gdal_spark.kernels.burn import burn_points, world_to_pixel
from gdal_spark.kernels.geodesy import (
    TILE_SIZE,
    lonlat_to_webmerc,
    tile_geotransform,
    tile_of_webmerc,
)
from gdal_spark.operators.rasterize import rasterize_points
from gdal_spark.session import local_df
from gdal_spark.sources.pages import geocode_encode, synth_pages

Z = 8


def _edge_points() -> list[tuple[float, float]]:
    span = 360.0 / (1 << Z)
    pts = [(-180.0 + k * span, 0.0) for k in (0, 1, 2, 128, 200, 255, 256)]
    pts += [(180.0, 10.0), (-180.0, -10.0), (180.0, 85.07), (-180.0, -85.07)]
    pts += [(0.0, 85.5), (33.0, 89.9), (-120.0, -86.0), (17.0, -85.0601)]
    return pts


def _points(spark):
    geo = geocode_encode(synth_pages(spark, 20_000, 4), res_list=(7,))
    pages = geo.select(
        "lon", "lat", ((F.col("page_id") % 4 + 1) * 0.25).alias("w")
    )
    edges = local_df(
        spark,
        [(lo, la, 0.5) for lo, la in _edge_points()],
        "lon double, lat double, w double",
    )
    return pages.unionByName(edges)


def _oracle(pdf: pd.DataFrame, value: str | None, dtype: str) -> dict:
    lon = pdf["lon"].to_numpy(np.float64)
    lat = pdf["lat"].to_numpy(np.float64)
    mx, my = lonlat_to_webmerc(lon, lat)
    tx, ty = tile_of_webmerc(mx, my, Z)
    out = {}
    for (kx, ky), idx in pd.DataFrame({"tx": tx, "ty": ty}).groupby(
        ["tx", "ty"]
    ).indices.items():
        arr = np.zeros((TILE_SIZE, TILE_SIZE), dtype=np.dtype(dtype))
        px, py = world_to_pixel(
            mx[idx], my[idx], tile_geotransform(Z, int(kx), int(ky))
        )
        if value is None:
            burn_points(arr, px, py, 1, merge_add=True)
        else:
            # dyadic weights: one ADD burn per weight class is exact
            w = pdf[value].to_numpy(np.float64)[idx]
            for wk in np.unique(w):
                burn_points(arr, px[w == wk], py[w == wk], wk, merge_add=True)
        out[(int(kx), int(ky))] = hashlib.md5(arr.tobytes()).hexdigest()
    return out


def _burned(df) -> dict:
    rows = df.select("tx", "ty", F.md5("data").alias("h")).collect()
    return {(int(r.tx), int(r.ty)): r.h for r in rows}


def _zero_tile_md5(dtype: str) -> str:
    return hashlib.md5(
        np.zeros((TILE_SIZE, TILE_SIZE), dtype=np.dtype(dtype)).tobytes()
    ).hexdigest()


def test_count_burn_bitwise_parity(spark):
    pts = _points(spark)
    pdf = pts.toPandas()
    want = _oracle(pdf, None, "int32")
    got = _burned(rasterize_points(pts.select("lon", "lat"), z=Z))
    assert got.keys() == want.keys()
    assert got == want
    # the edge points' tiles survive even when nothing lands in them
    zero = _zero_tile_md5("int32")
    assert sum(h == zero for h in got.values()) >= 3
    assert {(255, 128), (255, 0), (0, 255)} <= got.keys()


def test_value_burn_bitwise_parity(spark):
    pts = _points(spark)
    pdf = pts.toPandas()
    want = _oracle(pdf, "w", "float64")
    got = _burned(rasterize_points(pts, z=Z, value="w", dtype="float64"))
    assert got == want
    assert _zero_tile_md5("float64") in got.values()
