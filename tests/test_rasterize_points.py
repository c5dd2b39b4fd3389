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
import pytest

from gdal_spark.kernels.burn import burn_points, world_to_pixel
from gdal_spark.kernels.geodesy import (
    TILE_SIZE,
    lonlat_to_webmerc,
    tile_geotransform,
    tile_of_webmerc,
)
from gdal_spark.operators.pyramid import pyramid_level
from gdal_spark.operators.rasterize import MAX_FUSED_LEVELS, rasterize_points
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


# --- fused overview levels (rasterize_points(..., min_z)) --------------
#
# Every level of the fused burn must be byte-equal to the SUM pyramid
# chained over the plain burn: pyramid_level(method="sum") once per
# level, each reading the previous level back from parquet, as the
# pipeline's per-level stages do.


def _straddle_points() -> list[tuple[float, float]]:
    # lon 0 / lat 0 is a tile edge at every zoom: these four points land
    # in z8 tiles 127/128 × 127/128, whose z5..z7 ancestors all differ
    return [(sx * 1e-4, sy * 1e-4) for sx in (-1, 1) for sy in (-1, 1)]


def _cluster_points(n_side: int = 200) -> list[tuple[float, float]]:
    # n_side² points in a 0.02° box: thousands per z8 pixel, so a uint8
    # count clamps at 255 and 2×2 sums of 255 overflow above the base
    g = np.linspace(10.001, 10.021, n_side)
    return [(float(lo), float(la)) for lo in g for la in g]


@pytest.fixture(scope="module")
def fused_points(spark, tmp_path_factory):
    extra = local_df(
        spark,
        [(lo, la, 0.25) for lo, la in _straddle_points() + _cluster_points()],
        "lon double, lat double, w double",
    )
    path = str(tmp_path_factory.mktemp("fused") / "points")
    _points(spark).unionByName(extra).write.parquet(path)
    return spark.read.parquet(path)


def _levels(df) -> dict:
    rows = df.select("z", "tx", "ty", F.md5("data").alias("h")).collect()
    return {(int(r.z), int(r.tx), int(r.ty)): r.h for r in rows}


def _chained(spark, base, tmp, min_z: int) -> dict:
    path = str(tmp / f"z{Z}")
    base.write.parquet(path)
    out = _levels(spark.read.parquet(path))
    for z in range(Z - 1, min_z - 1, -1):
        nxt = str(tmp / f"z{z}")
        pyramid_level(spark.read.parquet(path), method="sum").write.parquet(nxt)
        out.update(_levels(spark.read.parquet(nxt)))
        path = nxt
    return out


@pytest.mark.parametrize(
    "value,dtype,min_z",
    [
        (None, "int32", Z - 3),
        (None, "int32", Z - 1),
        (None, "uint8", Z - 3),
        ("w", "float64", Z - 3),
    ],
)
def test_fused_levels_equal_chained_pyramid(spark, fused_points, tmp_path, value, dtype, min_z):
    pts = fused_points if value else fused_points.select("lon", "lat")
    base = rasterize_points(pts, z=Z, value=value, dtype=dtype)
    want = _chained(spark, base, tmp_path, min_z)
    got = _levels(rasterize_points(pts, z=Z, value=value, dtype=dtype, min_z=min_z))
    assert got.keys() == want.keys()
    assert got == want
    assert {z for z, _, _ in got} == set(range(min_z, Z + 1))
    # the straddling points keep four distinct ancestors at every level
    for z in range(min_z, Z + 1):
        lo, hi = (1 << z) // 2 - 1, (1 << z) // 2
        assert {(z, x, y) for x in (lo, hi) for y in (lo, hi)} <= got.keys()
    # all-zero edge tiles survive into the fused base level
    assert _zero_tile_md5(dtype) in [h for (z, _, _), h in got.items() if z == Z]


def test_fused_uint8_clamps_then_wraps(spark, fused_points):
    """The uint8 case really exercises both casts: base pixels clamp at
    255 (copy_word), and 2×2 sums above the base wrap in uint8."""
    tiles = rasterize_points(
        fused_points.select("lon", "lat"), z=Z, dtype="uint8", min_z=Z - 1
    ).toPandas()
    base = tiles[tiles.z == Z]
    arrs = [np.frombuffer(d, dtype=np.uint8).reshape(TILE_SIZE, TILE_SIZE) for d in base.data]
    assert max(int(a.max()) for a in arrs) == 255
    widened = max(
        int(a.astype(np.int64).reshape(TILE_SIZE // 2, 2, TILE_SIZE // 2, 2).sum(axis=(1, 3)).max())
        for a in arrs
    )
    assert widened > 255


def test_fused_min_z_equal_z_is_plain_burn(spark, fused_points):
    pts = fused_points.select("lon", "lat")
    plain = rasterize_points(pts, z=Z)
    same = rasterize_points(pts, z=Z, min_z=Z)
    assert _levels(same) == _levels(plain)
    assert same._jdf.queryExecution().executedPlan().toString().count(
        "Exchange"
    ) == plain._jdf.queryExecution().executedPlan().toString().count("Exchange")


def test_fused_levels_capped(spark, fused_points):
    with pytest.raises(ValueError, match="min_z"):
        rasterize_points(fused_points, z=Z, min_z=Z - MAX_FUSED_LEVELS - 1)
