"""Tile pyramid (overview) construction.

Reference: GDALRegenerateOverviewsEx resampling dispatch
(gcore/overview.cpp:4302-4774) — NEAREST / AVERAGE / MODE / SUM etc.
over 2×2 child blocks.  The distributed form is a per-level tree
aggregation: groupBy(parent tile) over ≤ 4 children, reduce the 2×2
pixel blocks in NumPy.  Each level is one shuffle whose cardinality
drops 4× — total work is a geometric series dominated by the base
level, which is how the pyramid stays O(n) at 10^12 pages.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gdal_spark.operators.rasterize import TILE_SCHEMA, TILE_SIZE


def _reduce2x2(arr: np.ndarray, method: str) -> np.ndarray:
    ny, nx = arr.shape
    a = arr.reshape(ny // 2, 2, nx // 2, 2)
    if method == "sum":
        return a.sum(axis=(1, 3))
    if method == "average":
        return a.mean(axis=(1, 3))
    if method == "nearest":
        return arr[::2, ::2]
    if method == "max":
        return a.max(axis=(1, 3))
    if method == "min":
        return a.min(axis=(1, 3))
    if method == "mode":
        # most frequent of the 4 children; ties -> smallest value
        # (deterministic; vectorized via sorted-block equality counts)
        v = a.transpose(0, 2, 1, 3).reshape(-1, 4)
        s = np.sort(v, axis=1)
        cnt = (s[:, :, None] == s[:, None, :]).sum(axis=2)
        idx = np.argmax(cnt, axis=1)  # first max -> smallest value (sorted)
        return s[np.arange(s.shape[0]), idx].reshape(ny // 2, nx // 2)
    if method == "rms":
        # RMS overview (gcore/overview.cpp GDALResampleChunk_AverageOrRMS
        # <true> float path): sqrt of the mean of squares over the 2×2
        # block.  Explicit term order — integer-valued doubles sum exact.
        s = (
            a[:, 0, :, 0] * a[:, 0, :, 0]
            + a[:, 0, :, 1] * a[:, 0, :, 1]
            + a[:, 1, :, 0] * a[:, 1, :, 0]
            + a[:, 1, :, 1] * a[:, 1, :, 1]
        )
        return np.sqrt(s / 4.0)
    raise ValueError(f"unsupported resampling {method}")


# ---------------------------------------------------------------------------
# Convolution overview modes (BILINEAR / CUBIC / CUBICSPLINE / LANCZOS)
# and GAUSS — the remaining GDALRegenerateOverviewsEx dispatch rows
# (gcore/overview.cpp:4302-4440; filter funcs alg/gdalwarpkernel.cpp
# GWKBilinear/GWKCubic/GWKBSpline/GWKLanczosSinc).
#
# Pinned 2× semantics (gcore/overview.cpp:3598-3610): dest pixel i reads
# src pixels p = 2i+1−2R .. 2i+2R (4R of them per axis, R = kernel
# radius), with weight f(0.5·(p − (2i+1) + 0.5)); weights are normalized
# over the in-raster window (edge truncation renormalizes).  Separable:
# horizontal pass then vertical pass, each with its own normalization —
# exactly the reference's two-pass structure.
# ---------------------------------------------------------------------------


def _filter_value(method: str, x: float) -> float:
    ax = abs(x)
    if method == "bilinear":  # GWKBilinear
        return max(0.0, 1.0 - ax)
    if method == "cubic":  # GWKCubic, Keys a = -0.5 (same as warp q85)
        if ax <= 1.0:
            return ((1.5 * ax - 2.5) * ax) * ax + 1.0
        if ax < 2.0:
            return ((-0.5 * ax + 2.5) * ax - 4.0) * ax + 2.0
        return 0.0
    if method == "cubicspline":  # GWKBSpline (cubic B-spline)
        if ax < 1.0:
            return (4.0 - 6.0 * ax * ax + 3.0 * ax * ax * ax) / 6.0
        if ax < 2.0:
            return (2.0 - ax) ** 3 / 6.0
        return 0.0
    if method == "lanczos":  # GWKLanczosSinc, radius 3
        import math

        if ax >= 3.0:
            return 0.0
        if ax == 0.0:
            return 1.0
        return (
            math.sin(math.pi * x) / (math.pi * x)
            * math.sin(math.pi * x / 3.0) / (math.pi * x / 3.0)
        )
    raise ValueError(method)


_CONV_RADIUS = {"bilinear": 1, "cubic": 2, "cubicspline": 2, "lanczos": 3}


def conv_weights(method: str) -> list[float]:
    """The 4R normalized one-axis weights of the 2× overview, as plain
    Python floats — inline their repr() verbatim in oracle SQL so both
    engines use bit-identical constants."""
    R = _CONV_RADIUS[method]
    raw = [_filter_value(method, 0.5 * (k + 0.5 - 2 * R)) for k in range(4 * R)]
    s = sum(raw)
    return [w / s for w in raw]


def pyramid_convolution(
    tiles: DataFrame,
    method: str,
    tile_size: int,
    width: int,
    height: int,
) -> DataFrame:
    """One 2× overview level with a convolution (or GAUSS) resampler
    over a dense tile table → parent-level per-pixel rows (px, py, v).

    Distribution: the halo exchange of ``operators.focal`` (boundary
    strips only, radius 2R ≤ 6 px) then one independent task per tile
    producing its (ts/2)² parent block — identical shuffle shape to
    every other focal op, so the same 1000-executor argument holds.

    Interior pixels (full window) get the plain normalized weighted
    sum; at raster edges the window truncates and renormalizes over
    the included weights, matching gcore/overview.cpp:3605-3667."""
    from gdal_spark.operators.focal import _assemble_padded, _emit_strips

    ts = tile_size
    ntx = (width + ts - 1) // ts
    nty = (height + ts - 1) // ts
    out_schema = T.StructType(
        [
            T.StructField("px", T.LongType()),
            T.StructField("py", T.LongType()),
            T.StructField("v", T.DoubleType()),
        ]
    )

    if method == "gauss":
        # 3×3 integer kernel [1 2 1; 2 4 2; 1 2 1] anchored at the 2×2
        # block's origin (window rows/cols 2i..2i+2), normalized over
        # the in-raster subset (gcore/overview.cpp:2032-2120)
        r = 1
        M = np.array([[1.0, 2.0, 1.0], [2.0, 4.0, 2.0], [1.0, 2.0, 1.0]])

        def kernel(padded, valid, half):
            num = np.zeros((half, half))
            den = np.zeros((half, half))
            for ky in range(3):
                for kx in range(3):
                    z = padded[r + ky : r + ky + ts : 2, r + kx : r + kx + ts : 2]
                    m = valid[r + ky : r + ky + ts : 2, r + kx : r + kx + ts : 2]
                    num = num + M[ky, kx] * (z * m)
                    den = den + M[ky, kx] * m
            return num / np.where(den == 0.0, 1.0, den)

    else:
        R = _CONV_RADIUS[method]
        r = 2 * R
        w = np.array(conv_weights(method))
        wsum_full = 0.0
        for k in range(4 * R):
            wsum_full = wsum_full + w[k]

        def kernel(padded, valid, half):
            # horizontal pass over ALL padded rows, then vertical —
            # each pass renormalizes only where the window truncates
            # (interior values stay the exact plain weighted sum, the
            # expression the oracle replays term by term)
            def one_axis(z, m, n_dst, axis):
                num = 0.0
                den = 0.0
                for k in range(4 * R):
                    if axis == 1:
                        zs = z[:, 1 + k : 1 + k + 2 * n_dst : 2]
                        ms = m[:, 1 + k : 1 + k + 2 * n_dst : 2]
                    else:
                        zs = z[1 + k : 1 + k + 2 * n_dst : 2, :]
                        ms = m[1 + k : 1 + k + 2 * n_dst : 2, :]
                    num = num + w[k] * (zs * ms)
                    den = den + w[k] * ms
                full = den == wsum_full
                safe = np.where(den == 0.0, 1.0, den)
                return np.where(full, num, num / safe), den != 0.0

            h, hvalid = one_axis(padded, valid.astype(np.float64), half, axis=1)
            out, _ = one_axis(h, hvalid.astype(np.float64), half, axis=0)
            return out

    strips = _emit_strips(tiles, ts, r, ntx, nty)
    half = ts // 2

    def per_tile(key, pdf: pd.DataFrame) -> pd.DataFrame:
        tx, ty = int(key[0]), int(key[1])
        padded = _assemble_padded(pdf, ts, r)
        # validity = inside the raster (the dense tile grid means the
        # only missing halo cells are beyond the raster edge)
        gx = np.arange(-r, ts + r) + tx * ts
        gy = np.arange(-r, ts + r) + ty * ts
        valid = (
            ((gy >= 0) & (gy < height))[:, None]
            & ((gx >= 0) & (gx < width))[None, :]
        )
        res = kernel(padded, valid, half)
        PX, PY = np.meshgrid(
            np.arange(half) + tx * half, np.arange(half) + ty * half
        )
        return pd.DataFrame(
            {"px": PX.ravel(), "py": PY.ravel(), "v": res.ravel()}
        )

    return strips.groupBy("tx", "ty").applyInPandas(per_tile, out_schema)


def parent_tile(
    children, ptx: int, pty: int, method: str, dtype: str, tile_size: int
) -> np.ndarray:
    """One parent tile from its ≤ 4 children ``(tx, ty, arr)``: each
    child's 2×2-reduced block goes into its quadrant of a zero tile,
    then the result is cast to ``dtype``.  An integer ``sum`` that
    overflows the tile dtype wraps when its block is assigned."""
    out_dtype = np.float64 if method == "average" else np.dtype(dtype)
    out = np.zeros((tile_size, tile_size), dtype=out_dtype)
    h = tile_size // 2
    for tx, ty, child in children:
        oy = (ty - 2 * pty) * h
        ox = (tx - 2 * ptx) * h
        out[oy : oy + h, ox : ox + h] = _reduce2x2(child, method)
    return out.astype(np.dtype(dtype))


def pyramid_level(
    tiles: DataFrame,
    method: str = "sum",
    tile_size: int = TILE_SIZE,
) -> DataFrame:
    """One zoom level up: tiles at z → tiles at z-1.

    ``sum`` is the density-pyramid reduction (counts stay counts);
    ``average`` matches the reference's AVERAGE overview semantics.
    The point-density pipeline builds its SUM levels inside the burn
    (``rasterize_points(..., min_z)``) with the same ``parent_tile``.
    """

    parent = tiles.withColumn("ptx", F.col("tx") / 2).withColumn(
        "pty", F.col("ty") / 2
    )
    parent = parent.withColumn("ptx", F.floor("ptx").cast("long")).withColumn(
        "pty", F.floor("pty").cast("long")
    )

    def reduce_children(key, pdf: pd.DataFrame) -> pd.DataFrame:
        ptx, pty = int(key[0]), int(key[1])
        z = int(pdf["z"].iloc[0]) - 1
        dtype = pdf["dtype"].iloc[0]
        children = [
            (
                int(tx),
                int(ty),
                np.frombuffer(data, dtype=np.dtype(dt)).reshape(tile_size, tile_size),
            )
            for tx, ty, data, dt in zip(pdf["tx"], pdf["ty"], pdf["data"], pdf["dtype"])
        ]
        out = parent_tile(children, ptx, pty, method, dtype, tile_size)
        return pd.DataFrame(
            {
                "z": [z],
                "tx": [ptx],
                "ty": [pty],
                "band": [int(pdf["band"].iloc[0])],
                "data": [out.tobytes()],
                "dtype": [dtype],
                "nodata": [float(pdf["nodata"].iloc[0])],
            }
        )

    return parent.groupBy("ptx", "pty").applyInPandas(reduce_children, TILE_SCHEMA)
