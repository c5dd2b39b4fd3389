"""Distributed rasterize: vector → tile table.

Reference semantics: GDALRasterizeGeometries/Layers burns shapes into
a chunked raster buffer (alg/gdalrasterize.cpp:999-1220); chunk =
CHUNKYSIZE scanlines bounded by cache.  The Spark physical plan makes
the chunk the unit of parallelism: one task burns one (z, tx, ty)
tile, features are exploded onto every tile their bbox covers (no
cross-task halo needed — burning is local to a tile), and the tile
table is partitioned by zoom so a 1000-executor cluster writes the
pyramid level in one wave.

Tile table schema (the Spark mapping of GDALRasterBand blocks,
gcore/gdal_rasterband.h:149-150):
  z int, tx long, ty long, band int, data binary (row-major ndarray),
  dtype string, nodata double

Two entry points:
- ``rasterize_points``  — value/count burn of a point DataFrame
  (the web-density tile case: a JVM per-pixel aggregate with map-side
  partial combine, then one dense tile assembled per tile key, or,
  with ``min_z``, the tiles and their SUM overview levels assembled
  per ancestor tile)
- ``rasterize_wkb_grid`` — polygon/line burn onto an arbitrary
  geotransform grid via one applyInPandas per block with the exact
  scanline/Bresenham kernels
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gdal_spark.kernels import wkb as W
from gdal_spark.kernels.burn import (
    burn_all_touched_line,
    burn_line,
    burn_polygon,
    copy_word,
    world_to_pixel,
)
from gdal_spark.kernels.geodesy import TILE_SIZE, lonlat_to_webmerc, tile_geotransform, tile_of_webmerc

TILE_SCHEMA = T.StructType(
    [
        T.StructField("z", T.IntegerType()),
        T.StructField("tx", T.LongType()),
        T.StructField("ty", T.LongType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("data", T.BinaryType()),
        T.StructField("dtype", T.StringType()),
        T.StructField("nodata", T.DoubleType()),
    ]
)


def with_tile(
    points: DataFrame, z: int, lon="lon", lat="lat", tile_size: int = TILE_SIZE
) -> DataFrame:
    """Attach WebMercator (tx, ty) at zoom z and ``pix``, the flat
    row-major pixel index inside that tile (vectorized kernel).

    ``pix`` uses the ops a per-tile burn uses: ``world_to_pixel``
    against the tile's own geotransform, then truncation, in bounds
    only (``burn_points``).  A point whose pixel falls outside its
    clamped tile (lon = 180, |lat| beyond the mercator clip) gets
    ``pix = -1``; its row is kept, so its tile still materializes."""

    @F.pandas_udf(
        T.StructType(
            [
                T.StructField("tx", T.LongType()),
                T.StructField("ty", T.LongType()),
                T.StructField("pix", T.LongType()),
            ]
        )
    )
    def enc(lo: pd.Series, la: pd.Series) -> pd.DataFrame:
        mx, my = lonlat_to_webmerc(lo.to_numpy(np.float64), la.to_numpy(np.float64))
        tx, ty = tile_of_webmerc(mx, my, z)
        px_, py_ = world_to_pixel(mx, my, tile_geotransform(z, tx, ty, tile_size))
        m = (px_ >= 0) & (px_ < tile_size) & (py_ >= 0) & (py_ < tile_size)
        pix = np.full(tx.shape, -1, dtype=np.int64)
        pix[m] = py_[m].astype(np.int64) * tile_size + px_[m].astype(np.int64)
        return pd.DataFrame({"tx": tx, "ty": ty, "pix": pix})

    return points.withColumn("_t", enc(F.col(lon), F.col(lat))).select(
        "*", F.col("_t.tx").alias("tx"), F.col("_t.ty").alias("ty"),
        F.col("_t.pix").alias("pix"),
    ).drop("_t")


# Overview levels one ``rasterize_points`` call fuses into its burn.
# The fused plan groups pixel rows by their tiles' ``min_z`` ancestor,
# so one group holds up to 4**levels base tiles: at 3 levels, at most
# 64 tiles, 64·tile_size² sparse pixel rows into one Python call and
# 16 MB of dense int32 tiles (256²) in its memory.  A 4th level would
# make that 256 tiles and 64 MB, and cut the groups that assemble in
# parallel 4× again: at base z8 there are at most 1024 z5 groups
# against up to 65,536 z8 tile keys.  Measured on the pipeline's pages
# (250k and 1M), the points occupy 19 z5 ancestors over 44 z8 tiles,
# at most 4 base tiles each, and the 12 hottest ancestors hold 82-88%
# of the pixel rows; so the assemble runs at most 19 tasks here (44
# without ``min_z``).  The pixel aggregate below the grouping stays
# fully parallel.  Coarser levels chain ``pyramid.pyramid_level``
# stages over the coarsest fused one.
MAX_FUSED_LEVELS = 3


def rasterize_points(
    points: DataFrame,
    z: int,
    lon: str = "lon",
    lat: str = "lat",
    value: str | None = None,
    dtype: str = "int32",
    tile_size: int = TILE_SIZE,
    min_z: int | None = None,
) -> DataFrame:
    """Point-density (or value-sum) tiles at zoom z, plus their SUM
    overview levels z-1 .. ``min_z`` when ``min_z < z``.

    Plan: encode → JVM pixel aggregate → assemble one tile per key.
    ``with_tile`` gives each point its (tx, ty, pix); a JVM
    ``groupBy(tx, ty, pix)`` counts (or sums ``value``) per pixel, and
    Spark's partial HashAggregate below the exchange combines each map
    task's rows down to at most ``tile_size²`` per tile.  That absorbs
    the tile-key skew of real corpora (the bench fixture's hottest z8
    tile holds 27% of all points) without salting, and only sparse
    (pix, v) rows cross into Python.  A second exchange on (tx, ty)
    feeds ``applyInPandas``, which scatters the rows into one dense
    tile and ignores ``pix < 0``.  This is the ADD-merge point burn of
    alg/gdalrasterize.cpp:312-390: a count burn goes through
    ``copy_word`` like the single-phase ``burn_points(merge_add=True)``,
    a value burn through ``astype(dtype)``.  Value sums are exact, and
    so independent of Spark's summation order, whenever the partial
    sums are representable (e.g. dyadic weights).

    With ``min_z < z`` (at most ``MAX_FUSED_LEVELS`` below z) the second
    exchange is on the tiles' ``min_z`` ancestor (atx, aty) instead,
    with each pixel row's base tile sent as its index ``sub`` inside the
    ancestor, and one ``applyInPandas`` call per ancestor assembles each
    of its base tiles as above, then reduces them level by level with
    ``pyramid.parent_tile(method="sum")`` — the GDALRegenerateOverviews
    SUM of 2×2 child blocks (gcore/overview.cpp:4302-4774).  Every level
    is byte-identical to chaining ``pyramid_level(method="sum")`` over
    the z tiles, and the result holds the rows of every level, told
    apart by ``z``.  ``min_z == z`` is the plain burn."""
    min_z = z if min_z is None else min_z
    if not z - MAX_FUSED_LEVELS <= min_z <= z:
        raise ValueError(
            f"min_z={min_z} must lie in [z - {MAX_FUSED_LEVELS}, z] for z={z}; "
            "chain pyramid_level for coarser levels"
        )
    pts = with_tile(points, z, lon, lat, tile_size)
    agg = F.count(F.lit(1)) if value is None else F.sum(F.col(value).cast("double"))
    pixels = pts.groupBy("tx", "ty", "pix").agg(agg.alias("v"))
    dt = np.dtype(dtype)

    def burn(pix: np.ndarray, v: np.ndarray) -> np.ndarray:
        m = pix >= 0
        acc = np.zeros(tile_size * tile_size, dtype=np.float64)
        acc[pix[m]] += v[m]
        return copy_word(acc, dt) if value is None else acc.astype(dt)

    def rows(tiles: list[tuple[int, int, int, np.ndarray]]) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "z": [t[0] for t in tiles],
                "tx": [t[1] for t in tiles],
                "ty": [t[2] for t in tiles],
                "band": 1,
                "data": [t[3].tobytes() for t in tiles],
                "dtype": dtype,
                "nodata": 0.0,
            }
        )

    # pyramid imports TILE_SCHEMA from this module
    from gdal_spark.operators.pyramid import parent_tile

    shift = z - min_z
    mask = (1 << shift) - 1

    def assemble(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pix = pdf["pix"].to_numpy()
        v = pdf["v"].to_numpy(np.float64)
        if shift == 0:
            groups = pdf.groupby(["tx", "ty"]).indices.items()
        else:
            atx, aty = (int(k) << shift for k in key)
            groups = (
                ((atx | (int(sub) >> shift), aty | (int(sub) & mask)), idx)
                for sub, idx in pdf.groupby("sub").indices.items()
            )
        level = {
            (int(tx), int(ty)): burn(pix[idx], v[idx]).reshape(tile_size, tile_size)
            for (tx, ty), idx in groups
        }
        out = [(z, tx, ty, arr) for (tx, ty), arr in level.items()]
        for lz in range(z - 1, min_z - 1, -1):
            children: dict[tuple[int, int], list] = {}
            for (tx, ty), arr in level.items():
                children.setdefault((tx >> 1, ty >> 1), []).append((tx, ty, arr))
            level = {
                (ptx, pty): parent_tile(ch, ptx, pty, "sum", dtype, tile_size)
                for (ptx, pty), ch in children.items()
            }
            out += [(lz, tx, ty, arr) for (tx, ty), arr in level.items()]
        return rows(out)

    if shift == 0:
        return pixels.groupBy("tx", "ty").applyInPandas(assemble, TILE_SCHEMA)
    # The ancestor key rides as child columns, so Arrow sends it once,
    # and the tile inside it as one byte, sub = (tx & mask) << shift |
    # (ty & mask) < 4**MAX_FUSED_LEVELS = 64; the keys (< 2**z) and
    # pix (< tile_size²) fit int32.
    sub = F.shiftleft(F.col("tx").bitwiseAND(mask), shift).bitwiseOR(F.col("ty").bitwiseAND(mask))
    return (
        pixels.select(
            F.shiftright("tx", shift).cast("int").alias("atx"),
            F.shiftright("ty", shift).cast("int").alias("aty"),
            sub.cast("byte").alias("sub"),
            F.col("pix").cast("int").alias("pix"),
            "v",
        )
        .groupBy("atx", "aty")
        .applyInPandas(assemble, TILE_SCHEMA)
    )


def rasterize_wkb_grid(
    features: DataFrame,
    gt: tuple[float, ...],
    width: int,
    height: int,
    tile_size: int = 64,
    burn_value_col: str = "burn",
    geom_col: str = "geom",
    dtype: str = "float64",
    merge_add: bool = False,
    all_touched: bool = False,
) -> DataFrame:
    """GDALRasterizeLayers analog onto an arbitrary target grid: burn
    WKB polygon features into a ``width × height`` raster defined by a
    6-coefficient geotransform, stored as ``tile_size²`` blocks.

    Distribution: features explode onto the blocks their envelope
    covers (one shuffle keyed by block), each task burns one block with
    the exact scanline kernel.  Per-block burn == global burn
    restricted to the block because block origins are integer pixel
    translations (the scanline rule is translation-invariant), the
    distributed equivalent of the reference's CHUNKYSIZE chunked burn
    (alg/gdalrasterize.cpp:1183-1220).

    ``merge_add=False`` (REPLACE) burns in deterministic
    ``_feature_seq`` order; ``merge_add=True`` (ADD) is order-free.
    Every block equals the whole-raster burn cropped to it
    (tests/test_rasterize_wkb_grid.py)."""
    ntx = (width + tile_size - 1) // tile_size
    nty = (height + tile_size - 1) // tile_size

    @F.pandas_udf(T.ArrayType(T.ArrayType(T.LongType())))
    def covered(geoms: pd.Series) -> pd.Series:
        out = []
        for blob in geoms:
            xmin, ymin, xmax, ymax = W.wkb_bbox(bytes(blob))
            px, py = world_to_pixel(
                np.array([xmin, xmax]), np.array([ymin, ymax]), gt
            )
            x0, x1 = sorted([px[0], px[1]])
            y0, y1 = sorted([py[0], py[1]])
            tx0 = max(int(np.floor(x0 / tile_size)), 0)
            tx1 = min(int(np.floor(x1 / tile_size)), ntx - 1)
            ty0 = max(int(np.floor(y0 / tile_size)), 0)
            ty1 = min(int(np.floor(y1 / tile_size)), nty - 1)
            out.append(
                [[tx, ty] for tx in range(tx0, tx1 + 1) for ty in range(ty0, ty1 + 1)]
            )
        return pd.Series(out)

    feats = (
        features.withColumn("_feature_seq", F.monotonically_increasing_id())
        .withColumn("_tile", F.explode(covered(F.col(geom_col))))
        .withColumn("tx", F.col("_tile")[0])
        .withColumn("ty", F.col("_tile")[1])
        .drop("_tile")
    )

    def burn_tile(key, pdf: pd.DataFrame) -> pd.DataFrame:
        tx, ty = int(key[0]), int(key[1])
        nx = min(tile_size, width - tx * tile_size)
        ny = min(tile_size, height - ty * tile_size)
        arr = np.zeros((ny, nx), dtype=np.dtype(dtype))
        pdf = pdf.sort_values("_feature_seq")
        for blob, bv in zip(pdf[geom_col], pdf[burn_value_col]):
            gtype, parts = W.parse_wkb(bytes(blob))
            if gtype in (W.LINESTRING, W.MULTILINESTRING):
                lines = [parts] if gtype == W.LINESTRING else [p for _, p in parts]
                visited: set = set()
                line_fn = burn_all_touched_line if all_touched else burn_line
                for coords in lines:
                    px_, py_ = world_to_pixel(coords[:, 0], coords[:, 1], gt)
                    line_fn(
                        arr, px_ - tx * tile_size, py_ - ty * tile_size, float(bv),
                        merge_add=merge_add, visited=visited if merge_add else None,
                    )
                continue
            for rings in W.polygon_rings(bytes(blob)):
                pix_rings = []
                for r in rings:
                    px_, py_ = world_to_pixel(r[:, 0], r[:, 1], gt)
                    pix_rings.append(
                        np.column_stack([px_ - tx * tile_size, py_ - ty * tile_size])
                    )
                burn_polygon(arr, pix_rings, float(bv), merge_add=merge_add)
        return pd.DataFrame(
            {
                "z": [0], "tx": [tx], "ty": [ty], "band": [1],
                "data": [arr.tobytes()], "dtype": [dtype], "nodata": [0.0],
            }
        )

    return (
        feats.select("tx", "ty", "_feature_seq", geom_col, burn_value_col)
        .groupBy("tx", "ty")
        .applyInPandas(burn_tile, TILE_SCHEMA)
    )


def tiles_to_features(
    tiles: DataFrame, tile_size: int, nodata: float | None = 0.0
) -> DataFrame:
    """``gdal raster as-features`` analog (apps/gdalalg_raster_as_features.h:28-33):
    one row per (non-nodata) pixel with global pixel coords and value.
    mapInPandas — embarrassingly parallel over tile rows."""
    out_schema = T.StructType(
        [
            T.StructField("gx", T.LongType()),
            T.StructField("gy", T.LongType()),
            T.StructField("v", T.DoubleType()),
        ]
    )

    def gen(pdf_iter):
        for pdf in pdf_iter:
            frames = []
            for _, row in pdf.iterrows():
                arr = np.frombuffer(row["data"], dtype=np.dtype(row["dtype"]))
                ny = arr.size // tile_size if arr.size % tile_size == 0 else None
                if ny is None:
                    raise ValueError("ragged tile buffer")
                arr = arr.reshape(ny, tile_size)
                if nodata is None:
                    mask = np.ones_like(arr, dtype=bool)
                else:
                    mask = arr != nodata
                ys, xs = np.nonzero(mask)
                frames.append(
                    pd.DataFrame(
                        {
                            "gx": xs + int(row["tx"]) * tile_size,
                            "gy": ys + int(row["ty"]) * tile_size,
                            "v": arr[ys, xs].astype(np.float64),
                        }
                    )
                )
            yield pd.concat(frames) if frames else pd.DataFrame(
                {"gx": [], "gy": [], "v": []}
            )

    return tiles.mapInPandas(gen, out_schema)


def checksum_tiles(tiles: DataFrame, tile_size: int, width: int) -> DataFrame:
    """Distributed GDALChecksumImage (alg/gdalchecksum.cpp:48-120): the
    formula is a sum of per-pixel remainders keyed by the GLOBAL pixel
    index, so it distributes as per-tile partials + one masked final
    sum.  Absent tiles are all-zero and contribute 0 (0 % p == 0), so
    the sparse tile table checksums identically to the dense raster."""
    from gdal_spark.kernels.checksum import _PRIMES

    def partial(pdf_iter):
        for pdf in pdf_iter:
            totals = []
            for _, row in pdf.iterrows():
                arr = np.frombuffer(row["data"], dtype=np.dtype(row["dtype"])).reshape(
                    tile_size, tile_size
                )
                if np.issubdtype(arr.dtype, np.floating):
                    vals = np.floor(arr.astype(np.float64) + 0.5).astype(np.int64)
                else:
                    vals = arr.astype(np.int64)
                gx = np.arange(tile_size) + int(row["tx"]) * tile_size
                gy = np.arange(tile_size) + int(row["ty"]) * tile_size
                GX, GY = np.meshgrid(gx, gy)
                idx = (GY.astype(np.int64) * width + GX) % 11
                totals.append(int(np.sum(vals % _PRIMES[idx])))
            yield pd.DataFrame({"partial": totals})

    partials = tiles.mapInPandas(partial, "partial long")
    return partials.agg(
        (F.sum("partial") % 65536).cast("long").alias("checksum")
    )
