"""Hierarchical spatial cell index — the engine's join currency.

The reference accelerates spatial predicates with in-process indexes
(CPLQuadTree port/cpl_quad_tree.cpp:27, GPKG R-tree, FlatGeobuf packed
Hilbert R-tree — SURVEY.md §4).  In-process trees don't distribute, so
this engine replaces them with *cell ids as equi-join keys*: every
point/geometry is assigned the id(s) of the grid cell(s) it touches at
a chosen resolution, and spatial joins become hash joins on the id.

Two id flavours over the same quadtree grid (equirectangular lon/lat,
2^res × 2^res at resolution ``res``):

- ``cell_encode``  — "H3-style" id: packed (res, x, y).  Parent /
  children / k-ring are integer arithmetic.
- ``s2_encode``    — "S2-style" id: Hilbert-curve position at the
  resolution, a single monotone space-filling key whose *ranges* are
  spatially contiguous — the clustering / range-partitioning key.

No external index library is used; ids are deterministic pure NumPy.
Resolutions 7-9 give cells of ~0.28°..0.07° (~31 km..7.8 km at the
equator), the scale band named by the north rule.
"""

from __future__ import annotations

import numpy as np

from gdal_spark.kernels.geodesy import hilbert_xy2d

MAX_RES = 28  # x, y each fit in 28 bits; res in high 5 bits

__all__ = [
    "cell_encode",
    "cell_decode",
    "cell_parent",
    "cell_kring",
    "cell_bounds",
    "s2_encode",
    "cells_cover_bbox",
    "cells_cover_polygon",
]


def _grid_xy(lon, lat, res: int):
    n = 1 << res
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    x = np.floor((lon + 180.0) / 360.0 * n).astype(np.int64)
    y = np.floor((90.0 - lat) / 180.0 * n).astype(np.int64)
    return np.clip(x, 0, n - 1), np.clip(y, 0, n - 1)


def cell_encode(lon, lat, res: int) -> np.ndarray:
    """(lon, lat) → int64 cell id at resolution ``res``."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    x, y = _grid_xy(lon, lat, res)
    return (np.int64(res) << np.int64(57)) | (x << np.int64(28)) | y


def cell_id_from_xy(x, y, res: int) -> np.ndarray:
    x = np.asarray(x, dtype=np.int64)
    y = np.asarray(y, dtype=np.int64)
    return (np.int64(res) << np.int64(57)) | (x << np.int64(28)) | y


def cell_decode(cid) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """cell id → (res, x, y)."""
    cid = np.asarray(cid, dtype=np.int64)
    res = cid >> np.int64(57)
    x = (cid >> np.int64(28)) & np.int64((1 << 29) - 1)
    y = cid & np.int64((1 << 28) - 1)
    return res, x, y


def cell_parent(cid, parent_res: int) -> np.ndarray:
    res, x, y = cell_decode(cid)
    shift = (res - parent_res).astype(np.int64)
    if np.any(shift < 0):
        raise ValueError("parent_res coarser than cell res required")
    return cell_id_from_xy(x >> shift, y >> shift, parent_res)


def cell_kring(cid: int, k: int) -> np.ndarray:
    """All cell ids within Chebyshev distance k (the (2k+1)² block,
    clamped at grid edges, wrapped in longitude)."""
    res, x, y = cell_decode(np.asarray([cid]))
    r = int(res[0])
    n = 1 << r
    cx, cy = int(x[0]), int(y[0])
    dx = np.arange(-k, k + 1)
    dy = np.arange(-k, k + 1)
    gx, gy = np.meshgrid(dx, dy)
    xs = (cx + gx.reshape(-1)) % n  # wrap antimeridian
    ys = cy + gy.reshape(-1)
    keep = (ys >= 0) & (ys < n)
    return np.unique(cell_id_from_xy(xs[keep], ys[keep], r))


def cell_bounds(cid) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """cell id → (lon_min, lat_min, lon_max, lat_max)."""
    res, x, y = cell_decode(cid)
    n = (np.int64(1) << res).astype(np.float64)
    lon_min = x / n * 360.0 - 180.0
    lon_max = (x + 1) / n * 360.0 - 180.0
    lat_max = 90.0 - y / n * 180.0
    lat_min = 90.0 - (y + 1) / n * 180.0
    return lon_min, lat_min, lon_max, lat_max


def s2_encode(lon, lat, res: int) -> np.ndarray:
    """(lon, lat) → Hilbert position at resolution ``res`` — a single
    spatially-contiguous sort/range-partition key."""
    x, y = _grid_xy(lon, lat, res)
    return hilbert_xy2d(res, x, y) if res > 0 else np.zeros_like(x)


def cells_cover_bbox(
    lon_min: float, lat_min: float, lon_max: float, lat_max: float, res: int
) -> np.ndarray:
    """All cell ids at ``res`` intersecting a lon/lat bbox."""
    n = 1 << res
    x0 = int(np.clip(np.floor((lon_min + 180.0) / 360.0 * n), 0, n - 1))
    x1 = int(np.clip(np.floor((lon_max + 180.0) / 360.0 * n), 0, n - 1))
    y0 = int(np.clip(np.floor((90.0 - lat_max) / 180.0 * n), 0, n - 1))
    y1 = int(np.clip(np.floor((90.0 - lat_min) / 180.0 * n), 0, n - 1))
    xs = np.arange(x0, x1 + 1, dtype=np.int64)
    ys = np.arange(y0, y1 + 1, dtype=np.int64)
    gx, gy = np.meshgrid(xs, ys)
    return cell_id_from_xy(gx.reshape(-1), gy.reshape(-1), res)


def cells_cover_polygon(rings: list[np.ndarray], res: int) -> np.ndarray:
    """Cell ids at ``res`` whose cells may intersect the polygon: bbox
    cover refined by a ring test on each cell's corners/centers plus a
    polygon-vertex-in-cell test (a superset of the exact cover — safe
    for a prefilter; the exact PIP phase removes false positives)."""
    from gdal_spark.kernels.pip import points_in_polygon

    ext = np.asarray(rings[0], dtype=np.float64)
    cand = cells_cover_bbox(
        ext[:, 0].min(), ext[:, 1].min(), ext[:, 0].max(), ext[:, 1].max(), res
    )
    if cand.size <= 4:
        return cand
    lon_min, lat_min, lon_max, lat_max = cell_bounds(cand)
    # Keep a cell if any corner/center is inside the polygon, or any
    # polygon vertex falls inside the cell, or a polygon edge could
    # cross it (approximated by edge-bbox overlap) — superset cover.
    cx = (lon_min + lon_max) * 0.5
    cy = (lat_min + lat_max) * 0.5
    keep = np.zeros(cand.shape, dtype=bool)
    for px, py in (
        (cx, cy),
        (lon_min, lat_min),
        (lon_min, lat_max),
        (lon_max, lat_min),
        (lon_max, lat_max),
    ):
        keep |= points_in_polygon(px, py, rings, include_boundary=True)
    # polygon edge bbox overlap per cell (vectorized over edges)
    ex0 = np.minimum(ext[:-1, 0], ext[1:, 0])
    ex1 = np.maximum(ext[:-1, 0], ext[1:, 0])
    ey0 = np.minimum(ext[:-1, 1], ext[1:, 1])
    ey1 = np.maximum(ext[:-1, 1], ext[1:, 1])
    for i in np.nonzero(~keep)[0]:
        if np.any(
            (ex0 <= lon_max[i])
            & (ex1 >= lon_min[i])
            & (ey0 <= lat_max[i])
            & (ey1 >= lat_min[i])
        ):
            keep[i] = True
    return cand[keep]
