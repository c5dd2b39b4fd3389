"""Each NumPy kernel timed outside Spark, on inputs shaped like the
workloads' inputs.  Every rate is work items over the median time of
one call; calls repeat for at least ``budget_s`` and at least 3 times."""

from __future__ import annotations

import time
from statistics import median

import numpy as np
import pandas as pd

BATCH = 65_536  # one Arrow batch (session.ARROW_BATCH_ROWS)
TILE = 256


def _rate(items: float, fn, budget_s: float) -> float:
    times = []
    t_end = time.perf_counter() + budget_s
    while time.perf_counter() < t_end or len(times) < 3:
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return items / median(times)


def star_polygons(rng, n: int, size: int):
    """``n`` irregular star-shaped polygons in pixel space, burn values
    1..n (later ones overwrite earlier ones under REPLACE)."""
    out = []
    for i in range(n):
        cx, cy = rng.uniform(0, size, 2)
        k = int(rng.integers(5, 12))
        ang = np.sort(rng.uniform(0, 2 * np.pi, k))
        rad = rng.uniform(0.03, 0.15) * size * rng.uniform(0.4, 1.0, k)
        ring = np.c_[cx + rad * np.cos(ang), cy + rad * np.sin(ang)]
        out.append((float(i + 1), np.vstack([ring, ring[:1]])))
    return out


def run(seed: int, tracer, budget_s: float = 0.25) -> dict:
    from gdal_spark.functions.st import st_intersects_point
    from gdal_spark.kernels import burn as B
    from gdal_spark.kernels import ccl, cells, pip
    from gdal_spark.kernels import wkb as W
    from gdal_spark.plans.pipeline import metro_zones

    rng = np.random.default_rng(seed)
    zones = metro_zones()
    zone_rings = [W.polygon_rings(blob)[0] for _, blob in zones]
    ring = zone_rings[0][0]
    # points jittered around the metro centre, as geocode makes them
    cx, cy = ring[:-1].mean(axis=0)
    px = cx + rng.uniform(-0.5, 0.5, BATCH)
    py = cy + rng.uniform(-0.5, 0.5, BATCH)
    polys = star_polygons(rng, n=64, size=TILE)
    blobs = [W.polygon_wkb([r]) for _, r in polys]
    tile = np.zeros((TILE, TILE))
    for v, r in polys:
        B.burn_polygon(tile, [r], v)
    burned_px = float(np.count_nonzero(tile))

    out = {}
    with tracer.span("kernels.pip.points_in_polygon"):
        out["kernels.pip.points_per_s"] = _rate(
            BATCH, lambda: pip.points_in_polygon(px, py, zone_rings[0]), budget_s)
    lon, lat = pd.Series(px), pd.Series(py)
    wkb_col = pd.Series([zones[0][1]] * BATCH)
    with tracer.span("functions.st.st_intersects_point"):
        out["functions.st_intersects_point.rows_per_s"] = _rate(
            BATCH, lambda: st_intersects_point.func(wkb_col, lon, lat), budget_s)
    with tracer.span("kernels.wkb.polygon_rings"):
        out["kernels.wkb.rings_per_s"] = _rate(
            len(blobs), lambda: [W.polygon_rings(b) for b in blobs], budget_s)
    with tracer.span("kernels.cells.cells_cover_polygon"):
        out["kernels.cells.cover_per_s"] = _rate(
            len(zone_rings), lambda: [cells.cells_cover_polygon(r, 7) for r in zone_rings], budget_s)
    tx = rng.uniform(0, TILE, BATCH)
    ty = rng.uniform(0, TILE, BATCH)
    with tracer.span("kernels.burn.burn_points"):
        out["kernels.burn.points_per_s"] = _rate(
            BATCH, lambda: B.burn_points(np.zeros((TILE, TILE), np.int32), tx, ty, 1, merge_add=True),
            budget_s)

    def burn_all():
        a = np.zeros((TILE, TILE))
        for v, r in polys:
            B.burn_polygon(a, [r], v)

    with tracer.span("kernels.burn.burn_polygon"):
        out["kernels.burn.polygon_px_per_s"] = _rate(burned_px, burn_all, budget_s)
    with tracer.span("kernels.ccl.label_tile"):
        out["kernels.ccl.px_per_s"] = _rate(
            TILE * TILE, lambda: ccl.label_tile(tile, mask=tile != 0.0), budget_s)
    return out


METRICS = (
    ("kernels.pip.points_per_s", "points/s"),
    ("functions.st_intersects_point.rows_per_s", "rows/s"),
    ("kernels.wkb.rings_per_s", "rings/s"),
    ("kernels.cells.cover_per_s", "covers/s"),
    ("kernels.burn.points_per_s", "points/s"),
    ("kernels.burn.polygon_px_per_s", "px/s"),
    ("kernels.ccl.px_per_s", "px/s"),
)
