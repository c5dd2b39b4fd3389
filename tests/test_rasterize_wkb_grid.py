"""Block-wise feature burn vs the whole-raster burn: assembling
``rasterize_wkb_grid``'s blocks reproduces one global ``burn_polygon``
pass over the same features in the same order, for REPLACE
(last writer wins) and ADD, on overlapping rects that cross block
borders."""

import numpy as np
import pytest

from gdal_spark.kernels import wkb as W
from gdal_spark.kernels.burn import burn_polygon
from gdal_spark.operators.rasterize import rasterize_wkb_grid
from gdal_spark.session import local_df

IDENTITY_GT = (0.0, 1.0, 0.0, 0.0, 0.0, 1.0)


def _overlapping_rects(n=40):
    rects = []
    for k in range(n):
        x0 = (k * 7) % 40
        y0 = (k * 11) % 40
        w = 6 + k % 9
        h = 5 + k % 7
        rects.append(
            np.array(
                [[x0, y0], [x0 + w, y0], [x0 + w, y0 + h], [x0, y0 + h], [x0, y0]],
                dtype=np.float64,
            )
        )
    return rects


@pytest.mark.parametrize(
    "merge_add, width, height",
    [(False, 64, 64), (True, 64, 64), (False, 50, 45)],
    ids=["replace", "add", "replace-ragged"],
)
def test_blocks_equal_global_burn(spark, merge_add, width, height):
    rects = _overlapping_rects()
    feats = local_df(
        spark,
        [(float(k + 1), W.polygon_wkb([r])) for k, r in enumerate(rects)],
        "burn double, geom binary",
    )
    ts = 32
    tiles = rasterize_wkb_grid(
        feats, IDENTITY_GT, width, height, tile_size=ts, merge_add=merge_add
    ).collect()

    want = np.zeros((height, width), dtype=np.float64)
    for k, r in enumerate(rects):
        burn_polygon(want, [r], float(k + 1), merge_add=merge_add)

    got = np.zeros_like(want)
    for t in tiles:
        tx, ty = t["tx"], t["ty"]
        nx, ny = min(ts, width - tx * ts), min(ts, height - ty * ts)
        got[ty * ts:ty * ts + ny, tx * ts:tx * ts + nx] = np.frombuffer(
            t["data"], dtype=t["dtype"]
        ).reshape(ny, nx)
    assert len(tiles) == 4
    assert any(r[0, 0] < ts < r[1, 0] for r in rects)  # cross the x border
    assert any(r[0, 1] < ts < r[2, 1] for r in rects)  # cross the y border
    np.testing.assert_array_equal(got, want)
