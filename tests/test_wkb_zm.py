"""ISO Z / M / ZM WKB through the 2-D codec: every vertex is read with
its full stride and decodes to its x/y projection, so bbox, ring and
PIP consumers see the right coordinates; ``wkb_to_wkt`` refuses Z/M
input instead of dropping dimensions."""

import struct

import numpy as np
import pytest

from gdal_spark.kernels import wkb as W
from gdal_spark.kernels.wkbext import linestring_zm_wkb, polygon_z_wkb

XY = np.array([[0.0, 0.0], [10.0, 0.0], [10.0, 10.0]])
SQUARE = np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]], dtype=np.float64)


def _with_extra(xy, n_extra):
    return np.column_stack([xy] + [np.full(len(xy), 5.0 + j) for j in range(n_extra)])


@pytest.mark.parametrize("flavor, n_extra", [(1, 1), (2, 1), (3, 2)], ids=["Z", "M", "ZM"])
def test_linestring_zm_parses_to_xy(flavor, n_extra):
    blob = linestring_zm_wkb(_with_extra(XY, n_extra), flavor=flavor)
    gtype, coords = W.parse_wkb(blob)
    assert gtype == W.LINESTRING
    np.testing.assert_array_equal(coords, XY)
    assert W.wkb_bbox(blob) == (0.0, 0.0, 10.0, 10.0)


def test_point_zm_parses_to_xy():
    blob = struct.pack("<BIdddd", 1, W.POINT + 3000, 3.0, 4.0, 5.0, 6.0)
    gtype, coords = W.parse_wkb(blob)
    assert gtype == W.POINT
    np.testing.assert_array_equal(coords, [[3.0, 4.0]])


def test_multipolygon_z_children_advance_by_stride():
    # two POLYGON Z children: the second is found only if the first
    # was skipped with the 3-double stride
    far = SQUARE + 100.0
    blob = (
        struct.pack("<BII", 1, W.MULTIPOLYGON + 1000, 2)
        + polygon_z_wkb([_with_extra(SQUARE, 1)])
        + polygon_z_wkb([_with_extra(far, 1)])
    )
    polys = W.polygon_rings(blob)
    assert len(polys) == 2
    np.testing.assert_array_equal(polys[0][0], SQUARE)
    np.testing.assert_array_equal(polys[1][0], far)
    assert W.wkb_bbox(blob) == (0.0, 0.0, 104.0, 104.0)


def test_wkb_to_wkt_rejects_zm():
    blob = polygon_z_wkb([_with_extra(SQUARE, 1)])
    with pytest.raises(ValueError, match="Z/M"):
        W.wkb_to_wkt(blob)
    assert W.wkb_to_wkt(W.polygon_wkb([SQUARE])) == "POLYGON ((0 0,4 0,4 4,0 4,0 0))"
