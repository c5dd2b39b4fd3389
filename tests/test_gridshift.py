"""NTv2 grid-shift kernel: binary round-trip, conventions, selection.

Synthetic grids with dyadic-exact values make every check tolerance
zero; q798 is the oracle-side twin over the documents dim."""

import numpy as np
import pytest

from gdal_spark.kernels.gridshift import (
    SubGrid,
    parse_ntv2,
    shift_points,
    write_ntv2,
)


def _grid(name="GRID0", s_lat=0.0, n_lat=36000.0, e_long=-36000.0,
          w_long=0.0, inc=3600.0, scale=1):
    nrows = int(round((n_lat - s_lat) / inc)) + 1
    ncols = int(round((w_long - e_long) / inc)) + 1
    iy, ix = np.mgrid[0:nrows, 0:ncols]
    return SubGrid(
        name, s_lat, n_lat, e_long, w_long, inc, inc,
        ((iy * 7 + ix * 3) % 16 * scale).astype(np.float32),
        ((iy * 5 + ix * 11) % 16 * scale).astype(np.float32),
    )


def test_roundtrip():
    g = _grid()
    out = parse_ntv2(write_ntv2([g]))
    assert len(out) == 1
    p = out[0]
    assert (p.s_lat, p.n_lat, p.e_long, p.w_long) == (
        g.s_lat, g.n_lat, g.e_long, g.w_long)
    assert np.array_equal(p.lat_shift, g.lat_shift)
    assert np.array_equal(p.lon_shift, g.lon_shift)


def test_garbage_rejected():
    with pytest.raises(ValueError):
        parse_ntv2(b"\x00" * 200)


def test_bilinear_exact_at_grid_nodes_and_quarters():
    grids = parse_ntv2(write_ntv2([_grid()]))
    # grid node (iy=2, ix=3): lonw = e_long + 3*inc = -36000+10800
    # => lon_east = 7.0 deg; lat 2.0 deg
    dlat, dlon = shift_points(grids, np.array([7.0]), np.array([2.0]))
    assert dlat[0] == (2 * 7 + 3 * 3) % 16
    assert dlon[0] == -((2 * 5 + 3 * 11) % 16)  # west-pos negated
    # quarter-cell point: exact dyadic bilinear
    dlat, _ = shift_points(grids, np.array([7.0]), np.array([2.25]))
    v0 = (2 * 7 + 3 * 3) % 16
    v1 = (3 * 7 + 3 * 3) % 16
    assert dlat[0] == 0.75 * v0 + 0.25 * v1


def test_outside_is_nan():
    grids = parse_ntv2(write_ntv2([_grid()]))
    dlat, dlon = shift_points(grids, np.array([-5.0]), np.array([2.0]))
    assert np.isnan(dlat[0]) and np.isnan(dlon[0])


def test_densest_subgrid_wins():
    coarse = _grid("COARSE")
    fine = _grid("FINE", s_lat=0.0, n_lat=7200.0, e_long=-7200.0,
                 w_long=0.0, inc=1800.0, scale=2)
    grids = parse_ntv2(write_ntv2([coarse, fine]))
    # (lon 1 deg, lat 1 deg) lies in both; the half-degree grid wins
    dlat, _ = shift_points(grids, np.array([1.0]), np.array([1.0]))
    # fine grid: ry = 3600/1800 = 2, rx = (-3600+7200)/1800 = 2
    assert dlat[0] == (2 * 7 + 2 * 3) % 16 * 2
    # a point only the coarse grid covers
    dlat, _ = shift_points(grids, np.array([8.0]), np.array([8.0]))
    assert dlat[0] == (8 * 7 + 2 * 3) % 16


def test_densest_by_cell_area_not_lat_inc():
    # A has the finer lat_inc but the larger cell (1800" x 7200"); B's
    # 3600" x 1800" cell is half the area, so B must win
    a = SubGrid("A", 0.0, 7200.0, -14400.0, 0.0, 1800.0, 7200.0,
                np.full((5, 3), 1.0, np.float32), np.zeros((5, 3), np.float32))
    b = SubGrid("B", 0.0, 7200.0, -14400.0, 0.0, 3600.0, 1800.0,
                np.full((3, 9), 2.0, np.float32), np.zeros((3, 9), np.float32))
    for order in ([a, b], [b, a]):
        grids = parse_ntv2(write_ntv2(order))
        dlat, _ = shift_points(grids, np.array([1.0]), np.array([1.0]))
        assert dlat[0] == 2.0


@pytest.mark.parametrize("shape", [(1, 11), (11, 1)])
def test_degenerate_subgrid_rejected(shape):
    # one row (n_lat == s_lat) or one column (w_long == e_long): no
    # 2x2 cell to interpolate in, so the parse must fail loudly
    nrows, ncols = shape
    g = SubGrid("THIN", 0.0, (nrows - 1) * 3600.0, -(ncols - 1) * 3600.0,
                0.0, 3600.0, 3600.0, np.ones(shape, np.float32),
                np.ones(shape, np.float32))
    with pytest.raises(ValueError, match="2x2"):
        parse_ntv2(write_ntv2([g]))


def test_count_mismatch_rejected():
    # the header's extent implies 11x11 nodes; GS_COUNT says 10x11
    g = _grid()
    g.lat_shift, g.lon_shift = g.lat_shift[:10], g.lon_shift[:10]
    with pytest.raises(ValueError, match="GS_COUNT"):
        parse_ntv2(write_ntv2([g]))


def test_spark_udf_surface(spark):
    from gdal_spark.functions.st import gridshift_columns

    blob = write_ntv2([_grid()])
    fn = gridshift_columns(blob)
    df = spark.createDataFrame(
        [(7.0, 2.0), (7.0, 2.25), (-5.0, 2.0)], "lon double, lat double")
    rows = df.select(fn("lon", "lat").alias("s")).collect()
    assert rows[0]["s"]["dlat_sec"] == (2 * 7 + 3 * 3) % 16
    v0, v1 = (2 * 7 + 3 * 3) % 16, (3 * 7 + 3 * 3) % 16
    assert rows[1]["s"]["dlat_sec"] == 0.75 * v0 + 0.25 * v1
    assert rows[2]["s"]["dlat_sec"] is None or np.isnan(
        rows[2]["s"]["dlat_sec"])


def test_inverse_roundtrip():
    from gdal_spark.kernels.gridshift import shift_points_inverse

    grids = parse_ntv2(write_ntv2([_grid()]))
    lon = np.array([1.25, 4.5, 7.75, 3.0])
    lat = np.array([2.0, 6.25, 8.5, 1.75])
    dlat, dlon = shift_points(grids, lon, lat)
    lon_f = lon + dlon / 3600.0
    lat_f = lat + dlat / 3600.0
    lon_b, lat_b = shift_points_inverse(grids, lon_f, lat_f)
    assert np.max(np.abs(lon_b - lon)) < 1e-9
    assert np.max(np.abs(lat_b - lat)) < 1e-9


def _shift_points_loop(grids, lon_deg, lat_deg):
    """The per-point rule shift_points vectorizes: pick the densest
    containing subgrid (first listed on a tie), then the scalar
    bilinear."""
    n = len(lon_deg)
    dlat = np.full(n, np.nan)
    dlon = np.full(n, np.nan)
    for i in range(n):
        lat_s = float(lat_deg[i]) * 3600.0
        lonw_s = -float(lon_deg[i]) * 3600.0
        g = None
        for c in grids:
            if (c.s_lat <= lat_s <= c.n_lat and c.e_long <= lonw_s <= c.w_long
                    and (g is None or c.lat_inc * c.long_inc < g.lat_inc * g.long_inc)):
                g = c
        if g is None:
            continue
        ry = (lat_s - g.s_lat) / g.lat_inc
        rx = (lonw_s - g.e_long) / g.long_inc
        iy = min(int(ry), g.nrows - 2)
        ix = min(int(rx), g.ncols - 2)
        fy, fx = ry - iy, rx - ix
        v = g.lat_shift
        dlat[i] = ((1 - fy) * ((1 - fx) * v[iy, ix] + fx * v[iy, ix + 1])
                   + fy * ((1 - fx) * v[iy + 1, ix] + fx * v[iy + 1, ix + 1]))
        w = g.lon_shift
        dl = ((1 - fy) * ((1 - fx) * w[iy, ix] + fx * w[iy, ix + 1])
              + fy * ((1 - fx) * w[iy + 1, ix] + fx * w[iy + 1, ix + 1]))
        dlon[i] = -dl
    return dlat, dlon


def test_vectorized_bitwise_equals_loop():
    """Random float32 shifts (not dyadic) over nested subgrids, a tie
    between equal-area subgrids and a 900" x 400" grid whose area ties
    none: random points, every node, cell midpoints, subgrid edges and
    points outside every subgrid (NaN coordinates included)."""
    rng = np.random.default_rng(11)

    def grid(name, s_lat, n_lat, e_long, w_long, lat_inc, long_inc):
        shape = (int(round((n_lat - s_lat) / lat_inc)) + 1,
                 int(round((w_long - e_long) / long_inc)) + 1)
        return SubGrid(name, s_lat, n_lat, e_long, w_long, lat_inc, long_inc,
                       rng.normal(0, 3, shape).astype(np.float32),
                       rng.normal(0, 3, shape).astype(np.float32))

    grids = parse_ntv2(write_ntv2([
        grid("PARENT", 0.0, 36000.0, -36000.0, 0.0, 3600.0, 3600.0),
        grid("CHILD", 7200.0, 18000.0, -18000.0, -7200.0, 1200.0, 1200.0),
        grid("GRANDC", 10800.0, 14400.0, -14400.0, -10800.0, 300.0, 300.0),
        grid("TIE", 9000.0, 21600.0, -21600.0, -9000.0, 1800.0, 800.0),
        grid("OVERLAP", 3600.0, 32400.0, -10800.0, -3600.0, 900.0, 400.0),
    ]))
    edges_lat, edges_lon = [], []
    for g in grids:
        ys = g.s_lat + g.lat_inc * np.arange(g.nrows)
        xs = g.e_long + g.long_inc * np.arange(g.ncols)
        ys = np.concatenate([ys, ys[:-1] + g.lat_inc / 2])
        xs = np.concatenate([xs, xs[:-1] + g.long_inc / 2])
        yy, xx = np.meshgrid(ys, xs)
        edges_lat.append(yy.ravel() / 3600.0)
        edges_lon.append(-xx.ravel() / 3600.0)
    lat = np.concatenate([rng.uniform(-1, 11, 20_000), *edges_lat,
                          [np.nan, 2.0, np.nan, 10.0, 10.0 + 1e-12, -1e-12]])
    lon = np.concatenate([rng.uniform(-1, 11, 20_000), *edges_lon,
                          [2.0, np.nan, np.nan, 10.0, 5.0, 5.0]])
    got = shift_points(grids, lon, lat)
    want = _shift_points_loop(grids, lon, lat)
    for a, b in zip(got, want):
        assert a.tobytes() == b.tobytes()
    inside = ~np.isnan(want[0])
    assert 0 < inside.sum() < len(lat)
