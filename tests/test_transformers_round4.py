"""Independent anchors for the round-4 transformer family (q197-q200,
q203) — properties the oracles cannot express because they replay the
same construction: corner interpolation, least-squares optimality,
denominator safety."""

import numpy as np

from parity_queries import (
    _HOM_DST,
    _HOM_SRC,
    _PHS_GCPS,
    _PHS_TX,
    _PHS_TY,
    _PHS_WX,
    _PHS_WY,
    _RPC_LINE_DEN,
    _RPC_MONOS,
    _RPC_SAMP_DEN,
    _hom_matrix,
)


def test_homography_maps_every_corner_exactly():
    H = _hom_matrix()
    for (sx, sy), (dx, dy) in zip(_HOM_SRC, _HOM_DST):
        u = H[0][0] * sx + H[0][1] * sy + H[0][2]
        v = H[1][0] * sx + H[1][1] * sy + H[1][2]
        w = H[2][0] * sx + H[2][1] * sy + H[2][2]
        assert w != 0
        # integer-exact construction: u = dx*w and v = dy*w EXACTLY
        assert u == dx * w and v == dy * w


def test_homography_entries_stay_exact_in_double_range():
    H = _hom_matrix()
    m = max(abs(v) for row in H for v in row)
    # applied products H*coord (coord <= 15) must stay under 2^53
    assert m * 15 * 3 < 2**53


def test_rpc_denominators_positive_over_fixture_domain():
    def mono_val(m, ln, pn, hn):
        return eval(m, {"ln": ln, "pn": pn, "hn": hn})  # monomials only

    for ln in np.linspace(-1, 1, 9):
        for pn in np.linspace(-1, 1, 9):
            for hn in np.linspace(-1, 1, 5):
                for den in (_RPC_LINE_DEN, _RPC_SAMP_DEN):
                    v = sum(
                        (c / 16.0) * (1.0 if m == "1" else mono_val(m, ln, pn, hn))
                        for c, m in zip(den, _RPC_MONOS) if c != 0
                    )
                    assert v > 0.1, (ln, pn, hn, v)


def test_crs_affine_fit_is_least_squares_optimal():
    # the Cramer solution must beat the generating affine (the noise
    # makes exact interpolation impossible; LSQ must not be worse)
    i = np.arange(12)
    px = (i * 17) % 97
    py = (i * 29) % 89
    gx = 3 * px - 2 * py + 40 + (i % 3 - 1)
    A = np.column_stack([np.ones(12), px, py]).astype(float)
    coef, *_ = np.linalg.lstsq(A, gx.astype(float), rcond=None)
    res_lsq = np.sum((A @ coef - gx) ** 2)
    res_gen = np.sum((40 + 3 * px - 2 * py - gx) ** 2)
    assert res_lsq <= res_gen + 1e-9
    # and the exact-integer Cramer path agrees with LAPACK to float tol
    n = 12
    sx, sy = px.sum(), py.sum()
    sxx, sxy, syy = (px * px).sum(), (px * py).sum(), (py * py).sum()
    tx0, tx1, tx2 = gx.sum(), (px * gx).sum(), (py * gx).sum()

    def det3(m):
        return (m[0][0] * (m[1][1] * m[2][2] - m[1][2] * m[2][1])
                - m[0][1] * (m[1][0] * m[2][2] - m[1][2] * m[2][0])
                + m[0][2] * (m[1][0] * m[2][1] - m[1][1] * m[2][0]))

    D = det3([[n, sx, sy], [sx, sxx, sxy], [sy, sxy, syy]])
    a0 = det3([[tx0, sx, sy], [tx1, sxx, sxy], [tx2, sxy, syy]]) / D
    a1 = det3([[n, tx0, sy], [sx, tx1, sxy], [sy, tx2, syy]]) / D
    a2 = det3([[n, sx, tx0], [sx, sxx, tx1], [sy, sxy, tx2]]) / D
    assert np.allclose([a0, a1, a2], coef, atol=1e-9)


def test_polyharmonic_spline_interpolates_every_gcp():
    n = len(_PHS_GCPS)
    for w, tgt in ((_PHS_WX, _PHS_TX), (_PHS_WY, _PHS_TY)):
        for i, (xi, yi) in enumerate(_PHS_GCPS):
            acc = w[n] + w[n + 1] * xi + w[n + 2] * yi
            for j, (xj, yj) in enumerate(_PHS_GCPS):
                r2 = float((xi - xj) ** 2 + (yi - yj) ** 2)
                acc += w[j] * r2 * np.sqrt(r2)
            assert abs(acc - tgt[i]) < 1e-7, (i, acc, tgt[i])
