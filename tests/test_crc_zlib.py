"""q564's CRC-32 linear formula pinned against the REAL zlib on the
real testdata: the GF(2) decomposition crc = 0xFFFFFFFF ^
Z^n(0xFFFFFFFF) ^ XOR_i Z^(n-1-i)(T[b_i]) and the crc32_combine
identity F(m1||m2) = Z^(len2)(F(m1)) ^ F(m2) must reproduce
zlib.crc32 byte-for-byte on every document prefix the query hashes,
and the SQL oracle's per-bucket sums must equal direct zlib sums.
Reference semantics: RFC 1952 §8 (the reference repo consumes CRC32
via its /vsigzip/ stack, port/cpl_vsil_gzip.cpp)."""
import zlib

import duckdb
import pytest

from parity_queries import ORACLES, _Q564_AJ, _Q564_T1

SF = "/root/testdata/sf0.001"
POLY = 0xEDB88320


def _tstep(idx):
    c = idx
    for _ in range(8):
        c = (c >> 1) ^ (POLY if c & 1 else 0)
    return c


def _z(c, k=1):
    for _ in range(k):
        c = (c >> 8) ^ _tstep(c & 0xFF)
    return c


@pytest.fixture(scope="module")
def docs():
    con = duckdb.connect()
    return con.execute(
        f"SELECT doc_id, text FROM read_parquet('{SF}/documents.parquet')"
    ).df()


def test_basis_tables_are_what_the_query_inlines():
    assert _Q564_T1 == [_tstep(1 << k) for k in range(8)]
    for j in range(6):
        for b in range(32):
            assert _Q564_AJ[(j, b)] == _z(1 << b, 1 << j)


def test_linear_formula_matches_zlib(docs):
    for t in docs.text:
        data = t[:48].encode()
        n = len(data)
        f = _z(0xFFFFFFFF, n)
        for i, b in enumerate(data):
            f ^= _z(_tstep(b), n - 1 - i)
        assert f ^ 0xFFFFFFFF == zlib.crc32(data)


def test_combine_identity_matches_zlib(docs):
    for t in docs.text:
        data = t[:48].encode()
        n = len(data)
        h = n // 2

        def f0(d):
            f = 0
            for i, b in enumerate(d):
                f ^= _z(_tstep(b), len(d) - 1 - i)
            return f

        assert f0(data) == _z(f0(data[:h]), n - h) ^ f0(data[h:])
        # and the streaming form zlib itself exposes
        assert zlib.crc32(data) == zlib.crc32(data[h:],
                                              zlib.crc32(data[:h]))


def test_oracle_bucket_sums_match_zlib(docs):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF}/documents.parquet')")
    got = con.execute(ORACLES["q564_crc32_linear"]).df() \
        .set_index("bkt").sort_index()
    import collections
    exp = collections.defaultdict(lambda: [0, 0, 0])
    for did, t in zip(docs.doc_id, docs.text):
        c = zlib.crc32(t[:48].encode())
        e = exp[did % 16]
        e[0] += 1
        e[1] += c
        e[2] = max(e[2], c)
    for bkt, (nd, sc, mx) in exp.items():
        row = got.loc[bkt]
        assert row.n_docs == nd
        assert row.sum_crc32 == sc
        assert row.max_crc32 == mx
        assert row.combine_resid == 0
