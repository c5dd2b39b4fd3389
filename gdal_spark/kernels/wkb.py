"""Minimal WKB codec (pure NumPy/stdlib) for the geometry column.

The reference's own columnar fast path carries geometry as WKB binary
in Arrow batches (ogr/ogrsf_frmts/generic/ogrlayerarrow.cpp), and has
WKB-native helpers that work without full deserialization
(OGRWKBGetBoundingBox ogr/ogr_wkb.h:30, OGRWKBIntersectsPessimistic
ogr/ogr_wkb.h:36).  This module provides the same: encode/decode for
Point / LineString / Polygon / MultiPoint / MultiLineString /
MultiPolygon (2-D, little-endian; ISO Z/M input decodes to its x/y
projection), batched bbox extraction, and WKT parsing for fixtures.
"""

from __future__ import annotations

import re
import struct

import numpy as np

POINT, LINESTRING, POLYGON = 1, 2, 3
MULTIPOINT, MULTILINESTRING, MULTIPOLYGON = 4, 5, 6
GEOMETRYCOLLECTION = 7

__all__ = [
    "point_wkb",
    "points_wkb",
    "points_from_wkb",
    "linestring_wkb",
    "polygon_wkb",
    "multipolygon_wkb",
    "parse_wkb",
    "wkb_bbox",
    "wkt_to_wkb",
    "wkb_to_wkt",
    "polygon_rings",
]


def point_wkb(x: float, y: float) -> bytes:
    return struct.pack("<BIdd", 1, POINT, x, y)


def points_wkb(xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
    """Vectorized encode of N points → object array of 21-byte WKB."""
    xs = np.asarray(xs, dtype="<f8")
    ys = np.asarray(ys, dtype="<f8")
    n = xs.size
    buf = np.zeros((n, 21), dtype=np.uint8)
    buf[:, 0] = 1
    buf[:, 1] = POINT  # little-endian uint32 type, low byte only
    buf[:, 5:13] = xs.view(np.uint8).reshape(n, 8)
    buf[:, 13:21] = ys.view(np.uint8).reshape(n, 8)
    return np.array([b.tobytes() for b in buf], dtype=object)


def points_from_wkb(wkbs) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized decode of N fixed-layout point WKBs → (xs, ys)."""
    arr = np.frombuffer(b"".join(wkbs), dtype=np.uint8).reshape(-1, 21)
    xs = arr[:, 5:13].copy().view("<f8").reshape(-1)
    ys = arr[:, 13:21].copy().view("<f8").reshape(-1)
    return xs, ys


def linestring_wkb(coords: np.ndarray) -> bytes:
    coords = np.asarray(coords, dtype="<f8")
    return (
        struct.pack("<BII", 1, LINESTRING, coords.shape[0]) + coords.tobytes()
    )


def polygon_wkb(rings: list[np.ndarray]) -> bytes:
    out = [struct.pack("<BII", 1, POLYGON, len(rings))]
    for r in rings:
        r = np.asarray(r, dtype="<f8")
        if not np.array_equal(r[0], r[-1]):
            r = np.vstack([r, r[:1]])
        out.append(struct.pack("<I", r.shape[0]))
        out.append(r.tobytes())
    return b"".join(out)


def multipolygon_wkb(polys: list[list[np.ndarray]]) -> bytes:
    out = [struct.pack("<BII", 1, MULTIPOLYGON, len(polys))]
    for rings in polys:
        out.append(polygon_wkb(rings))
    return b"".join(out)


def _read_uint32(buf: memoryview, off: int, little: bool) -> int:
    return struct.unpack_from("<I" if little else ">I", buf, off)[0]


def parse_wkb(wkb: bytes):
    """→ (geom_type, parts) where parts is:
    POINT → (1,2) array; LINESTRING → (N,2); POLYGON → [rings];
    MULTI* / collection → list of (type, parts) children."""
    geom_type, parts, _ = _parse(memoryview(wkb), 0)
    return geom_type, parts


def _xy(buf: memoryview, fmt: str, n: int, dim: int, off: int) -> np.ndarray:
    """n vertices of ``dim`` doubles each at ``off`` → (n, 2) x/y."""
    c = np.frombuffer(buf, dtype=fmt + "f8", count=dim * n, offset=off).reshape(n, dim)
    return (c if dim == 2 else c[:, :2]).copy()


def _parse(buf: memoryview, off: int):
    little = buf[off] == 1
    fmt = "<" if little else ">"
    code = _read_uint32(buf, off + 1, little)
    # ISO Z / M / ZM variants (code + 1000 / 2000 / 3000) carry 3 or 4
    # doubles per vertex; read the full stride, keep x/y
    gtype, flavor = code % 1000, code // 1000
    if flavor > 3:
        raise ValueError(f"unsupported WKB geometry type {code}")
    dim = 2 + bin(flavor).count("1")
    off += 5
    if gtype == POINT:
        return POINT, _xy(buf, fmt, 1, dim, off), off + 8 * dim
    if gtype == LINESTRING:
        n = _read_uint32(buf, off, little)
        return LINESTRING, _xy(buf, fmt, n, dim, off + 4), off + 4 + 8 * dim * n
    if gtype == POLYGON:
        nr = _read_uint32(buf, off, little)
        off += 4
        rings = []
        for _ in range(nr):
            n = _read_uint32(buf, off, little)
            rings.append(_xy(buf, fmt, n, dim, off + 4))
            off += 4 + 8 * dim * n
        return POLYGON, rings, off
    if gtype in (MULTIPOINT, MULTILINESTRING, MULTIPOLYGON, GEOMETRYCOLLECTION):
        n = _read_uint32(buf, off, little)
        off += 4
        children = []
        for _ in range(n):
            ct, cp, off = _parse(buf, off)
            children.append((ct, cp))
        return gtype, children, off
    raise ValueError(f"unsupported WKB geometry type {gtype}")


def polygon_rings(wkb: bytes) -> list[list[np.ndarray]]:
    """Normalize a (Multi)Polygon WKB to a list of polygons, each a
    list of rings (exterior first)."""
    gtype, parts = parse_wkb(wkb)
    if gtype == POLYGON:
        return [parts]
    if gtype == MULTIPOLYGON:
        return [p for t, p in parts if t == POLYGON]
    raise ValueError("not a polygon geometry")


def wkb_bbox(wkb: bytes) -> tuple[float, float, float, float]:
    """Bounding box straight off the WKB (role of OGRWKBGetBoundingBox,
    ogr/ogr_wkb.h:30)."""
    gtype, parts = parse_wkb(wkb)
    coords = _collect_coords(gtype, parts)
    allc = np.vstack(coords)
    return (
        float(allc[:, 0].min()),
        float(allc[:, 1].min()),
        float(allc[:, 0].max()),
        float(allc[:, 1].max()),
    )


def _collect_coords(gtype, parts):
    if gtype == POINT or gtype == LINESTRING:
        return [parts]
    if gtype == POLYGON:
        return parts
    out = []
    for t, p in parts:
        out.extend(_collect_coords(t, p))
    return out


_WKT_NUM = r"[-+0-9.eE]+"


def wkt_to_wkb(wkt: str) -> bytes:
    """Parse the WKT subset used by fixtures (POINT/LINESTRING/POLYGON/
    MULTIPOLYGON)."""
    wkt = wkt.strip()
    head = wkt.split("(", 1)[0].strip().upper()

    def coords_of(group: str) -> np.ndarray:
        pts = re.findall(rf"({_WKT_NUM})\s+({_WKT_NUM})", group)
        return np.array([[float(a), float(b)] for a, b in pts])

    if head == "POINT":
        c = coords_of(wkt)
        return point_wkb(c[0, 0], c[0, 1])
    if head == "LINESTRING":
        return linestring_wkb(coords_of(wkt))
    if head == "POLYGON":
        rings = [coords_of(g) for g in re.findall(r"\(([^()]+)\)", wkt)]
        return polygon_wkb(rings)
    if head == "MULTIPOLYGON":
        polys = []
        for poly_txt in re.findall(r"\(\s*(\([^)]+\)(?:\s*,\s*\([^)]+\))*)\s*\)", wkt):
            rings = [coords_of(g) for g in re.findall(r"\(([^()]+)\)", poly_txt)]
            polys.append(rings)
        return multipolygon_wkb(polys)
    raise ValueError(f"unsupported WKT: {head}")


def _fmt_coords(arr: np.ndarray) -> str:
    """One C-level sprintf pass per ring: ``str.__mod__`` iterates the
    tuple in C, so this is ~1 Python call per RING instead of 2 format
    calls per VERTEX — byte-identical to the former per-pair
    f"{x:g} {y:g}" (both go through PyOS_double_to_string('g', 6))."""
    n = len(arr)
    return (",".join(["%g %g"] * n)) % tuple(np.asarray(arr).reshape(-1).tolist())


def fmt_coords_batch(coords: np.ndarray) -> list[str]:
    """Format a (G, N, 2) same-shape coord batch as G WKT coord lists
    in ONE ``%`` call (the whole batch is a single C sprintf loop)."""
    g, n = coords.shape[0], coords.shape[1]
    ring_fmt = ",".join(["%g %g"] * n)
    big = ("\x00".join([ring_fmt] * g)) % tuple(coords.reshape(-1).tolist())
    return big.split("\x00")


def wkb_to_wkt(wkb: bytes) -> str:
    """2-D WKT of a 2-D WKB geometry.  Z/M input raises rather than
    silently dropping its extra ordinates."""
    if _read_uint32(memoryview(wkb), 1, wkb[0] == 1) >= 1000:
        raise ValueError("wkb_to_wkt writes 2-D WKT only; got a Z/M geometry")
    gtype, parts = parse_wkb(wkb)
    if gtype == POINT:
        return f"POINT ({_fmt_coords(parts)})"
    if gtype == LINESTRING:
        return f"LINESTRING ({_fmt_coords(parts)})"
    if gtype == POLYGON:
        return "POLYGON (" + ",".join(f"({_fmt_coords(r)})" for r in parts) + ")"
    if gtype == MULTIPOLYGON:
        inner = ",".join(
            "(" + ",".join(f"({_fmt_coords(r)})" for r in rings) + ")"
            for t, rings in parts
        )
        return f"MULTIPOLYGON ({inner})"
    raise ValueError(f"unsupported type {gtype}")


def batch_single_ring_groups(blobs):
    """Vectorized batch parse for the dominant layout: little-endian
    single-ring POLYGON blobs.  Rows are grouped by byte length; a
    group whose header fields all match the fast layout (byte order 1,
    type 3, nrings 1, consistent npts) parses in ONE reshape+view —
    no per-row Python.  Yields (index_array, coords) with coords of
    shape (g, npts, 2), or (index_array, None) for rows needing the
    generic per-row parser (multi-ring, multi-part, big-endian).

    This is the batch strategy the reference's Arrow path uses for
    fixed-stride geometry columns (ogr/ogrlayerarrow.cpp) — offsets are
    computable without visiting rows."""
    from collections import defaultdict

    by_len: dict[int, list[int]] = defaultdict(list)
    for i, b in enumerate(blobs):
        by_len[len(b) if b is not None else -1].append(i)
    for L, idxs in by_len.items():
        idx = np.asarray(idxs, dtype=np.int64)
        if L < 13 + 16 or (L - 13) % 16 != 0:
            yield idx, None
            continue
        npts = (L - 13) // 16
        buf = np.frombuffer(
            b"".join(blobs[i] for i in idxs), dtype=np.uint8
        ).reshape(len(idxs), L)
        hdr_ok = (
            (buf[:, 0] == 1).all()
            and (buf[:, 1:9].copy().view("<u4") == [POLYGON, 1]).all()
            and (buf[:, 9:13].copy().view("<u4") == npts).all()
        )
        if not hdr_ok:
            yield idx, None
            continue
        coords = buf[:, 13:].copy().view("<f8").reshape(len(idxs), npts, 2)
        yield idx, coords
