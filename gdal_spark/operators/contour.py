"""Contour extraction: marching squares over the distributed tile
table.

Reference: ``gdal contour`` walks blocks with marching squares
(alg/contour.cpp + alg/marching_squares/*.h).  The distributed form is
the focal pattern: a contour cell's 4 corners are the 2×2 pixel block
whose top-left pixel the cell is named after, so each tile task needs
a 1-pixel halo (right/bottom) — the same boundary-strip exchange as
focal/slope.

Semantics (pinned for the oracle; degenerate-free when the level is
not an attainable z value): corner is "inside" iff z > level; case id
= 1·TL + 2·TR + 4·BR + 8·BL; edge crossings by linear interpolation;
saddles (5, 10) resolved by the cell-center average (the standard
midpoint decider, also what the reference's square walks into for
ambiguous cells).  Output per intersected cell: case id, segment
count, total in-cell polyline length.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gdal_spark.operators.focal import _assemble_padded, _emit_strips

CONTOUR_SCHEMA = T.StructType(
    [
        T.StructField("cx", T.LongType()),
        T.StructField("cy", T.LongType()),
        T.StructField("case_id", T.IntegerType()),
        T.StructField("n_seg", T.IntegerType()),
        T.StructField("seg_len", T.DoubleType()),
    ]
)


def contour_cells(
    tiles: DataFrame, level: float, tile_size: int, width: int, height: int
) -> DataFrame:
    """(cx, cy, case_id, n_seg, seg_len) for every cell the iso-line at
    ``level`` crosses.  Cells are (width-1) × (height-1)."""
    ntx = (width + tile_size - 1) // tile_size
    nty = (height + tile_size - 1) // tile_size
    ts = tile_size
    strips = _emit_strips(tiles, ts, 1, ntx, nty)

    def per_tile(key, pdf: pd.DataFrame) -> pd.DataFrame:
        tx, ty = int(key[0]), int(key[1])
        z = _assemble_padded(pdf, ts, 1)
        # owned cells: TL pixel local (0..ts-1); padded offset +1
        c = slice(1, 1 + ts)
        p1 = slice(2, 2 + ts)
        zTL = z[c, c]
        zTR = z[c, p1]
        zBR = z[p1, p1]
        zBL = z[p1, c]
        L = level
        case = (
            (zTL > L).astype(np.int64)
            + 2 * (zTR > L).astype(np.int64)
            + 4 * (zBR > L).astype(np.int64)
            + 8 * (zBL > L).astype(np.int64)
        )
        hit = (case != 0) & (case != 15)
        # valid cells must lie inside the raster's cell grid
        gx = np.arange(ts) + tx * ts
        gy = np.arange(ts) + ty * ts
        GX, GY = np.meshgrid(gx, gy)
        hit &= (GX < width - 1) & (GY < height - 1)
        if not hit.any():
            return pd.DataFrame(
                {"cx": [], "cy": [], "case_id": [], "n_seg": [], "seg_len": []}
            )
        with np.errstate(divide="ignore", invalid="ignore"):
            tt = (L - zTL) / (zTR - zTL)
            tr = (L - zTR) / (zBR - zTR)
            tb = (L - zBL) / (zBR - zBL)
            tl = (L - zTL) / (zBL - zTL)
        l_topleft = np.sqrt(tt * tt + tl * tl)
        l_topright = np.sqrt((1 - tt) * (1 - tt) + tr * tr)
        l_rightbottom = np.sqrt((tb - 1) * (tb - 1) + (1 - tr) * (1 - tr))
        l_bottomleft = np.sqrt(tb * tb + (1 - tl) * (1 - tl))
        l_leftright = np.sqrt(1 + (tr - tl) * (tr - tl))
        l_topbottom = np.sqrt((tb - tt) * (tb - tt) + 1)
        center = (zTL + zTR + zBR + zBL) / 4.0
        sel = [case == k for k in range(16)]
        seg_len = np.select(
            sel,
            [
                np.zeros_like(tt),                 # 0
                l_topleft,                          # 1
                l_topright,                         # 2
                l_leftright,                        # 3
                l_rightbottom,                      # 4
                np.where(center > L, l_topright + l_bottomleft,
                         l_topleft + l_rightbottom),  # 5
                l_topbottom,                        # 6
                l_bottomleft,                       # 7
                l_bottomleft,                       # 8
                l_topbottom,                        # 9
                np.where(center > L, l_topleft + l_rightbottom,
                         l_topright + l_bottomleft),  # 10
                l_rightbottom,                      # 11
                l_leftright,                        # 12
                l_topright,                         # 13
                l_topleft,                          # 14
                np.zeros_like(tt),                  # 15
            ],
        )
        n_seg = np.where((case == 5) | (case == 10), 2, 1)
        ys, xs = np.nonzero(hit)
        return pd.DataFrame(
            {
                "cx": GX[ys, xs],
                "cy": GY[ys, xs],
                "case_id": case[ys, xs].astype(np.int32),
                "n_seg": n_seg[ys, xs].astype(np.int32),
                "seg_len": seg_len[ys, xs],
            }
        )

    return strips.groupBy("tx", "ty").applyInPandas(per_tile, CONTOUR_SCHEMA)


SEG_SCHEMA = T.StructType(
    [
        T.StructField("lvl", T.IntegerType()),
        T.StructField("seg", T.LongType()),
        T.StructField("x1", T.DoubleType()),
        T.StructField("y1", T.DoubleType()),
        T.StructField("x2", T.DoubleType()),
        T.StructField("y2", T.DoubleType()),
        T.StructField("seg_len", T.DoubleType()),
        # a pixel center guaranteed ABOVE the level for this segment's
        # cell (the lowest set case bit) — lets polygon assembly know
        # which side of an open polyline the z>level region lies on
        # without re-reading the raster
        T.StructField("inx", T.DoubleType()),
        T.StructField("iny", T.DoubleType()),
    ]
)

# corner offset of the lowest set bit per case id: TL, TR, BR, BL
_IN_CORNER = {}
for _k in range(1, 15):
    for _bit, _off in ((1, (0.0, 0.0)), (2, (1.0, 0.0)), (4, (1.0, 1.0)), (8, (0.0, 1.0))):
        if _k & _bit:
            _IN_CORNER[_k] = _off
            break

# endpoint selectors per case id: each segment is an (edge, edge) pair
# over T(op)/R(ight)/B(ottom)/L(eft); saddles resolved by the center
_CASE_SEGS = {
    1: [("T", "L")], 2: [("T", "R")], 3: [("L", "R")], 4: [("R", "B")],
    6: [("T", "B")], 7: [("B", "L")], 8: [("B", "L")], 9: [("T", "B")],
    11: [("R", "B")], 12: [("L", "R")], 13: [("T", "R")], 14: [("T", "L")],
}
_SADDLE = {
    5: ([("T", "R"), ("B", "L")], [("T", "L"), ("R", "B")]),   # (ctr>L, else)
    10: ([("T", "L"), ("R", "B")], [("T", "R"), ("B", "L")]),
}


def contour_segments_multi(
    tiles: DataFrame, levels, tile_size: int, width: int, height: int
) -> DataFrame:
    """One row per (level, iso-line SEGMENT) with exact endpoints in
    global cell coords and a deterministic id ((cy·(W−1)+cx)·2 + slot).
    ALL levels are computed in ONE halo exchange + one applyInPandas
    pass (the reference's contour writer also walks each block once for
    every level, alg/contour.cpp).  Endpoint floats are identical
    wherever two cells share an edge crossing (the same two pixels feed
    the same interpolation), which is what lets polyline assembly join
    on them exactly."""
    levels = [float(l) for l in levels]
    ntx = (width + tile_size - 1) // tile_size
    nty = (height + tile_size - 1) // tile_size
    ts = tile_size
    strips = _emit_strips(tiles, ts, 1, ntx, nty)

    def per_tile(key, pdf: pd.DataFrame) -> pd.DataFrame:
        tx, ty = int(key[0]), int(key[1])
        z = _assemble_padded(pdf, ts, 1)
        c = slice(1, 1 + ts)
        p1 = slice(2, 2 + ts)
        zTL, zTR, zBR, zBL = z[c, c], z[c, p1], z[p1, p1], z[p1, c]
        gx = np.arange(ts) + tx * ts
        gy = np.arange(ts) + ty * ts
        GX, GY = np.meshgrid(gx, gy)
        valid = (GX < width - 1) & (GY < height - 1)
        CX = GX.astype(np.float64)
        CY = GY.astype(np.float64)
        rows = []
        for li, L in enumerate(levels):
            case = (
                (zTL > L).astype(np.int64) + 2 * (zTR > L).astype(np.int64)
                + 4 * (zBR > L).astype(np.int64) + 8 * (zBL > L).astype(np.int64)
            )
            with np.errstate(divide="ignore", invalid="ignore"):
                tt = (L - zTL) / (zTR - zTL)
                tr = (L - zTR) / (zBR - zTR)
                tb = (L - zBL) / (zBR - zBL)
                tl = (L - zTL) / (zBL - zTL)
            center = (zTL + zTR + zBR + zBL) / 4.0
            pts = {
                "T": (CX + tt, CY),
                "R": (CX + 1.0, CY + tr),
                "B": (CX + tb, CY + 1.0),
                "L": (CX, CY + tl),
            }
            for k in range(1, 15):
                m = (case == k) & valid
                if not m.any():
                    continue
                ys, xs = np.nonzero(m)
                if k in _SADDLE:
                    hi, lo = _SADDLE[k]
                    for which, sel in ((hi, center[ys, xs] > L), (lo, ~(center[ys, xs] > L))):
                        yy, xx = ys[sel], xs[sel]
                        for slot, (ea, eb) in enumerate(which):
                            _emit(rows, pts, ea, eb, xx, yy, GX, GY, slot, width, k, li)
                else:
                    for slot, (ea, eb) in enumerate(_CASE_SEGS[k]):
                        _emit(rows, pts, ea, eb, xs, ys, GX, GY, slot, width, k, li)
        return pd.DataFrame(
            rows,
            columns=["lvl", "seg", "x1", "y1", "x2", "y2", "seg_len", "inx", "iny"],
        ) if rows else pd.DataFrame(
            {"lvl": [], "seg": [], "x1": [], "y1": [], "x2": [], "y2": [],
             "seg_len": [], "inx": [], "iny": []}
        )

    return strips.groupBy("tx", "ty").applyInPandas(per_tile, SEG_SCHEMA)


def contour_segments(
    tiles: DataFrame, level: float, tile_size: int, width: int, height: int
) -> DataFrame:
    """Single-level segment table (see ``contour_segments_multi``)."""
    return contour_segments_multi(tiles, [level], tile_size, width, height).drop("lvl")


def _emit(rows, pts, ea, eb, xs, ys, GX, GY, slot, width, k, li):
    ax, ay = pts[ea]
    bx, by = pts[eb]
    ox, oy = _IN_CORNER[k]
    for x, y in zip(xs.tolist(), ys.tolist()):
        x1, y1 = float(ax[y, x]), float(ay[y, x])
        x2, y2 = float(bx[y, x]), float(by[y, x])
        dx, dy = x2 - x1, y2 - y1
        seg = (int(GY[y, x]) * (width - 1) + int(GX[y, x])) * 2 + slot
        rows.append(
            (li, seg, x1, y1, x2, y2, float(np.sqrt(dx * dx + dy * dy)),
             float(GX[y, x]) + ox, float(GY[y, x]) + oy)
        )


def _tag_components(segs: DataFrame, nlev: int = 1) -> DataFrame:
    """Label each segment with its polyline component: segments sharing
    an exact endpoint AT THE SAME LEVEL connect (identical doubles —
    both cells interpolate the crossing from the same two pixels),
    components via pointer-jumping CC.  All levels' components resolve
    in ONE CC run — node ids are seg·nlev + lvl, so component ids are
    globally unique across levels.  ``segs`` must carry ``lvl`` when
    nlev > 1 (it is synthesized as 0 otherwise)."""
    from gdal_spark.operators.graph import connected_components

    if "lvl" not in segs.columns:
        segs = segs.withColumn("lvl", F.lit(0))
    segs = segs.withColumn("node", F.col("seg") * nlev + F.col("lvl"))
    ends = segs.select(
        "node", "lvl", F.col("x1").alias("x"), F.col("y1").alias("y")
    ).unionByName(
        segs.select("node", "lvl", F.col("x2").alias("x"), F.col("y2").alias("y"))
    )
    a = ends.select(F.col("node").alias("src"), "lvl", "x", "y")
    b = ends.select(F.col("node").alias("dst"), "lvl", "x", "y")
    shared = (
        a.join(b, ["lvl", "x", "y"])
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
    )
    selfloops = segs.select(F.col("node").alias("src"), F.col("node").alias("dst"))
    # A segment graph is a disjoint union of simple paths / cycles, so
    # the distributed pointer-jump pays O(log ring-length) rounds of
    # fixed job latency — the worst shape for small inputs.
    # connected_components' size gate (graph.DRIVER_EDGE_LIMIT)
    # union-finds graphs that fit at the driver and pointer-jumps past
    # that (same min-id components).
    comp = connected_components(shared.unionByName(selfloops))
    return (
        segs.join(comp, "node"),
        ends.withColumnRenamed("node", "seg"),
        comp.withColumnRenamed("node", "seg"),
    )


LINESTRING_SCHEMA = T.StructType(
    [
        T.StructField("lvl", T.IntegerType()),
        T.StructField("component", T.LongType()),
        T.StructField("n_pts", T.IntegerType()),
        T.StructField("closed", T.BooleanType()),
        T.StructField("length_u", T.LongType()),
        T.StructField("sx", T.LongType()),
        T.StructField("sy", T.LongType()),
        T.StructField("vsum_x", T.LongType()),
        T.StructField("vsum_y", T.LongType()),
        T.StructField("ix", T.DoubleType()),
        T.StructField("iy", T.DoubleType()),
        T.StructField("wkb", T.BinaryType()),
    ]
)


def contour_linestrings_multi(
    tiles: DataFrame, levels, tile_size: int, width: int, height: int,
) -> DataFrame:
    """Ordered polyline GEOMETRY per (level, iso-line component) — the
    reference's contour writer emits one linestring per merged polyline
    (alg/contour.cpp SegmentMerger/RingAppender): one shuffle keyed by
    component, then a deterministic chain walk per component.  ALL
    levels share one marching-squares pass and ONE connected-components
    run (node = seg·nlev + lvl), so multi-level extraction costs one
    extra case evaluation per level, not a full pipeline per level.

    Walk order contract (pinned for the oracle): open polylines start
    at the lexicographically smallest degree-1 endpoint; closed rings
    start at the smallest endpoint and step toward the smaller of its
    two neighbors.  Closed rings repeat the start point at the end of
    the WKB (GDAL ring convention) but n_pts counts distinct vertices.

    Besides the WKB, emits order-sensitive integer checksums over the
    vertex sequence — sx/sy = 2·(start point), vsum_x/vsum_y =
    Σ (i+1)·2·coord — so an ANSI-SQL oracle can verify the exact vertex
    ORDER (all crossing coordinates are halves of integers whenever
    pixel values are integers and the level is a half-integer).
    length_u = Σ floor(seg_len·10⁶ + 0.5) as in ``contour_polylines``.

    Degenerate levels (a crossing landing exactly on a pixel center
    gives a vertex degree > 2) FAIL LOUDLY instead of silently dropping
    the component's remaining segments."""
    from gdal_spark.kernels import wkb as W

    nlev = len(levels)
    segs = contour_segments_multi(tiles, levels, tile_size, width, height).persist()
    tagged, _, _ = _tag_components(segs, nlev)

    def walk(key, pdf: pd.DataFrame) -> pd.DataFrame:
        comp = int(key[0])
        lvl = int(pdf["lvl"].iloc[0])
        adj: dict = {}
        for x1, y1, x2, y2, sl in zip(
            pdf["x1"], pdf["y1"], pdf["x2"], pdf["y2"], pdf["seg_len"]
        ):
            a, b = (float(x1), float(y1)), (float(x2), float(y2))
            adj.setdefault(a, []).append([b, float(sl), False])
            adj.setdefault(b, []).append([a, float(sl), False])
        deg1 = sorted(p for p, nb in adj.items() if len(nb) == 1)
        if deg1:
            start = deg1[0]
            closed = False
        else:
            start = min(adj)
            closed = True
        pts = [start]
        length_u = 0
        cur = start
        while True:
            cands = [e for e in adj[cur] if not e[2]]
            if not cands:
                break
            cands.sort(key=lambda e: e[0])
            nxt = cands[0]
            nxt[2] = True
            # mark the reverse half-edge used too
            for e in adj[nxt[0]]:
                if not e[2] and e[0] == cur and e[1] == nxt[1]:
                    e[2] = True
                    break
            length_u += int(np.floor(nxt[1] * 1e6 + 0.5))
            cur = nxt[0]
            if cur == start:
                break
            pts.append(cur)
        if any(not e[2] for nbrs in adj.values() for e in nbrs):
            raise ValueError(
                "degenerate contour component (vertex degree > 2) — "
                "pick a level that is not an attainable z value"
            )
        seq = pts + [start] if closed else pts
        vx = sum((i + 1) * int(round(2 * p[0])) for i, p in enumerate(pts))
        vy = sum((i + 1) * int(round(2 * p[1])) for i, p in enumerate(pts))
        blob = W.linestring_wkb(np.array(seq, dtype=np.float64))
        return pd.DataFrame(
            {
                "lvl": [lvl],
                "component": [comp],
                "n_pts": [len(pts)],
                "closed": [closed],
                "length_u": [length_u],
                "sx": [int(round(2 * start[0]))],
                "sy": [int(round(2 * start[1]))],
                "vsum_x": [vx],
                "vsum_y": [vy],
                "ix": [float(pdf["inx"].iloc[0])],
                "iy": [float(pdf["iny"].iloc[0])],
                "wkb": [blob],
            }
        )

    return tagged.groupBy("component").applyInPandas(walk, LINESTRING_SCHEMA)


def contour_linestrings(
    tiles: DataFrame, level: float, tile_size: int, width: int, height: int,
) -> DataFrame:
    """Single-level linestrings (see ``contour_linestrings_multi``)."""
    return contour_linestrings_multi(
        tiles, [level], tile_size, width, height
    ).drop("lvl")


def contour_polylines(
    tiles: DataFrame, level: float, tile_size: int, width: int, height: int,
    window: int | None = None,
) -> DataFrame:
    """Assemble iso-line segments into polylines: segments sharing an
    exact endpoint connect; components via the distributed label
    propagation of ``operators.graph``.  Returns per polyline:
    (component, n_seg, n_ends, closed, length_u) with length_u =
    Σ floor(len·10⁶ + 0.5) — integer-exact across engines.

    ``window`` restricts to cells with cx, cy < window (bounds the
    component sizes for oracle comparison)."""
    segs = contour_segments(tiles, level, tile_size, width, height)
    if window is not None:
        segs = segs.filter(
            ((F.col("seg") / 2).cast("long") % (width - 1) < window)
            & ((F.col("seg") / 2).cast("long") / (width - 1) < window)
        )
    segs = segs.persist()
    tagged, ends, comp = _tag_components(segs)
    n_ends = (
        ends.join(comp.withColumnRenamed("node", "seg"), "seg")
        .groupBy("component")
        .agg(F.count_distinct("x", "y").alias("n_ends"))
    )
    agg = tagged.groupBy("component").agg(
        F.count("*").alias("n_seg"),
        F.sum(F.floor(F.col("seg_len") * 1e6 + 0.5).cast("long")).alias("length_u"),
    )
    return agg.join(n_ends, "component").select(
        "component", "n_seg", "n_ends",
        (F.col("n_ends") == F.col("n_seg")).alias("closed"),
        "length_u",
    )


RING_SCHEMA = T.StructType(
    [
        T.StructField("lvl", T.IntegerType()),
        T.StructField("rid", T.LongType()),
        T.StructField("sx", T.LongType()),
        T.StructField("sy", T.LongType()),
        T.StructField("area", T.DoubleType()),
        T.StructField("xmin", T.DoubleType()),
        T.StructField("ymin", T.DoubleType()),
        T.StructField("xmax", T.DoubleType()),
        T.StructField("ymax", T.DoubleType()),
        T.StructField("vx", T.DoubleType()),
        T.StructField("vy", T.DoubleType()),
        T.StructField("coords", T.BinaryType()),
    ]
)


def _ring_table(lines: DataFrame, width: int, height: int) -> DataFrame:
    """Distributed closed-ring table from ``contour_linestrings_multi``
    output: open polylines (clipped at the raster edge) close along the
    pixel-center hull — direction picked by ray-casting the component's
    inside-point hint.  Every ring is independent, so the closure is a
    ``mapInPandas`` over the lines; NOTHING collects to the driver.
    Rows carry O(1) metadata (bbox, |area|, first vertex as containment
    probe) plus the closed coords as a linestring blob."""
    from gdal_spark.kernels import wkb as Wk
    from gdal_spark.kernels.pip import points_in_polygon as _pip

    W1, H1 = float(width - 1), float(height - 1)
    per = 2.0 * (W1 + H1)
    corners = [(0.0, 0.0), (W1, 0.0), (W1, H1), (0.0, H1)]
    corner_t = [0.0, W1, W1 + H1, 2.0 * W1 + H1]

    def border_t(p):
        x, y = float(p[0]), float(p[1])
        if y == 0.0:
            return x
        if x == W1:
            return W1 + y
        if y == H1:
            return W1 + H1 + (W1 - x)
        if x == 0.0:
            return 2.0 * W1 + H1 + (H1 - y)
        return None

    def hull_path(t_from, t_to, clockwise):
        out = []
        if clockwise:
            span = (t_to - t_from) % per
            cs = sorted(((ct - t_from) % per, i) for i, ct in enumerate(corner_t))
        else:
            span = (t_from - t_to) % per
            cs = sorted(((t_from - ct) % per, i) for i, ct in enumerate(corner_t))
        for d, i in cs:
            if 0.0 < d < span:
                out.append(corners[i])
        return out

    def close_open(coords, inside):
        ts_, te_ = border_t(coords[0]), border_t(coords[-1])
        if ts_ is None or te_ is None:
            return None  # endpoint off-hull (degenerate junction): skip
        for cw in (True, False):
            path = hull_path(te_, ts_, cw)
            ring = np.vstack([coords] + [np.array(p) for p in path] + [coords[:1]])
            if bool(
                _pip(
                    np.array([inside[0]]), np.array([inside[1]]), [ring],
                    include_boundary=False,
                )[0]
            ):
                return ring
        return None

    def gen(pdf_iter):
        for pdf in pdf_iter:
            rows = []
            for _, r in pdf.iterrows():
                coords = Wk.parse_wkb(bytes(r["wkb"]))[1]
                if not r["closed"]:
                    ring = close_open(coords, (float(r["ix"]), float(r["iy"])))
                    if ring is None:
                        continue
                    coords = ring
                area = 0.5 * float(
                    np.sum(coords[:-1, 0] * coords[1:, 1] - coords[1:, 0] * coords[:-1, 1])
                )
                rows.append(
                    (
                        int(r["lvl"]), int(r["component"]),
                        int(r["sx"]), int(r["sy"]), abs(area),
                        float(coords[:, 0].min()), float(coords[:, 1].min()),
                        float(coords[:, 0].max()), float(coords[:, 1].max()),
                        float(coords[0, 0]), float(coords[0, 1]),
                        Wk.linestring_wkb(coords),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "lvl", "rid", "sx", "sy", "area",
                    "xmin", "ymin", "xmax", "ymax", "vx", "vy", "coords",
                ],
            )

    return lines.mapInPandas(gen, RING_SCHEMA)


_PAIR_SCHEMA = T.StructType(
    [
        T.StructField("h_lvl", T.IntegerType()),
        T.StructField("h_rid", T.LongType()),
        T.StructField("c_lvl", T.IntegerType()),
        T.StructField("c_rid", T.LongType()),
    ]
)


def _containment_pairs(rings: DataFrame, band_w: float) -> DataFrame:
    """(hole-candidate, container) pairs, fully distributed: candidate
    generation is an equi-join on x-bands (containers explode to the
    bands their bbox spans; each containee probes exactly ONE band with
    its test vertex, so pairs appear once), filtered by bbox
    containment, then verified by the exact PIP kernel vectorized per
    container inside a ``mapInPandas``.  O(candidate pairs) work —
    never O(rings²)."""
    from gdal_spark.kernels import wkb as Wk
    from gdal_spark.kernels.pip import points_in_polygon as _pip

    cont = rings.select(
        F.col("lvl").alias("c_lvl"), F.col("rid").alias("c_rid"),
        F.col("xmin").alias("cxmin"), F.col("ymin").alias("cymin"),
        F.col("xmax").alias("cxmax"), F.col("ymax").alias("cymax"),
        F.col("coords").alias("c_coords"),
        F.explode(
            F.sequence(
                F.floor(F.col("xmin") / band_w), F.floor(F.col("xmax") / band_w)
            )
        ).alias("bx"),
    )
    child = rings.select(
        F.col("lvl").alias("h_lvl"), F.col("rid").alias("h_rid"),
        "xmin", "ymin", "xmax", "ymax", "vx", "vy",
        F.floor(F.col("vx") / band_w).alias("bx"),
    )
    cand = child.join(cont, "bx").filter(
        (F.col("cxmin") <= F.col("xmin"))
        & (F.col("cymin") <= F.col("ymin"))
        & (F.col("cxmax") >= F.col("xmax"))
        & (F.col("cymax") >= F.col("ymax"))
        & ~((F.col("c_lvl") == F.col("h_lvl")) & (F.col("c_rid") == F.col("h_rid")))
    )

    def verify(pdf_iter):
        for pdf in pdf_iter:
            if len(pdf) == 0:
                yield pd.DataFrame(
                    {"h_lvl": [], "h_rid": [], "c_lvl": [], "c_rid": []}
                )
                continue
            outs = []
            for (cl, cr), g in pdf.groupby(["c_lvl", "c_rid"], sort=False):
                ring = Wk.parse_wkb(bytes(g["c_coords"].iloc[0]))[1]
                inside = _pip(
                    g["vx"].to_numpy(), g["vy"].to_numpy(), [ring],
                    include_boundary=False,
                )
                kept = g.loc[np.asarray(inside, dtype=bool), ["h_lvl", "h_rid"]]
                if len(kept):
                    kept = kept.copy()
                    kept["c_lvl"] = int(cl)
                    kept["c_rid"] = int(cr)
                    outs.append(kept)
            yield (
                pd.concat(outs)
                if outs
                else pd.DataFrame({"h_lvl": [], "h_rid": [], "c_lvl": [], "c_rid": []})
            )

    return cand.mapInPandas(verify, _PAIR_SCHEMA)


POLY_OUT_COLS = ["band", "sx", "sy", "n_rings", "parea", "wkb"]

BAND_SCHEMA = T.StructType(
    [
        T.StructField("band", T.IntegerType()),
        T.StructField("sx", T.LongType()),
        T.StructField("sy", T.LongType()),
        T.StructField("n_rings", T.IntegerType()),
        T.StructField("parea", T.DoubleType()),
        T.StructField("wkb", T.BinaryType()),
    ]
)


def contour_bands(
    tiles: DataFrame, levels, tile_size: int, width: int, height: int,
    band_w: float | None = None,
) -> DataFrame:
    """MULTI-LEVEL filled contour bands — the full ``gdal contour -p``
    output (apps/gdalalg_raster_contour.cpp, writer alg/contour.cpp
    PolygonRingAppender): one polygon set per interval
    (levels[b], levels[b+1]], plus the top band above the last level.

    Fully distributed plan — no per-feature geometry ever reaches the
    driver:

      1. ``contour_linestrings_multi`` assembles ALL levels' ordered
         rings in one marching-squares pass + one CC run;
      2. ``_ring_table`` closes edge-clipped polylines along the hull
         (per-ring local work in a ``mapInPandas``);
      3. ring nesting = x-band equi-join candidates + exact-PIP verify
         (``_containment_pairs``);
      4. crossing a level-L ring toggles the "above L" state, so the
         band inside any ring is the HIGHEST level with odd parity
         among its containers ∪ itself — parity is a groupBy over the
         verified pairs (plus a self row), no parent-chain walk;
      5. a ring is a band-polygon EXTERIOR iff its inside band differs
         from its innermost container's (= outside) band; its direct
         children (innermost container = this ring) are its holes;
      6. polygon assembly = one shuffle keyed by the exterior ring,
         ``applyInPandas`` concatenates hole rings (sorted by (sy, sx,
         rid) — deterministic float summation order for parea).

    Emits (band, sx, sy, n_rings, parea, wkb) with band b = interval
    index (z in (levels[b], levels[b+1]]), len(levels)-1 = top band."""
    from pyspark.sql import Window

    from gdal_spark.kernels import wkb as Wk

    nlev = len(levels)
    lines = contour_linestrings_multi(tiles, levels, tile_size, width, height)
    rings = _ring_table(lines, width, height).persist()
    bw = float(band_w if band_w is not None else max(tile_size, 16))
    pairs = _containment_pairs(rings, bw).persist()

    # inside band: parity per container LEVEL over containers ∪ self
    self_rows = rings.select(
        F.col("lvl").alias("h_lvl"), F.col("rid").alias("h_rid"),
        F.col("lvl").alias("c_lvl"),
    )
    par = (
        pairs.select("h_lvl", "h_rid", "c_lvl")
        .unionByName(self_rows)
        .groupBy("h_lvl", "h_rid", "c_lvl")
        .agg((F.count("*") % 2).alias("odd"))
    )
    inside = (
        par.filter(F.col("odd") == 1)
        .groupBy("h_lvl", "h_rid")
        .agg(F.max("c_lvl").alias("inside"))
        .withColumnRenamed("h_lvl", "lvl")
        .withColumnRenamed("h_rid", "rid")
    )

    # parent = innermost container = the container with max depth
    # (containers of a ring form a nesting chain, so depths are
    # distinct; the order-by tail is only a determinism guard)
    depth = pairs.groupBy("h_lvl", "h_rid").agg(F.count("*").alias("depth"))
    cd = depth.select(
        F.col("h_lvl").alias("c_lvl"), F.col("h_rid").alias("c_rid"),
        F.col("depth").alias("c_depth"),
    )
    w = Window.partitionBy("h_lvl", "h_rid").orderBy(
        F.desc("c_depth"), "c_lvl", "c_rid"
    )
    parent = (
        pairs.join(cd, ["c_lvl", "c_rid"], "left")
        .fillna({"c_depth": 0})
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("h_lvl").alias("lvl"), F.col("h_rid").alias("rid"),
            F.col("c_lvl").alias("p_lvl"), F.col("c_rid").alias("p_rid"),
        )
    )

    r2 = (
        rings.join(inside, ["lvl", "rid"], "left")
        .withColumn("inside", F.coalesce("inside", F.lit(-1)))
        .join(parent, ["lvl", "rid"], "left")
    )
    pin = r2.select(
        F.col("lvl").alias("p_lvl"), F.col("rid").alias("p_rid"),
        F.col("inside").alias("outside"),
    )
    r3 = r2.join(pin, ["p_lvl", "p_rid"], "left").withColumn(
        "outside", F.coalesce("outside", F.lit(-1))
    )

    ext_rows = r3.filter(
        (F.col("inside") != -1) & (F.col("inside") != F.col("outside"))
    ).select(
        F.col("lvl").alias("k_lvl"), F.col("rid").alias("k_rid"),
        F.lit("E").alias("kind"), F.col("inside").alias("band"),
        "sx", "sy", "area", "coords",
    )
    kid_rows = r3.filter(F.col("p_rid").isNotNull()).select(
        F.col("p_lvl").alias("k_lvl"), F.col("p_rid").alias("k_rid"),
        F.lit("H").alias("kind"), F.lit(None).cast("int").alias("band"),
        "sx", "sy", "area", "coords",
    )

    def assemble(key, pdf: pd.DataFrame) -> pd.DataFrame:
        e = pdf[pdf["kind"] == "E"]
        if len(e) == 0:
            return pd.DataFrame({c: [] for c in POLY_OUT_COLS})
        ext = e.iloc[0]
        holes = pdf[pdf["kind"] == "H"].sort_values(["sy", "sx"])
        parea = float(ext["area"]) - sum(float(a) for a in holes["area"])
        ext_coords = Wk.parse_wkb(bytes(ext["coords"]))[1]
        hole_coords = [Wk.parse_wkb(bytes(b))[1] for b in holes["coords"]]
        blob = Wk.polygon_wkb([ext_coords] + hole_coords)
        return pd.DataFrame(
            {
                "band": [int(ext["band"])],
                "sx": [int(ext["sx"])],
                "sy": [int(ext["sy"])],
                "n_rings": [1 + len(holes)],
                "parea": [parea],
                "wkb": [blob],
            }
        )

    return (
        ext_rows.unionByName(kid_rows)
        .groupBy("k_lvl", "k_rid")
        .applyInPandas(assemble, BAND_SCHEMA)
    )


def contour_polygons(
    tiles: DataFrame, level: float, tile_size: int, width: int, height: int,
) -> DataFrame:
    """FILLED contour polygons — ``gdal contour -p`` / ``--polygonize``
    for a single level: the region where z > level becomes polygons
    whose boundaries are the iso-rings, holes where the surface dips
    back below the level.  The single-level specialization of
    ``contour_bands`` (depth-even rings are exactly the rings whose
    single-level parity is odd and whose innermost container's parity
    is even).  Emits (sx, sy, n_rings, parea, wkb) — all assembly
    distributed, see ``contour_bands``."""
    return contour_bands(tiles, [level], tile_size, width, height).drop("band")
