"""Distributed GDALSieveFilter with MERGE semantics: raster regions
smaller than the threshold are absorbed into their largest neighbour
and the raster is relabeled.

Reference: ``GDALSieveFilter`` (alg/sievefilter.cpp) enumerates
polygons with the same two-pass CCL as polygonize, then repeatedly
merges every small polygon into its largest neighbour until no
under-threshold polygon remains, and writes the merged values back.

Distributed decomposition (same skeleton as ``operators.polygonize``):

  1. per tile: CCL + region summaries + border runs + IN-TILE label
     adjacency pairs (one vectorized shift-compare per axis);
  2. cross-tile: facing border-run join — equal-dn overlaps are
     same-region merge edges (exactly ``polygonize._merge_edges``),
     different-dn overlaps are region ADJACENCY;
  3. same-region roots via ``polygonize._label_roots`` (the
     size-gated ``graph.connected_components``); region sizes and the
     contracted region-level adjacency are DataFrame aggregations
     (groupBy root / distinct root-pair join), never collected in full;
  4. absorption over ONLY the under-threshold subgraph — adjacency
     edges incident to a small region plus their endpoints' stats —
     small region → largest current neighbour, by (count, id),
     deterministic.  Sufficient because absorption only ever grows
     regions: a region ≥ threshold at the start can never be absorbed,
     so the loop's reachable state is exactly the small-incident
     subgraph.  The subgraph goes through the same size gate as the
     graph operators (``graph.driver_rows``): collected to the driver
     loop when it fits, the same rounds as distributed DataFrame
     contractions past it;
  5. apply: broadcast the (tile, local_label) → merged dn map
     (CHANGED regions only) and relabel each tile independently (a
     second CCL pass per tile instead of shuffling label arrays);
     unchanged labels keep their own dn from the tile itself.

Like the reference, masked (nodata) pixels take part in nothing: small
regions bordered only by nodata stay.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gdal_spark.session import local_df

from gdal_spark.kernels.ccl import border_runs, label_tile, region_table
from gdal_spark.operators import graph
from gdal_spark.operators.polygonize import _label_roots


def _absorb_rounds(count: dict, dn_of: dict, adj: dict, threshold: int) -> dict:
    """ROUND-SYNCHRONOUS absorption (the pinned deterministic
    semantics shared with the distributed path — sievefilter.cpp's
    sequential in-pass mutation is enumeration-order-dependent and so
    implementation-defined; this spec is order-free):

    each round, every under-threshold region with ≥1 neighbour
    SIMULTANEOUSLY selects its largest current neighbour by
    (pixel count, then smallest key); mutual selections form only
    2-cycles (the selection weight is a total order), resolved by
    dropping the WINNER's pointer (the larger region survives);
    pointer chains collapse to their terminals; counts re-aggregate;
    repeat until no under-threshold region has a neighbour.

    Returns {absorbed key: terminal key} for CHANGED regions only.
    """
    def W_(r):
        return (count[r], tuple(-v for v in r))

    parent: dict = {}
    cur_adj = {k: set(v) for k, v in adj.items()}
    while True:
        small = [r for r in sorted(count) if count[r] < threshold and cur_adj.get(r)]
        if not small:
            break
        ptr = {r: max(cur_adj[r], key=W_) for r in small}
        for r in list(ptr):
            t = ptr.get(r)
            if t is not None and ptr.get(t) == r:
                winner = r if W_(r) > W_(t) else t
                ptr.pop(winner, None)

        def term(r):
            while r in ptr:
                r = ptr[r]
            return r

        moves = {r: term(r) for r in ptr}
        for r, t in moves.items():
            count[t] += count[r]
        for r in moves:
            count.pop(r, None)

        def rep(x):
            return moves.get(x, x)

        new_adj: dict = {}
        for a_k, ns in cur_adj.items():
            ra = rep(a_k)
            s = new_adj.setdefault(ra, set())
            for n in ns:
                rn = rep(n)
                if rn != ra:
                    s.add(rn)
        for s in new_adj.values():
            s.discard(None)
        cur_adj = new_adj
        for k in list(parent):
            parent[k] = rep(parent[k])
        parent.update(moves)
    return parent

_MIX_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("tx", T.LongType()),
        T.StructField("ty", T.LongType()),
        T.StructField("local_label", T.IntegerType()),
        T.StructField("dn", T.DoubleType()),
        T.StructField("pixel_count", T.LongType()),
        T.StructField("side", T.StringType()),
        T.StructField("start", T.IntegerType()),
        T.StructField("end", T.IntegerType()),
        T.StructField("lab_b", T.IntegerType()),
    ]
)

TILE_OUT_SCHEMA = T.StructType(
    [
        T.StructField("tx", T.LongType()),
        T.StructField("ty", T.LongType()),
        T.StructField("data", T.BinaryType()),
        T.StructField("dtype", T.StringType()),
    ]
)


def _absorb_rounds_distributed(
    root_stats: DataFrame, incident_edges: DataFrame, threshold: int
) -> DataFrame:
    """The SAME round-synchronous absorption as ``_absorb_rounds``,
    expressed as distributed DataFrame contractions — the past-the-gate
    path (no collect of the under-threshold subgraph, which on a noisy
    100-TB raster is itself O(raster)).

    Per round: small regions pick their max-(total, smallest-key)
    neighbour (groupBy + struct max), mutual picks drop the winner's
    pointer (self-join), chains collapse by pointer doubling, counts
    re-aggregate, edges contract.  Rounds are O(log absorption-chain
    length); each round is a handful of shuffles over the small
    subgraph only.

    Returns (root_tx, root_ty, root_label, new_dn) for CHANGED regions.
    """
    K = ["kx", "ky", "kl"]

    stats = root_stats.select(
        F.col("root_tx").alias("kx"),
        F.col("root_ty").alias("ky"),
        F.col("root_label").cast("long").alias("kl"),
        F.col("total"),
        F.col("dn"),
    ).localCheckpoint()
    half = incident_edges.select(
        F.col("root_tx").alias("ax"), F.col("root_ty").alias("ay"),
        F.col("root_label").cast("long").alias("al"),
        F.col("broot_tx").alias("bx"), F.col("broot_ty").alias("by"),
        F.col("broot_label").cast("long").alias("bl"),
    )
    edges = half.unionByName(
        half.select(
            F.col("bx").alias("ax"), F.col("by").alias("ay"),
            F.col("bl").alias("al"),
            F.col("ax").alias("bx"), F.col("ay").alias("by"),
            F.col("al").alias("bl"),
        )
    ).distinct().localCheckpoint()

    pmap = None  # (ox, oy, ol) -> (kx, ky, kl) cumulative
    absorbed_all = False
    for _round in range(64):
        small = stats.filter(F.col("total") < threshold).select(*K)
        # pointers: for each small a, neighbour maximizing
        # (total, -key) — struct max is lexicographic, so negated key
        # fields implement the smallest-key tie-break
        nb = edges.join(
            small,
            (edges["ax"] == small["kx"]) & (edges["ay"] == small["ky"])
            & (edges["al"] == small["kl"]),
            "leftsemi",
        )
        bstats = stats.select(
            F.col("kx").alias("bx"), F.col("ky").alias("by"),
            F.col("kl").alias("bl"), F.col("total").alias("btotal"),
        )
        nbs = nb.join(bstats, ["bx", "by", "bl"])
        ptr = (
            nbs.groupBy("ax", "ay", "al")
            .agg(
                F.max(
                    F.struct(
                        F.col("btotal"),
                        (-F.col("bx")).alias("nx"),
                        (-F.col("by")).alias("ny"),
                        (-F.col("bl")).alias("nl"),
                    )
                ).alias("m")
            )
            .select(
                "ax", "ay", "al",
                (-F.col("m.nx")).alias("tx_"), (-F.col("m.ny")).alias("ty_"),
                (-F.col("m.nl")).alias("tl_"),
            )
            .localCheckpoint()
        )
        if ptr.rdd.isEmpty():
            absorbed_all = True
            break
        # 2-cycles: a→t and t→a — drop the WINNER's pointer, where the
        # winner is the larger (total, smallest-key); the loop weight
        # is a total order so longer cycles cannot occur
        rev = ptr.select(
            F.col("ax").alias("r_ax"), F.col("ay").alias("r_ay"),
            F.col("al").alias("r_al"),
            F.col("tx_").alias("r_tx"), F.col("ty_").alias("r_ty"),
            F.col("tl_").alias("r_tl"),
        )
        astats = stats.select(
            F.col("kx").alias("ax"), F.col("ky").alias("ay"),
            F.col("kl").alias("al"), F.col("total").alias("a_total"),
        )
        tstats = stats.select(
            F.col("kx").alias("tx_"), F.col("ky").alias("ty_"),
            F.col("kl").alias("tl_"), F.col("total").alias("t_total"),
        )
        cyc = (
            ptr.join(
                rev,
                (F.col("tx_") == F.col("r_ax")) & (F.col("ty_") == F.col("r_ay"))
                & (F.col("tl_") == F.col("r_al"))
                & (F.col("ax") == F.col("r_tx")) & (F.col("ay") == F.col("r_ty"))
                & (F.col("al") == F.col("r_tl")),
            )
            .join(astats, ["ax", "ay", "al"])
            .join(tstats, ["tx_", "ty_", "tl_"])
        )
        a_wins = (
            (F.col("a_total") > F.col("t_total"))
            | (
                (F.col("a_total") == F.col("t_total"))
                & (
                    F.struct(
                        (-F.col("ax")).alias("x"), (-F.col("ay")).alias("y"),
                        (-F.col("al")).alias("l"),
                    )
                    > F.struct(
                        (-F.col("tx_")).alias("x"), (-F.col("ty_")).alias("y"),
                        (-F.col("tl_")).alias("l"),
                    )
                )
            )
        )
        winners = cyc.filter(a_wins).select("ax", "ay", "al")
        ptr = ptr.join(winners, ["ax", "ay", "al"], "left_anti").localCheckpoint()

        # pointer doubling to terminals (chains are loop-free now);
        # 32 doublings cover chains of length 2^32 — loud if exceeded
        jumped_all = False
        for _ in range(32):
            nxt = ptr.select(
                F.col("ax").alias("n_ax"), F.col("ay").alias("n_ay"),
                F.col("al").alias("n_al"),
                F.col("tx_").alias("n_tx"), F.col("ty_").alias("n_ty"),
                F.col("tl_").alias("n_tl"),
            )
            j = ptr.join(
                nxt,
                (F.col("tx_") == F.col("n_ax")) & (F.col("ty_") == F.col("n_ay"))
                & (F.col("tl_") == F.col("n_al")),
                "left",
            )
            hops = j.filter(F.col("n_tx").isNotNull())
            if hops.rdd.isEmpty():
                ptr = j.select("ax", "ay", "al", "tx_", "ty_", "tl_")
                jumped_all = True
                break
            ptr = j.select(
                "ax", "ay", "al",
                F.coalesce("n_tx", "tx_").alias("tx_"),
                F.coalesce("n_ty", "ty_").alias("ty_"),
                F.coalesce("n_tl", "tl_").alias("tl_"),
            ).localCheckpoint()
        if not jumped_all:
            raise RuntimeError(
                "sieve pointer-doubling did not reach terminals in 32 "
                "iterations (chain length > 2^32?)"
            )

        # apply the moves: counts re-aggregate onto terminals
        adds = (
            ptr.join(
                stats,
                (F.col("ax") == F.col("kx")) & (F.col("ay") == F.col("ky"))
                & (F.col("al") == F.col("kl")),
            )
            .groupBy("tx_", "ty_", "tl_")
            .agg(F.sum("total").alias("added"))
        )
        moved_keys = ptr.select(
            F.col("ax").alias("kx"), F.col("ay").alias("ky"),
            F.col("al").alias("kl"),
        )
        stats = (
            stats.join(moved_keys, K, "left_anti")
            .join(
                adds,
                (F.col("kx") == F.col("tx_")) & (F.col("ky") == F.col("ty_"))
                & (F.col("kl") == F.col("tl_")),
                "left",
            )
            .select(
                "kx", "ky", "kl",
                (F.col("total") + F.coalesce("added", F.lit(0))).alias("total"),
                "dn",
            )
            .localCheckpoint()
        )
        # contract edges through the moves, drop self-loops
        amap = ptr.select(
            F.col("ax").alias("m_x"), F.col("ay").alias("m_y"),
            F.col("al").alias("m_l"),
            F.col("tx_").alias("m_tx"), F.col("ty_").alias("m_ty"),
            F.col("tl_").alias("m_tl"),
        )
        e2 = (
            edges.join(
                amap,
                (F.col("ax") == F.col("m_x")) & (F.col("ay") == F.col("m_y"))
                & (F.col("al") == F.col("m_l")),
                "left",
            )
            .select(
                F.coalesce("m_tx", "ax").alias("ax"),
                F.coalesce("m_ty", "ay").alias("ay"),
                F.coalesce("m_tl", "al").alias("al"),
                "bx", "by", "bl",
            )
            .join(
                amap,
                (F.col("bx") == F.col("m_x")) & (F.col("by") == F.col("m_y"))
                & (F.col("bl") == F.col("m_l")),
                "left",
            )
            .select(
                "ax", "ay", "al",
                F.coalesce("m_tx", "bx").alias("bx"),
                F.coalesce("m_ty", "by").alias("by"),
                F.coalesce("m_tl", "bl").alias("bl"),
            )
        )
        edges = e2.filter(
            (F.col("ax") != F.col("bx")) | (F.col("ay") != F.col("by"))
            | (F.col("al") != F.col("bl"))
        ).distinct().localCheckpoint()

        # fold into the cumulative absorption map
        moves = ptr.select(
            F.col("ax").alias("ox"), F.col("ay").alias("oy"),
            F.col("al").alias("ol"),
            F.col("tx_").alias("kx"), F.col("ty_").alias("ky"),
            F.col("tl_").alias("kl"),
        )
        if pmap is None:
            pmap = moves.localCheckpoint()
        else:
            remapped = (
                pmap.join(
                    amap,
                    (F.col("kx") == F.col("m_x")) & (F.col("ky") == F.col("m_y"))
                    & (F.col("kl") == F.col("m_l")),
                    "left",
                )
                .select(
                    "ox", "oy", "ol",
                    F.coalesce("m_tx", "kx").alias("kx"),
                    F.coalesce("m_ty", "ky").alias("ky"),
                    F.coalesce("m_tl", "kl").alias("kl"),
                )
            )
            pmap = remapped.unionByName(moves).localCheckpoint()
    if not absorbed_all:
        # ADVICE round-3: truncation must be LOUD, never silent — the
        # gated driver loop iterates unbounded, so a capped distributed
        # path quietly diverging from it would break the identical-
        # outputs contract.  64 rounds ≫ any real absorption depth
        # (each round absorbs EVERY small region with a neighbour);
        # reaching here means the contraction is not making progress.
        raise RuntimeError(
            "sieve distributed absorption did not converge in 64 rounds "
            "— under-threshold regions with neighbours remain"
        )
    if pmap is None:
        spark = root_stats.sparkSession
        return local_df(
            spark, [],
            "root_tx long, root_ty long, root_label int, new_dn double",
        )
    # new dn = terminal's dn
    dnk = stats.select("kx", "ky", "kl", F.col("dn").alias("new_dn"))
    return pmap.join(dnk, K).select(
        F.col("ox").alias("root_tx"), F.col("oy").alias("root_ty"),
        F.col("ol").cast("int").alias("root_label"), "new_dn",
    )


def _tile_pass(tiles: DataFrame, nodata, connect8, tile_size):
    ts = tile_size

    def gen(pdf_iter):
        for pdf in pdf_iter:
            rows = []
            for _, row in pdf.iterrows():
                arr = np.frombuffer(row["data"], dtype=np.dtype(row["dtype"])).reshape(ts, ts)
                tx, ty = int(row["tx"]), int(row["ty"])
                mask = None if nodata is None else arr != nodata
                labels = label_tile(arr, mask=mask, connect8=connect8)
                for lab, dn, cnt, _, _ in region_table(arr, labels):
                    rows.append(("R", tx, ty, lab, float(dn), cnt, None, None, None, None))
                for side, s, e, lab, dn in border_runs(arr, labels):
                    rows.append(("B", tx, ty, lab, float(dn), None, side, s, e, None))
                # in-tile adjacency: different labels, both valid
                # (diagonal shifts included under 8-connectivity)
                shifts = [
                    (labels[:, :-1], labels[:, 1:]),
                    (labels[:-1, :], labels[1:, :]),
                ]
                if connect8:
                    shifts += [
                        (labels[:-1, :-1], labels[1:, 1:]),
                        (labels[:-1, 1:], labels[1:, :-1]),
                    ]
                for a, b in shifts:
                    m = (a >= 0) & (b >= 0) & (a != b)
                    if m.any():
                        pairs = np.unique(
                            np.stack([a[m], b[m]], axis=1), axis=0
                        )
                        for la, lb in pairs.tolist():
                            rows.append(("A", tx, ty, int(la), 0.0, None, None, None, None, int(lb)))
            yield pd.DataFrame(
                rows,
                columns=["kind", "tx", "ty", "local_label", "dn", "pixel_count",
                         "side", "start", "end", "lab_b"],
            )

    return tiles.mapInPandas(gen, _MIX_SCHEMA)


def _cross_tile_pairs(borders: DataFrame, connect8: bool, tile_size: int):
    """Facing-run join WITHOUT the dn-equality predicate: overlapping
    region contacts across tile edges.  Under 8-connectivity the
    interval test relaxes to ±1 touch and the diagonal tile-corner
    contacts are added — same geometry as ``polygonize._merge_edges``
    but keeping (dn, rdn) so callers can split same-region merges
    (dn == rdn) from cross-region adjacency (dn != rdn)."""
    right = (
        borders.withColumnRenamed("tx", "rtx")
        .withColumnRenamed("ty", "rty")
        .withColumnRenamed("local_label", "rlabel")
        .withColumnRenamed("side", "rside")
        .withColumnRenamed("start", "rstart")
        .withColumnRenamed("end", "rend")
        .withColumnRenamed("dn", "rdn")
    )
    if connect8:
        ov = (F.col("rstart") <= F.col("end")) & (F.col("rend") >= F.col("start"))
    else:
        ov = (F.col("rstart") < F.col("end")) & (F.col("rend") > F.col("start"))
    east = borders.filter(F.col("side") == "E").join(
        right.filter(F.col("rside") == "W"),
        (F.col("rtx") == F.col("tx") + 1) & (F.col("rty") == F.col("ty")) & ov,
    )
    south = borders.filter(F.col("side") == "S").join(
        right.filter(F.col("rside") == "N"),
        (F.col("rtx") == F.col("tx")) & (F.col("rty") == F.col("ty") + 1) & ov,
    )
    parts = [east, south]
    if connect8:
        se = borders.filter(
            (F.col("side") == "S") & (F.col("end") == tile_size)
        ).join(
            right.filter((F.col("rside") == "N") & (F.col("rstart") == 0)),
            (F.col("rtx") == F.col("tx") + 1) & (F.col("rty") == F.col("ty") + 1),
        )
        sw = borders.filter(
            (F.col("side") == "S") & (F.col("start") == 0)
        ).join(
            right.filter((F.col("rside") == "N") & (F.col("rend") == tile_size)),
            (F.col("rtx") == F.col("tx") - 1) & (F.col("rty") == F.col("ty") + 1),
        )
        parts += [se, sw]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "tx", "ty", "local_label", "dn", "rtx", "rty", "rlabel", "rdn"
    )


def _contract(
    df: DataFrame,
    root_map: DataFrame | None,
    src: tuple[str, str, str],
    out: tuple[str, str, str],
) -> DataFrame:
    """Map the (tile, label) node columns ``src`` of ``df`` through the
    root map into new columns ``out``, defaulting unmapped nodes to
    themselves.  Column names are fully parameterised so both endpoints
    of an edge table can be contracted in one plan."""
    if root_map is None:
        return (
            df.withColumn(out[0], F.col(src[0]).cast("long"))
            .withColumn(out[1], F.col(src[1]).cast("long"))
            .withColumn(out[2], F.col(src[2]).cast("int"))
        )
    k0, k1, k2 = (s + "__k" for s in src)
    m0, m1, m2 = (o + "__m" for o in out)
    rm = root_map.select(
        F.col("tx").alias(k0),
        F.col("ty").alias(k1),
        F.col("local_label").alias(k2),
        F.col("root_tx").alias(m0),
        F.col("root_ty").alias(m1),
        F.col("root_label").alias(m2),
    )
    joined = df.join(
        rm,
        (F.col(src[0]) == F.col(k0))
        & (F.col(src[1]) == F.col(k1))
        & (F.col(src[2]) == F.col(k2)),
        "left",
    )
    return (
        joined.withColumn(out[0], F.coalesce(m0, F.col(src[0]).cast("long")))
        .withColumn(out[1], F.coalesce(m1, F.col(src[1]).cast("long")))
        .withColumn(out[2], F.coalesce(m2, F.col(src[2]).cast("int")))
        .drop(k0, k1, k2, m0, m1, m2)
    )


def sieve_tiles(
    tiles: DataFrame,
    threshold: int,
    nodata: float | None = 0.0,
    connect8: bool = False,
    tile_size: int = 256,
) -> DataFrame:
    """→ relabeled tile rows (tx, ty, data float64, dtype) with every
    under-threshold region merged into its largest neighbour.  No
    unbounded collect anywhere: the label graph and the absorption
    subgraph each pass the ``graph.driver_rows`` size gate."""
    spark = tiles.sparkSession
    mixed = _tile_pass(tiles, nodata, connect8, tile_size).persist()
    borders = mixed.filter(F.col("kind") == "B").drop("kind", "pixel_count", "lab_b")
    pairs = _cross_tile_pairs(borders, connect8, tile_size).persist()

    # same-region merge edges = equal-dn facing overlaps → roots
    same = pairs.filter(F.col("dn") == F.col("rdn")).select(
        "tx", "ty", "local_label", "rtx", "rty", "rlabel"
    )
    root_map = _label_roots(same)

    # per-root size + dn, computed distributively (dn is constant
    # within a root: merge edges require dn == rdn)
    regions = mixed.filter(F.col("kind") == "R").select(
        "tx", "ty", "local_label", "dn", "pixel_count"
    )
    keyed = _contract(
        regions, root_map, ("tx", "ty", "local_label"), ("root_tx", "root_ty", "root_label")
    )
    root_stats = (
        keyed.groupBy("root_tx", "root_ty", "root_label")
        .agg(F.sum("pixel_count").alias("total"), F.min("dn").alias("dn"))
        .persist()
    )

    # region-level adjacency contracted through the roots: in-tile
    # different-label contacts + cross-tile different-dn contacts
    intile = mixed.filter(F.col("kind") == "A").select(
        "tx", "ty", "local_label",
        F.col("tx").alias("btx"), F.col("ty").alias("bty"),
        F.col("lab_b").alias("blabel"),
    )
    cross = pairs.filter(F.col("dn") != F.col("rdn")).select(
        "tx", "ty", "local_label",
        F.col("rtx").alias("btx"), F.col("rty").alias("bty"),
        F.col("rlabel").alias("blabel"),
    )
    contacts = intile.unionByName(cross)
    ca = _contract(
        contacts, root_map, ("tx", "ty", "local_label"), ("root_tx", "root_ty", "root_label")
    )
    cb = _contract(
        ca, root_map, ("btx", "bty", "blabel"), ("broot_tx", "broot_ty", "broot_label")
    )
    adj_edges = (
        cb.filter(
            (F.col("root_tx") != F.col("broot_tx"))
            | (F.col("root_ty") != F.col("broot_ty"))
            | (F.col("root_label") != F.col("broot_label"))
        )
        .select(
            "root_tx", "root_ty", "root_label",
            "broot_tx", "broot_ty", "broot_label",
        )
        .distinct()
        .persist()
    )

    # SIZE-GATED absorption: the under-threshold subgraph goes through
    # the graph operators' gate; under it the round-synchronous driver
    # loop runs on the collected edges, past it the SAME rounds run as
    # distributed DataFrame contractions — identical output
    # (tests/test_sieve_distributed.py).
    small = root_stats.filter(F.col("total") < threshold)
    small_keys = small.select("root_tx", "root_ty", "root_label")
    inc_a = adj_edges.join(small_keys, ["root_tx", "root_ty", "root_label"], "leftsemi")
    inc_b = adj_edges.join(
        small_keys.select(
            F.col("root_tx").alias("broot_tx"),
            F.col("root_ty").alias("broot_ty"),
            F.col("root_label").alias("broot_label"),
        ),
        ["broot_tx", "broot_ty", "broot_label"],
        "leftsemi",
    )
    incident_df = inc_a.unionByName(inc_b).distinct()
    with graph.driver_rows(incident_df, incident_df.columns) as incident:
        if incident is None:
            changed_big_df = _absorb_rounds_distributed(
                root_stats, incident_df, threshold
            )
    pairs.unpersist()
    adj_edges.unpersist()

    changed_rows = None
    if incident is not None:
        adj: dict = {}
        for r in incident:
            a, b = r[:3], r[3:]
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        ep_df = local_df(
            spark, list(adj), "root_tx long, root_ty long, root_label int")
        need_stats = root_stats.join(
            ep_df, ["root_tx", "root_ty", "root_label"], "leftsemi"
        ).unionByName(small).distinct()
        count = {}
        dn_of = {}
        for r in need_stats.collect():
            k = (r["root_tx"], r["root_ty"], r["root_label"])
            count[k] = r["total"]
            dn_of[k] = r["dn"]
        parent = _absorb_rounds(count, dn_of, adj, threshold)
        changed_rows = [
            (int(k[0]), int(k[1]), int(k[2]), float(dn_of[t]))
            for k, t in parent.items()
        ]

    if changed_rows is None:
        # past the gate the changed set can be large — shuffle join,
        # never a broadcast of O(small regions)
        map_df = keyed.join(
            changed_big_df,
            ["root_tx", "root_ty", "root_label"],
            "inner",
        ).select("tx", "ty", "local_label", "new_dn")
    elif changed_rows:
        changed_df = local_df(spark, 
            changed_rows, "root_tx long, root_ty long, root_label int, new_dn double"
        )
        map_df = keyed.join(
            F.broadcast(changed_df), ["root_tx", "root_ty", "root_label"], "inner"
        ).select("tx", "ty", "local_label", "new_dn")
    else:
        map_df = local_df(spark, 
            [], "tx long, ty long, local_label int, new_dn double"
        )
    root_stats.unpersist()

    ts = tile_size
    nd = 0.0 if nodata is None else float(nodata)

    def apply_tile(key, pdf: pd.DataFrame) -> pd.DataFrame:
        tx, ty = int(key[0]), int(key[1])
        tile_row = pdf.iloc[0]
        arr = np.frombuffer(
            tile_row["data"], dtype=np.dtype(tile_row["dtype"])
        ).reshape(ts, ts)
        mask = None if nodata is None else arr != nodata
        labels = label_tile(arr, mask=mask, connect8=connect8)
        lut_max = int(labels.max()) + 1 if labels.size else 0
        # default: every label keeps its own dn (only CHANGED regions
        # appear in the map)
        lut = np.full(max(lut_max, 1), nd, dtype=np.float64)
        for lab, dn, _cnt, _, _ in region_table(arr, labels):
            if 0 <= lab < lut_max:
                lut[lab] = dn
        for ll, ndn in zip(pdf["local_label"], pdf["new_dn"]):
            if pd.notna(ll) and 0 <= int(ll) < lut_max:
                lut[int(ll)] = ndn
        out = np.where(labels >= 0, lut[np.clip(labels, 0, None)], nd)
        return pd.DataFrame(
            {
                "tx": [tx],
                "ty": [ty],
                "data": [out.astype(np.float64).tobytes()],
                "dtype": ["float64"],
            }
        )

    # broadcast only the collected (gated) map; the distributed-path
    # map can be O(small regions) — shuffle-join it on tile key
    map_side = F.broadcast(map_df) if changed_rows is not None else map_df
    joined = tiles.select("tx", "ty", "data", "dtype").join(
        map_side, ["tx", "ty"], "left"
    )
    return joined.groupBy("tx", "ty").applyInPandas(apply_tile, TILE_OUT_SCHEMA)
