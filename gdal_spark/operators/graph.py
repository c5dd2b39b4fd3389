"""Graph operators over edge DataFrames — the GNM surface.

Reference: the Geographic Network Model ships connected components,
Dijkstra and K-shortest-paths over in-memory graphs (gnm/gnm.h:60-62,
gnm/gnmgraph.h:173-211).  In-memory graphs don't distribute; the Spark
re-expression is iterative label propagation over an edge DataFrame —
each round is one join + one aggregation, and the loop runs O(diameter)
rounds.  ``localCheckpoint`` truncates the growing lineage each round
(without it the plan tree doubles per iteration and the driver, not the
data, becomes the bottleneck at scale).

One size gate serves every operator here (and the polygonize / sieve
label graphs): ``driver_rows`` collects an edge table of at most
``DRIVER_EDGE_LIMIT`` rows, and the operator replays its distributed
round recurrence in driver dicts — the reference's in-memory form,
milliseconds instead of O(log diameter) rounds of fixed job latency.
Larger tables run the distributed loops.  Both sides return the same
schema (typed from the input columns) and the same rows
(tests/test_size_gates.py).
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gdal_spark.session import local_df

# Edge rows a graph may have and still be solved at the driver.  Read
# at call time, never bound as a default, so tests force either side
# with monkeypatch.setattr(graph, "DRIVER_EDGE_LIMIT", 0).
DRIVER_EDGE_LIMIT = 200_000


@contextmanager
def driver_rows(edges: DataFrame, cols):
    """The size gate: persist ``edges``, count at most
    ``DRIVER_EDGE_LIMIT + 1`` rows, and yield the collected ``cols``
    rows when the table fits the driver, else None.  ``edges`` stays
    persisted for the block, so a distributed path run inside it reads
    the cache instead of re-executing the edge lineage."""
    edges.persist()
    try:
        n = edges.limit(DRIVER_EDGE_LIMIT + 1).count()
        if n > DRIVER_EDGE_LIMIT:
            yield None
        else:
            yield edges.select(*cols).collect() if n else []
    finally:
        edges.unpersist()


def _union_find(pairs) -> dict:
    """{node: smallest node id connected to it} over (a, b) pairs — the
    driver form of min-label connected components (path halving, the
    larger root links under the smaller)."""
    parent: dict = {}

    def find(a):
        parent.setdefault(a, a)
        root = a
        while parent[root] != root:
            root = parent[root]
        while parent[a] != root:
            parent[a], a = root, parent[a]
        return root

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {a: find(a) for a in list(parent)}


def _undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Distinct (u, v) in both directions, typed as the node columns."""
    return (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
    )


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 50
) -> DataFrame:
    """(node, component) with component = min node id reachable, both
    typed as the node columns.  Size-gated: a graph that fits the
    driver union-finds there in one pass; larger graphs run the
    distributed pointer-jumping loop."""
    with driver_rows(edges, (src, dst)) as rows:
        if rows is None:
            return _connected_components(edges, src, dst, max_iter)
    schema = _undirected(edges, src, dst).select(
        F.col("u").alias("node"), F.col("u").alias("component")
    ).schema
    return local_df(edges.sparkSession, _union_find(rows).items(), schema)


def _connected_components(
    edges: DataFrame, src: str, dst: str, max_iter: int
) -> DataFrame:
    """Distributed side of ``connected_components``.

    Shuffle shape per round: edges join labels on src (labels are the
    small side until convergence regions grow), then min-aggregate on
    dst.  Big-graph variants (large-star/small-star) drop in behind the
    same signature; plain propagation is exact and O(diameter) rounds.
    """
    # One upfront checkpoint: every round joins against `und`, and the
    # edge list often carries an expensive lineage (e.g. the contour
    # segment self-join) — without this the WHOLE upstream re-executes
    # once per join per round.
    und = _undirected(edges, src, dst).localCheckpoint()
    labels = (
        und.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        prop = (
            und.join(labels.withColumnRenamed("node", "u"), "u")
            .groupBy(F.col("v").alias("node"))
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = labels.join(prop, "node", "left").select(
            "node",
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
            ).alias("label"),
        )
        # pointer jumping (path doubling): label <- label(label).  The
        # neighbor step alone converges in O(diameter) rounds — a
        # 500-segment iso-line would need 500 rounds; one jump step
        # halves every label chain.  TWO jump steps per round (the
        # second reads the once-jumped table) quarter the chains, so
        # the loop runs ~log₄ diameter rounds — and since each round
        # costs a fixed scheduler/checkpoint latency that dominates at
        # bench scale, halving the round count halves the wall time of
        # every iso-line/graph query.  All three joins stay in ONE job
        # per round (lazy until the checkpoint).
        # persist each jump input: a self-join reads its input twice,
        # and two chained jumps would otherwise re-evaluate `stepped`
        # 4× (plan-size doubling per jump).
        cur = stepped.persist()
        hold = [cur]
        for _ in range(2):
            ptr = cur.select(
                F.col("node").alias("label"), F.col("label").alias("_ll")
            )
            cur = cur.join(ptr, "label", "left").select(
                "node",
                F.least(F.col("label"), F.coalesce(F.col("_ll"), F.col("label"))).alias(
                    "label"
                ),
            ).persist()
            hold.append(cur)
        # lazy checkpoint: the convergence count below is the single
        # materializing job for the whole round (it runs while the
        # jump inputs are still cached; unpersist only after)
        new = cur.localCheckpoint(eager=False)
        changed = (
            new.withColumnRenamed("label", "_new")
            .join(labels, "node")
            .filter(F.col("_new") < F.col("label"))
            .count()
        )
        for h in hold:
            h.unpersist()
        labels = new
        if changed == 0:
            break
    return labels.select("node", F.col("label").alias("component"))


def label_propagation(
    edges: DataFrame, rounds: int = 4, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Round-SYNCHRONOUS label propagation (community detection): all
    nodes update simultaneously from the previous round's labels —
    the deterministic spec an oracle can replay round-for-round
    (async/scan-order LPA is implementation-defined; the q68 sieve
    lesson: pin the spec round-synchronous FIRST).  Per round each
    node adopts the label most frequent among its neighbors, ties
    broken by SMALLEST label; isolated nodes keep their own.

    Shuffle shape per round: one edges-x-labels equi-join, one
    (node, label) count aggregation, then the argmax as a plain
    map-side-combinable MAX over an (count, 999-label) encoding —
    never a window sort over the neighbor table.  Labels must be in
    [0, 999] for the encoding (the planted fixtures are); widen the
    factor for bigger graphs."""
    und = _undirected(edges, src, dst).localCheckpoint()
    nodes = und.select(F.col("u").alias("node")).distinct().localCheckpoint()
    labels = nodes.withColumn("lbl", F.col("node"))
    for _ in range(rounds):
        cnt = (
            und.join(
                labels.select(F.col("node").alias("v"), "lbl"), "v"
            )
            .groupBy(F.col("u").alias("node"), "lbl")
            .agg(F.count("*").alias("c"))
        )
        pick = (
            cnt.groupBy("node")
            .agg(F.max(F.col("c") * 1000 + (999 - F.col("lbl"))).alias("code"))
            .select("node", (999 - F.col("code") % 1000).alias("new_lbl"))
        )
        labels = (
            labels.join(pick, "node", "left")
            .select(
                "node",
                F.coalesce("new_lbl", "lbl").cast("long").alias("lbl"),
            )
            .localCheckpoint()
        )
    return labels


def _mst_edges(edges: DataFrame, src: str, dst: str, w: str) -> DataFrame:
    """Undirected (u, v, w) view with u <= v, typed as the input."""
    return edges.select(
        F.least(F.col(src), F.col(dst)).alias("u"),
        F.greatest(F.col(src), F.col(dst)).alias("v"),
        F.col(w).alias("w"),
    )


def boruvka_mst(
    edges: DataFrame, src: str = "src", dst: str = "dst", w: str = "w",
    max_rounds: int = 16,
) -> DataFrame:
    """Minimum spanning forest by Borůvka rounds — the single-link
    clustering backbone (dendrogram = MST edges by weight).  Each
    round every component picks its minimum outgoing edge under the
    total order on (w, u, v) — which breaks weight ties by edge
    identity, exactly the classical condition that keeps tied Borůvka
    acyclic — then the picked edges merge components.  Component
    count at least halves per round, so rounds <= log2(n).

    Size-gated: a graph that fits the driver replays the round
    recurrence in dicts; larger graphs run the distributed rounds.
    The emitted edge SET does not depend on how components are
    labelled, so both sides return the same forest.

    Returns the MST edge set (u, v, w) with u < v; the column types
    are those of the input's node and weight columns."""
    with driver_rows(edges, (src, dst, w)) as rows:
        if rows is None:
            return _boruvka_mst(edges, src, dst, w, max_rounds)
    e = sorted({(min(a, b), max(a, b), ww) for a, b, ww in rows if a != b})
    comp = {}
    for u, v, _w in e:
        comp[u] = u
        comp[v] = v
    mst: set = set()
    for _ in range(max_rounds):
        best: dict = {}
        for u, v, ww in e:
            cu, cv = comp[u], comp[v]
            if cu == cv:
                continue
            s = (ww, u, v)
            if cu not in best or s < best[cu]:
                best[cu] = s
            if cv not in best or s < best[cv]:
                best[cv] = s
        picks = set(best.values())
        if not picks:
            break
        mst |= picks
        root = _union_find((comp[u], comp[v]) for _w, u, v in picks)
        comp = {nd: root.get(c, c) for nd, c in comp.items()}
    return local_df(
        edges.sparkSession, sorted((u, v, ww) for ww, u, v in mst),
        _mst_edges(edges, src, dst, w).schema)


def _boruvka_mst(
    edges: DataFrame, src: str, dst: str, w: str, max_rounds: int
) -> DataFrame:
    """Distributed side of ``boruvka_mst``: each component's pick is a
    map-side-combinable MIN over struct(w, u, v), and components merge
    by a (gated) connected-components pass over the component graph."""
    e = (
        _mst_edges(edges, src, dst, w)
        .filter("u <> v")
        .distinct()
        .localCheckpoint()
    )
    comp = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
        .withColumn("c", F.col("node"))
        .localCheckpoint()
    )
    spark = edges.sparkSession
    mst = spark.createDataFrame([], e.schema)
    for _ in range(max_rounds):
        g = (
            e.join(comp.selectExpr("node AS u", "c AS cu"), "u")
            .join(comp.selectExpr("node AS v", "c AS cv"), "v")
            .filter("cu <> cv")
            .persist()
        )
        sel = F.struct("w", "u", "v").alias("s")
        pick = (
            g.select(F.col("cu").alias("cc"), sel)
            .unionByName(g.select(F.col("cv").alias("cc"), sel))
            .groupBy("cc")
            .agg(F.min("s").alias("s"))
            .select("s.u", "s.v", "s.w")
            .distinct()
            .localCheckpoint()
        )
        g.unpersist()
        if pick.isEmpty():
            break
        mst = mst.unionByName(pick).localCheckpoint()
        cedges = (
            pick.join(comp.selectExpr("node AS u", "c AS cu"), "u")
            .join(comp.selectExpr("node AS v", "c AS cv"), "v")
            .selectExpr("cu AS src", "cv AS dst")
        )
        cc = connected_components(cedges)
        comp = (
            comp.join(cc.selectExpr("node AS c", "component"), "c", "left")
            .select("node",
                    F.coalesce("component", F.col("c")).alias("c"))
            .localCheckpoint()
        )
    return mst


def _weighted(edges: DataFrame, src: str, dst: str, weight: str) -> DataFrame:
    return edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v"), F.col(weight).alias("w")
    )


def _relax(e: DataFrame, dist: DataFrame) -> DataFrame:
    """One Bellman-Ford round: (node, cost, _changed) from the previous
    (node, cost).  Its analysed schema also types the driver side."""
    relax = (
        e.join(dist.withColumnRenamed("node", "u"), "u")
        .select(F.col("v").alias("node"), (F.col("cost") + F.col("w")).alias("cand"))
        .groupBy("node")
        .agg(F.min("cand").alias("cand"))
    )
    return dist.join(relax, "node", "full").select(
        "node",
        F.least(
            F.coalesce(F.col("cost"), F.col("cand")),
            F.coalesce(F.col("cand"), F.col("cost")),
        ).alias("cost"),
        (
            F.col("cost").isNull()
            | (F.coalesce(F.col("cand"), F.col("cost")) < F.col("cost"))
        ).alias("_changed"),
    )


def shortest_paths(
    edges: DataFrame,
    source: int,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    max_iter: int = 100,
) -> DataFrame:
    """Single-source shortest paths — the GNM Dijkstra surface
    (gnm/gnmgraph.h:173) as Bellman-Ford: each round relaxes every
    edge from the previous round's costs, and the loop stops at the
    first round with no improvement.  Dijkstra's priority queue
    doesn't distribute; frontier relaxation is the standard cluster
    form (delta-stepping drops in behind the same signature).

    Size-gated: a graph that fits the driver replays the same
    synchronous rounds in dicts; larger graphs run them as joins with
    a ``localCheckpoint`` per round.  Returns (node, cost) for
    reachable nodes; ``cost`` takes the type of ``0 + weight``
    (bigint for integer weights, double for double weights)."""
    spark = edges.sparkSession
    seed = local_df(spark, [(source, 0)], "node long, cost long")
    with driver_rows(edges, (src, dst, weight)) as rows:
        if rows is None:
            return _shortest_paths(edges, seed, src, dst, weight, max_iter)
    dist = {source: 0}
    for _ in range(max_iter):
        changed = False
        relax: dict = {}
        for u, v, w in rows:
            if u in dist:
                c = dist[u] + w
                if c < relax.get(v, c + 1):
                    relax[v] = c
        for v, c in relax.items():
            if c < dist.get(v, c + 1):
                dist[v] = c
                changed = True
        if not changed:
            break
    schema = _relax(_weighted(edges, src, dst, weight), seed).drop("_changed").schema
    return local_df(spark, dist.items(), schema)


def _shortest_paths(
    edges: DataFrame, dist: DataFrame, src: str, dst: str, weight: str,
    max_iter: int,
) -> DataFrame:
    """Distributed side of ``shortest_paths``."""
    # relaxed against every round — pin the lineage once
    e = _weighted(edges, src, dst, weight).localCheckpoint()
    dist = dist.localCheckpoint()
    for _ in range(max_iter):
        new = _relax(e, dist).localCheckpoint(eager=False)
        changed = new.filter(F.col("_changed")).count()
        dist = new.drop("_changed")
        if changed == 0:
            break
    return dist


def _topk_round(e: DataFrame, dist: DataFrame, seed: DataFrame, k: int) -> DataFrame:
    """D(v) ← topk(seed ∪ {c + w : (u, v, w), c ∈ D(u)}) as (node, costs)."""
    cand = e.join(dist.withColumnRenamed("node", "u"), "u").select(
        F.col("v").alias("node"),
        F.explode(F.transform("costs", lambda c: c + F.col("w"))).alias("cand"),
    )
    return (
        seed.unionByName(cand)
        .groupBy("node")
        .agg(
            F.slice(
                F.array_sort(F.array_distinct(F.collect_list("cand"))), 1, k
            ).alias("costs")
        )
    )


def _ranked(dist: DataFrame) -> DataFrame:
    return dist.select(
        "node", F.posexplode("costs").alias("rank", "cost")
    ).select("node", F.col("rank").cast("int").alias("rank"), "cost")


def k_shortest_costs(
    edges: DataFrame,
    source: int,
    k: int = 3,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    max_iter: int = 100,
) -> DataFrame:
    """K-shortest-paths surface (GNM ``GetKShortestPaths``,
    gnm/gnmgraph.h:195 — Yen's algorithm over an in-memory graph).

    Yen repeats SSSP with edges removed — K·V sequential SSSP calls
    don't distribute.  The cluster re-expression is a TOP-K
    Bellman-Ford closure: per node keep the k smallest DISTINCT
    reachable costs, and each round recompute

        D(v) ← topk( {0 | v = source} ∪ { c + w : (u,v,w) ∈ E,
                                           c ∈ D(u) } )

    from scratch (recomputing, rather than accumulating into the
    previous D, keeps every cost attributable to a unique walk
    decomposition — no double counting across rounds).  Keeping k
    distinct costs per node is sufficient: if the j-th (j ≤ k) distinct
    cost at v extends cost c_u at u, fewer than k distinct costs at u
    can undercut c_u, else their extensions would already displace it.

    On a DAG every walk is loopless, so the result is exactly the k
    smallest distinct loopless path costs — the Yen cost vector; on
    cyclic graphs walks may revisit nodes (documented divergence from
    Yen's loopless contract, which is inherently sequential).

    Size-gated: a graph that fits the driver replays the same rounds
    in dicts; larger graphs run one shuffle per round (join on u,
    explode, min-combine) with a ``localCheckpoint`` per round.
    Returns (node, rank, cost) with rank 0..k-1 per reachable node;
    ``cost`` is typed as in ``shortest_paths``.
    """
    spark = edges.sparkSession
    seed = local_df(spark, [(source, 0)], "node long, cand long")
    dist0 = local_df(spark, [(source, [0])], "node long, costs array<long>")
    with driver_rows(edges, (src, dst, weight)) as rows:
        if rows is None:
            return _k_shortest_costs(
                edges, seed, dist0, k, src, dst, weight, max_iter)
    dist = {source: [0]}
    for _ in range(max_iter):
        cand: dict = {source: {0}}
        for u, v, w in rows:
            if u in dist:
                cand.setdefault(v, set()).update(c + w for c in dist[u])
        new = {v: sorted(s)[:k] for v, s in cand.items()}
        if new == dist:
            break
        dist = new
    schema = _ranked(
        _topk_round(_weighted(edges, src, dst, weight), dist0, seed, k)).schema
    return local_df(
        spark,
        [(v, rank, c) for v, costs in dist.items() for rank, c in enumerate(costs)],
        schema,
    )


def _k_shortest_costs(
    edges: DataFrame, seed: DataFrame, dist: DataFrame, k: int, src: str,
    dst: str, weight: str, max_iter: int,
) -> DataFrame:
    """Distributed side of ``k_shortest_costs``."""
    e = _weighted(edges, src, dst, weight).localCheckpoint()
    dist = dist.localCheckpoint()
    for _ in range(max_iter):
        new = _topk_round(e, dist, seed, k).localCheckpoint(eager=False)
        changed = (
            new.withColumnRenamed("costs", "_new")
            .join(dist, "node", "full")
            .filter(~F.col("_new").eqNullSafe(F.col("costs")))
            .count()
        )
        dist = new
        if changed == 0:
            break
    return _ranked(dist)
