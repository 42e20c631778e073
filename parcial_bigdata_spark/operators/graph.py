"""Iterative graph analytics beyond connectivity — PageRank by fixed
power iteration, entirely as DataFrame ops.

Beyond-reference capability (SURVEY.md §2.11 — the reference has no
graph surface): the influence/centrality companion of the
connected-components family (`operators/dedup.py:duplicate_components`).
CC answers "which records are the same thing"; PageRank answers "which
nodes matter", the standard link-quality signal a web-scale training
corpus pipeline computes over its crawl graph.

Design mirrors ``similarity.train_spherical_kmeans``: a FIXED iteration
count, not a convergence test — per-round cost is known, the result is
reproducible, and an unrolled SQL twin can verify it.  Per-round
lineage is cut with ``iter_checkpoint`` and the previous round's
blocks are released eagerly (same lifecycle as the CC star loop).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _canonical_undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Distinct undirected edge set as (u, v) with u < v; self-loops and
    null endpoints dropped.  Input direction and duplicates are
    irrelevant to triangle structure."""
    missing = {src, dst} - set(edges.columns)
    if missing:
        raise ValueError(f"triangles: edges missing columns: {sorted(missing)}")
    s, d = F.col(src), F.col(dst)
    return (
        edges.where(s.isNotNull() & d.isNotNull() & (s != d))
        .select(F.least(s, d).alias("u"), F.greatest(s, d).alias("v"))
        .distinct()
    )


def _triangles(
    edges: DataFrame, src: str, dst: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """(ed, deg, oriented, corners) of the undirected graph; the first
    three are ``iter_checkpoint``-materialized (each is reused 2-3
    times downstream — without the lineage cut the co-purchase edge
    build replans once per reuse and the physical tree explodes).

    Degree-ordered orientation (the standard distributed triangle plan,
    cf. Suri & Vassilvitskii, "Counting Triangles and the Curse of the
    Last Reducer", WWW'11): each edge points from its lower endpoint to
    its higher endpoint under the total order (degree, node).  Every
    node's out-degree is then O(√m), so Σ|N⁺| work is bounded and no
    hub node ever explodes.  Enumeration is the EDGE-ITERATOR form:
    out-neighbor lists (collect_list, ≤O(√m) members each) join onto
    the oriented edge list by both endpoints and the per-edge
    ``array_intersect`` — row-local, codegen'd — yields each triangle
    exactly once as (a, x, y) = (a, b, w∈N⁺(a)∩N⁺(b)) with
    π(a) < π(x) < π(y).  Measured at sf0.1 (1.2M edges, 1.88M
    triangles): 7.6 s vs 15.1 s for the wedge-self-join+probe-join
    formulation — the 35M-row wedge stream never rides a shuffle here;
    the only moved bytes are the adjacency arrays (2 joins).
    """
    from parcial_bigdata_spark.operators.scale import iter_checkpoint

    ed = iter_checkpoint(_canonical_undirected(edges, src, dst))
    deg = iter_checkpoint(
        ed.select(F.col("u").alias("node"))
        .unionByName(ed.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("__deg"))
    )
    with_deg = ed.join(
        deg.select(F.col("node").alias("u"), F.col("__deg").alias("__du")), "u"
    ).join(deg.select(F.col("node").alias("v"), F.col("__deg").alias("__dv")), "v")
    ku = F.struct(F.col("__du").alias("d"), F.col("u").alias("n"))
    kv = F.struct(F.col("__dv").alias("d"), F.col("v").alias("n"))
    u_first = ku < kv
    oriented = iter_checkpoint(
        with_deg.select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        )
    )
    adj = oriented.groupBy("a").agg(F.collect_list("b").alias("__nbrs"))
    corners = (
        oriented.join(adj, "a")
        .join(
            adj.select(F.col("a").alias("b"), F.col("__nbrs").alias("__nbrs_b")),
            "b",
        )
        .select(
            "a",
            F.col("b").alias("x"),
            F.explode(F.array_intersect("__nbrs", "__nbrs_b")).alias("y"),
        )
    )
    return ed, deg, oriented, corners


def triangle_stats(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Single-row global triangle census of an undirected graph:
    (n_nodes, n_edges, n_wedges, n_triangles, clustering) where
    n_wedges = Σ C(deg, 2) (length-2 paths) and clustering is the
    global clustering coefficient 3·T / wedges.

    All three inputs to the final row are single-row aggregates, so the
    closing cross joins move one row each — no driver action anywhere.
    The returned frame is eagerly materialized (it is one row) and the
    intermediate edge/degree/orientation blocks are released.
    """
    from parcial_bigdata_spark.operators.scale import (
        iter_checkpoint,
        release_checkpoint,
    )

    ed, deg, oriented, corners = _triangles(edges, src, dst)
    edge_count = ed.agg(F.count(F.lit(1)).alias("n_edges"))
    node_stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.expr("__deg * (__deg - 1) DIV 2")).alias("n_wedges"),
    )
    tri_count = corners.agg(F.count(F.lit(1)).alias("n_triangles"))
    out = iter_checkpoint(
        node_stats.crossJoin(F.broadcast(edge_count))
        .crossJoin(F.broadcast(tri_count))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            (F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges")).alias(
                "clustering"
            ),
        )
    )
    for frame in (ed, deg, oriented):
        release_checkpoint(frame)
    return out


def node_triangle_counts(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(node, n_triangles) — per-node triangle participation (each
    triangle credits all three corners).  Nodes in no triangle are
    absent; callers left-join against their vertex set if they need
    zeros.  The corner explode is row-local; the closing groupBy is a
    map-side-combining count on the node key.  The returned frame
    (≤ |V| rows — node + count only) is eagerly materialized and the
    intermediate blocks released."""
    from parcial_bigdata_spark.operators.scale import (
        iter_checkpoint,
        release_checkpoint,
    )

    ed, deg, oriented, corners = _triangles(edges, src, dst)
    out = iter_checkpoint(
        corners.select(
            F.explode(F.array(F.col("a"), F.col("x"), F.col("y"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    for frame in (ed, deg, oriented):
        release_checkpoint(frame)
    return out


def local_clustering_histogram(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Decile histogram of per-node LOCAL clustering coefficients
    (`graph_local_clustering`): c_v = 2·T_v / (deg_v·(deg_v − 1)) over
    every node with deg ≥ 2 — the node-level sibling of
    `graph_triangle_stats`' single global coefficient.  The
    distribution (not the mean) is what distinguishes a clustered-core
    + random-periphery graph from a uniformly clustered one at the
    same global coefficient (Watts-Strogatz's point).

    Exactness: NO floating point anywhere — the decile is the integer
    ``least(20·T_v div (deg·(deg−1)), 9)`` (2·T·10 over the wedge
    count; the div of non-negative integers is floor == truncate on
    both engines, the ``c = 1.0`` boundary clamps into the top
    bucket), and the outputs are pure counts.  Zero-triangle nodes
    with deg ≥ 2 land in bucket 0 via the left join — dropping them
    would overstate clustering.

    Scale: the triangle side is the degree-ordered edge-iterator plan
    (`_triangles` — O(√m) out-degrees, no hub explosion); T_v is one
    map-side-combining count over the corner explode; the histogram is
    a ≤10-group aggregate over the |V|-row joined frame.  No window
    over row data, no driver loop."""
    from parcial_bigdata_spark.operators.scale import (
        iter_checkpoint,
        release_checkpoint,
    )

    ed, deg, oriented, corners = _triangles(edges, src, dst)
    tv = (
        corners.select(
            F.explode(F.array(F.col("a"), F.col("x"), F.col("y"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    per_node = (
        deg.where(F.col("__deg") >= 2)
        .join(tv, "node", "left")
        .select(
            "node",
            F.col("__deg").alias("deg"),
            F.coalesce(F.col("t"), F.lit(0)).alias("t"),
        )
    )
    bucket = F.least(
        F.expr("20 * t DIV (deg * (deg - 1))"), F.lit(9)
    ).cast("int")
    out = iter_checkpoint(
        per_node.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("t").alias("triangle_corners"),
        )
        .orderBy("bucket")
    )
    for frame in (ed, deg, oriented):
        release_checkpoint(frame)
    return out


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """Ranks after ``iterations`` rounds of the power method over the
    DISTINCT edge set: ``r' = (1-d)/N + d · Σ r(u)/outdeg(u)`` over
    in-edges.  Returns (node, rank) for every vertex incident to an
    edge; null endpoints are dropped (no identity).

    Textbook simplified variant: dangling-node mass leaks (no
    redistribution term) — deterministic, and exactly mirrored by the
    unrolled DuckDB oracle.  Rank sums therefore decay below 1 when
    sinks exist; relative ordering — the signal PageRank is used for —
    is unaffected.

    Scale shape (per round, the standard distributed PageRank plan):
    one shuffle join of ranks onto the edge list by source, one
    map-side-combining groupBy on destination for the in-sums, one
    left join back onto the vertex set.  Nothing but (node, rank)
    doubles ride any shuffle.  Hot destinations (a page every node
    links to) skew the groupBy key — that is why in-sums are a groupBy
    and not a window: AQE splits an oversized partial-aggregate
    partition at runtime.  The vertex count N travels as a broadcast
    single-row frame, never a driver-side action.
    """
    if iterations <= 0:
        raise ValueError("pagerank: iterations must be positive")
    if not 0.0 < damping < 1.0:
        raise ValueError("pagerank: damping must be in (0, 1)")
    missing = {src, dst} - set(edges.columns)
    if missing:
        raise ValueError(f"pagerank: edges missing columns: {sorted(missing)}")
    from parcial_bigdata_spark.operators.scale import (
        iter_checkpoint,
        release_checkpoint,
    )

    ed = iter_checkpoint(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .where(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .distinct()
    )
    nodes = iter_checkpoint(
        ed.select(F.col("src").alias("node"))
        .unionByName(ed.select(F.col("dst").alias("node")))
        .distinct()
    )
    # out-degree of the distinct edge set; reused every round, so its
    # (shallow) lineage is cut once rather than re-aggregated per round
    deg = iter_checkpoint(
        ed.groupBy("src").agg(F.count(F.lit(1)).alias("__out_deg"))
    )
    total = F.broadcast(
        nodes.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    )
    # teleport constant evaluated HERE (1.0 - damping in driver-side
    # float) so the oracle can reproduce the exact double by writing
    # the same subtraction — a 0.15 literal is 1 ulp away
    teleport = 1.0 - damping

    ranks = nodes.crossJoin(total).select(
        "node", (F.lit(1.0) / F.col("__n")).alias("rank"), "__n"
    )
    prev: DataFrame | None = None
    for _ in range(iterations):
        in_sums = (
            ed.join(deg, "src")
            .join(
                ranks.select(F.col("node").alias("src"), "rank"), "src"
            )
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("__out_deg")).alias("__contrib"),
            )
            .groupBy("node")
            .agg(F.sum("__contrib").alias("__in_sum"))
        )
        new_ranks = iter_checkpoint(
            ranks.select("node", "__n")
            .join(in_sums, "node", "left")
            .select(
                "node",
                (
                    F.lit(teleport) / F.col("__n")
                    + F.lit(damping) * F.coalesce("__in_sum", F.lit(0.0))
                ).alias("rank"),
                "__n",
            )
        )
        # the new round is eagerly materialized; the previous round's
        # blocks are dead (round 0's ranks frame is plan-only — the
        # None guard skips it)
        release_checkpoint(prev)
        prev, ranks = new_ranks, new_ranks
    for frame in (ed, nodes, deg):
        release_checkpoint(frame)
    return ranks.select("node", "rank")


def kcore(
    edges: DataFrame,
    k: int = 2,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 8,
) -> DataFrame:
    """The k-CORE of an undirected graph: the (unique) maximal subgraph
    in which every node has internal degree ≥ k, computed by iterative
    peeling — drop every node below degree k, recompute degrees inside
    the survivors, repeat to fixpoint.  Returns (node, internal_degree)
    for the core members.  The community-detection / spam-filtering
    primitive: near-dup boilerplate rings and link farms concentrate in
    high-k cores.

    The fixpoint is unique and ORDER-INDEPENDENT (peeling is a monotone
    operator), so the result is exact and engine-portable — the DuckDB
    oracle unrolls ``max_rounds`` peel rounds (extra rounds past
    convergence are no-ops by monotonicity, so the unroll depth only
    needs to be ≥ the true peel depth).  The operator RAISES if the
    peel has not converged after ``max_rounds`` — a silent truncation
    would diverge from the fixpoint semantics (and the oracle) without
    a trace.

    Per round: one semi-join of the edge list against the surviving
    node set per endpoint + one map-side-combining degree groupBy —
    all linear, AQE-splittable; the surviving-node frame is lineage-cut
    per round (``iter_checkpoint``) like the CC star rounds.  Rounds
    are bounded by the graph's degeneracy ordering depth, O(log n) on
    the clique-heavy graphs near-dup pipelines produce."""
    if k < 1:
        raise ValueError("kcore: k must be >= 1")
    from parcial_bigdata_spark.operators.scale import (
        iter_checkpoint,
        release_checkpoint,
    )

    global _LAST_KCORE_STATS

    und = iter_checkpoint(
        edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
        .where(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .where(F.col(src) != F.col(dst))
        .unionByName(
            edges.select(F.col(dst).alias("s"), F.col(src).alias("t"))
            .where(F.col(src).isNotNull() & F.col(dst).isNotNull())
            .where(F.col(src) != F.col(dst))
        )
        .distinct()
    )
    live = und
    prev_nodes = None
    # per-round surviving-node counts (free: the convergence probe
    # already materializes each count) — the engagement trace the
    # bench probe persists so a peel-layout regression shows up in
    # BENCH JSON like CC's contract_in/out (round-12 verdict item 8)
    round_nodes: list[int] = []
    for rnd in range(max_rounds):
        deg = live.groupBy("s").agg(F.count(F.lit(1)).alias("internal_degree"))
        members = deg.where(F.col("internal_degree") >= k)
        n_members = members.count()  # bounded scalar: convergence probe
        round_nodes.append(n_members)
        if prev_nodes is not None and n_members == prev_nodes:
            _LAST_KCORE_STATS = {
                "peel_rounds": rnd,
                "core_nodes": n_members,
                "round_nodes": round_nodes,
            }
            return members.select(
                F.col("s").alias("node"), "internal_degree"
            ).orderBy("node")
        prev_nodes = n_members
        keep = members.select("s")
        nxt = iter_checkpoint(
            live.join(keep, "s", "left_semi")
            .join(keep.withColumnRenamed("s", "t"), "t", "left_semi")
        )
        # nxt is eagerly materialized, so the superseded round's blocks
        # (including the initial edge frame) are safe to free — the CC
        # star-loop convention
        release_checkpoint(live)
        live = nxt
    # one final degree pass: if it equals the last member set we
    # converged exactly at the round budget, else refuse to truncate
    deg = live.groupBy("s").agg(F.count(F.lit(1)).alias("internal_degree"))
    members = deg.where(F.col("internal_degree") >= k)
    if members.count() == prev_nodes:
        _LAST_KCORE_STATS = {
            "peel_rounds": max_rounds,
            "core_nodes": prev_nodes,
            "round_nodes": round_nodes,
        }
        return members.select(
            F.col("s").alias("node"), "internal_degree"
        ).orderBy("node")
    raise RuntimeError(
        f"kcore: peel did not converge within {max_rounds} rounds; "
        "raise max_rounds (the oracle unroll depth must match)"
    )


# Diagnostics from the most recent kcore() run on this driver — the
# scale probe reads measured peel-round counts the same way the CC
# probe reads _LAST_CC_STATS (wall-time conflates per-edge cost with
# round count; rounds are bounded by peel depth, not a scaling axis).
_LAST_KCORE_STATS: dict = {}


def _symmetric_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Both directions of every undirected edge as (s, t), checkpointed:
    the edge frame a layered BFS joins its frontier to every round."""
    from parcial_bigdata_spark.operators.scale import iter_checkpoint

    und = _canonical_undirected(edges, src, dst)
    return iter_checkpoint(
        und.select(F.col("u").alias("s"), F.col("v").alias("t")).unionByName(
            und.select(F.col("v").alias("s"), F.col("u").alias("t"))
        )
    )


def _bfs_dist(e: DataFrame, seed: DataFrame, max_hops: int) -> DataFrame:
    """Layered BFS over the symmetric edge frame ``e`` (from
    ``_symmetric_edges``) from the hop-0 rows of ``seed``: every round
    the frontier joins ``e``, anti-joins everything already labeled and
    becomes the next frontier, until a round labels nothing or
    ``max_hops`` rounds ran.  ``seed``'s columns before ``hop`` key a
    row: ``node`` for one source, ``seed, node`` for several sources
    advancing in the same rounds.  Returns the labeled rows (key
    columns and ``hop``), checkpointed; each round costs one bounded
    convergence count, and superseded checkpoints are released."""
    from parcial_bigdata_spark.operators.scale import (
        iter_checkpoint,
        release_checkpoint,
    )

    keys = seed.columns[:-1]
    dist = iter_checkpoint(seed)
    frontier = dist
    for h in range(1, max_hops + 1):
        reached = (
            frontier.join(e, frontier["node"] == e["s"])
            .select(*keys[:-1], F.col("t").alias("node"))
            .distinct()
        )
        new = iter_checkpoint(
            reached.join(dist, keys, "left_anti").select(
                *keys, F.lit(h).alias("hop")
            )
        )
        if new.count() == 0:  # bounded scalar: convergence probe
            release_checkpoint(new)
            break
        nxt = iter_checkpoint(dist.unionByName(new))
        release_checkpoint(dist)
        if frontier is not dist:
            release_checkpoint(frontier)
        dist, frontier = nxt, new
    # the last non-empty frontier's rows already live inside the
    # materialized dist union — release its superseded blocks whether
    # the loop broke on convergence or exhausted max_hops
    if frontier is not dist:
        release_checkpoint(frontier)
    return dist


def bfs_hop_histogram(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 6,
) -> DataFrame:
    """Single-source BFS hop-distance histogram over an undirected
    graph (`graph_bfs_distances`): per-hop reachable-node counts from
    a DETERMINISTIC source (the smallest node id), plus an ``hop = -1``
    row counting nodes not reached within ``max_hops`` — the
    reachability/diameter probe of the graph family (CC answers "same
    component?", this answers "how far?").

    Frontier expansion is layered Pregel style: the round-h frontier
    joins the symmetrized edge list, anti-joins everything already
    labeled, and becomes round h+1 — each node's hop is therefore the
    BFS minimum, unique and engine-portable (the oracle's bounded
    recursive CTE takes min(hop) over the same walk).  The per-round
    convergence probe is a bounded-scalar count, the kcore convention;
    frontiers are lineage-cut per round and superseded checkpoints
    released.  Stopping at ``max_hops`` is part of the CONTRACT (the
    unreached row makes the truncation visible), not a silent budget.

    Scale: each round shuffles |frontier ⋈ edges| rows on the node
    key — Σ over rounds touches each edge twice, O(E) total like CC's
    star rounds; no path enumeration ever materializes."""
    e = _symmetric_edges(edges, src, dst)
    nodes = e.select(F.col("s").alias("node")).distinct()
    seed = (
        nodes.agg(F.min("node").alias("node"))
        .where(F.col("node").isNotNull())
        .select("node", F.lit(0).alias("hop"))
    )
    dist = _bfs_dist(e, seed, max_hops)
    hops = dist.groupBy("hop").agg(F.count(F.lit(1)).alias("n_nodes"))
    unreached = (
        nodes.join(dist, "node", "left_anti")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .select(F.lit(-1).alias("hop"), "n_nodes")
    )
    return hops.unionByName(unreached).orderBy("hop")


def degree_histogram(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Power-of-two degree histogram of an undirected graph
    (`graph_degree_hist`) — the power-law / hub-structure readout that
    decides whether the triangle orientation and LSH bucket caps have
    heavy-tailed hubs to defend against.

    Integer-exact end-to-end: degrees are exact counts over the
    canonical undirected edge set, buckets are floor(log2(degree))
    computed by BIT LENGTH arithmetic (no float log), and the summary
    is a ≤64-row aggregate.  Two linear shuffles (degree groupBy,
    bucket groupBy)."""
    und = _canonical_undirected(edges, src, dst)
    deg = (
        und.select(F.col("u").alias("node"))
        .unionByName(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    # floor(log2(d)) without libm: d in [2^k, 2^(k+1)) writes with
    # exactly k+1 binary digits, so the bucket is len(bin(d)) - 1
    bucket = (F.length(F.conv(F.col("degree"), 10, 2)) - 1).cast("int")
    return (
        deg.select("degree", bucket.alias("log2_bucket"))
        .groupBy("log2_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("degree").alias("min_degree"),
            F.max("degree").alias("max_degree"),
        )
        .orderBy("log2_bucket")
    )


def degree_assortativity(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Degree-assortativity coefficient of an undirected graph
    (`graph_assortativity`): the Pearson correlation of the endpoint
    degrees over every edge, counted in both directions (the Newman
    convention) — positive r means hubs attach to hubs (social-graph
    shape), negative means hub-and-spoke (dependency/star shape).
    Alongside the degree histogram it is the one-number structural
    health readout for the co-purchase graph.

    EXACT-integer Pearson: degrees are integers and the both-directions
    edge list makes the x/y marginals identical, so
    r = (n·Σxy − (Σx)²) / (n·Σx² − (Σx)²) — an integer-over-integer
    ratio accumulated in decimal(38,0), with ONE double division at the
    edge (no sqrt needed in the symmetric form) before the shared
    round-6.  A degree-regular graph (zero variance) reports NULL.

    Scale: degrees are one map-side-combining groupBy; the two
    degree lookups are |nodes|-sized joins onto the edge list; the
    closing sums collapse to one row.  The edge and degree frames are
    ``iter_checkpoint``-materialized (the ``_triangles`` precedent):
    each is consumed 2-4 times downstream and the co-purchase edge
    build would otherwise replan per consumer."""
    from parcial_bigdata_spark.functions.money import ratio_round
    from parcial_bigdata_spark.operators.scale import iter_checkpoint

    ed = iter_checkpoint(_canonical_undirected(edges, src, dst))
    deg = iter_checkpoint(
        ed.select(F.col("u").alias("node"))
        .unionByName(ed.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("__deg"))
    )
    both = ed.select(F.col("u").alias("a"), F.col("v").alias("b")).unionByName(
        ed.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    dx = F.col("__dx").cast("decimal(38,0)")
    dy = F.col("__dy").cast("decimal(38,0)")
    sums = (
        both.join(
            deg.select(F.col("node").alias("a"), F.col("__deg").alias("__dx")),
            "a",
        )
        .join(
            deg.select(F.col("node").alias("b"), F.col("__deg").alias("__dy")),
            "b",
        )
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
            F.sum(dx).alias("sx"),
            F.sum(dx * dy).alias("sxy"),
            F.sum(dx * dx).alias("sxx"),
        )
    )
    node_count = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    edge_count = ed.agg(F.count(F.lit(1)).alias("n_edges"))
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    return (
        sums.crossJoin(F.broadcast(node_count))
        .crossJoin(F.broadcast(edge_count))
        .select(
            "n_nodes",
            "n_edges",
            F.when(den > 0, ratio_round(num / den, 6)).alias(
                "assortativity"
            ),
        )
    )


def label_propagation_communities(
    edges: DataFrame, src: str = "src", dst: str = "dst", rounds: int = 3, k: int = 20
) -> DataFrame:
    """Synchronous min-label propagation communities
    (`graph_label_propagation`) — the cheapest community detector that
    works distributed (Raghavan 2007, deterministic min-label variant):
    every node starts labeled with its own id; each round it adopts the
    minimum label in its closed neighborhood.  After R rounds a node's
    label is exactly min(node id within R hops) — a fixed, verifiable
    semantics (unlike the random-order variant), and the first R
    rounds of the connected-components star algorithm.

    Returns the top-``k`` communities by size (ties: community id
    ascending) — community id = the R-hop minimum node id.

    Scale: each round is one |E|-row equi-join + map-side-combining
    min aggregate (the same per-round shape as PageRank here); rounds
    are lineage-cut with ``iter_checkpoint`` and released eagerly, so
    R rounds cost R linear passes, not an exponential plan tree."""
    from parcial_bigdata_spark.operators.scale import (
        iter_checkpoint,
        release_checkpoint,
    )

    ed = _canonical_undirected(edges, src, dst)
    # closed-neighborhood adjacency: both directions + self-loop
    nbr = iter_checkpoint(
        ed.select(F.col("u").alias("a"), F.col("v").alias("b"))
        .unionByName(ed.select(F.col("v").alias("a"), F.col("u").alias("b")))
        .unionByName(
            ed.select(F.col("u").alias("n"))
            .unionByName(ed.select(F.col("v").alias("n")))
            .distinct()
            .select(F.col("n").alias("a"), F.col("n").alias("b"))
        )
    )
    labels = nbr.select(F.col("a").alias("node")).distinct().select(
        "node", F.col("node").alias("lab")
    )
    prev = None
    for _ in range(int(rounds)):
        labels = iter_checkpoint(
            nbr.join(
                labels.select(F.col("node").alias("b"), "lab"), "b"
            )
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("lab").alias("lab"))
        )
        release_checkpoint(prev)
        prev = labels
    out = (
        labels.groupBy(F.col("lab").alias("community_id"))
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy(F.col("n_members").desc(), F.col("community_id").asc())
        .limit(int(k))
    )
    return out


def common_neighbor_scores(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_degree: int = 64,
    k: int = 20,
) -> DataFrame:
    """Common-neighbor / Jaccard link prediction
    (`graph_common_neighbors`): for NON-adjacent node pairs, count
    shared neighbors and score Jaccard |N(u)∩N(v)| / |N(u)∪N(v)| —
    the classic "who should be connected" ranking (Liben-Nowell &
    Kleinberg 2003); on the co-purchase graph it is the
    market-basket recommendation candidate list.

    Scale: the wedge join (u—z—v through each middle node z) is
    quadratic in z's degree, so nodes with degree > ``max_degree``
    are EXCLUDED as wedge middles (the standard hub cap — same
    posture as the LSH 64-member bucket cap: a hub's wedge set is
    recommendation noise anyway; the cap bounds per-key fanout at
    max_degree², making the join skew-proof).  The cap is part of the
    operator's declared semantics and the oracle replays it.
    Adjacent pairs are removed with a broadcast-free left_anti join on
    the canonical edge set; degrees are FULL degrees (the cap filters
    wedge middles, not score inputs).

    Determinism: counts and degrees are integers; Jaccard is one IEEE
    division rounded at the edge; ranking is (common desc, jaccard
    desc, u asc, v asc) — a total order."""
    from parcial_bigdata_spark.functions.money import ratio_round
    from parcial_bigdata_spark.operators.scale import iter_checkpoint

    ed = iter_checkpoint(_canonical_undirected(edges, src, dst))
    both = ed.unionByName(
        ed.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = both.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    mids = deg.where(F.col("deg") <= max_degree).select(
        F.col("u").alias("z")
    )
    half = both.select(F.col("v").alias("z"), F.col("u").alias("n")).join(
        mids, "z"
    )
    wedges = (
        half.select("z", F.col("n").alias("a"))
        .join(half.select("z", F.col("n").alias("b")), "z")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    cand = wedges.join(
        ed,
        (wedges["a"] == ed["u"]) & (wedges["b"] == ed["v"]),
        "left_anti",
    )
    scored = (
        cand.join(deg.select(F.col("u").alias("a"), F.col("deg").alias("deg_a")), "a")
        .join(deg.select(F.col("u").alias("b"), F.col("deg").alias("deg_b")), "b")
    )
    jac = F.col("common").cast("double") / (
        F.col("deg_a") + F.col("deg_b") - F.col("common")
    ).cast("double")
    return (
        scored.select(
            F.col("a").alias("u"),
            F.col("b").alias("v"),
            "common",
            F.col("deg_a").cast("long").alias("deg_u"),
            F.col("deg_b").cast("long").alias("deg_v"),
            ratio_round(jac, 6).alias("jaccard"),
        )
        .orderBy(
            F.col("common").desc(),
            F.col("jaccard").desc(),
            F.col("u").asc(),
            F.col("v").asc(),
        )
        .limit(k)
    )


def harmonic_closeness(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_seeds: int = 8,
    max_hops: int = 4,
) -> DataFrame:
    """Harmonic closeness centrality from deterministic seed nodes
    (`graph_harmonic_closeness`): H(s) = Σ_{v reached, v≠s} 1/d(s, v)
    within ``max_hops`` — the centrality that stays well-defined on
    disconnected graphs (Boldi & Vigna 2014), computed for the
    ``n_seeds`` smallest node ids as a MULTI-source layered BFS (every
    seed's frontier advances in the same round, keyed (seed, node), so
    the round count stays ``max_hops`` regardless of seed count — the
    standard trick for landmark/centrality sampling at scale).

    The hop-``max_hops`` truncation is part of the declared contract
    (the oracle replays it); n_within_ball makes it visible.  The
    harmonic sum is ≤``max_hops`` IEEE terms (count_h · (1/h)) in fixed
    hop order — engine-identical.

    Scale: per round one |frontier ⋈ edges| shuffle on the node key +
    one left_anti against the labeled set; total work O(n_seeds · E)
    worst case, frontiers lineage-cut per round."""
    from parcial_bigdata_spark.functions.money import ratio_round

    e = _symmetric_edges(edges, src, dst)
    seeds = (
        e.select(F.col("s").alias("node"))
        .distinct()
        .orderBy("node")
        .limit(n_seeds)
        .select(F.col("node").alias("seed"), F.col("node"), F.lit(0).alias("hop"))
    )
    dist = _bfs_dist(e, seeds, max_hops)
    per_hop = (
        dist.where(F.col("hop") > 0)
        .groupBy("seed", "hop")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # fixed hop order: sum over the <= max_hops struct array, not the
    # shuffle order
    packed = per_hop.groupBy("seed").agg(
        F.sum("c").alias("n_within_ball"),
        F.sort_array(F.collect_list(F.struct("hop", "c"))).alias("hs"),
    )
    harm = F.aggregate(
        "hs",
        F.lit(0.0),
        lambda acc, s: acc
        + s["c"].cast("double") * (F.lit(1.0) / s["hop"].cast("double")),
    )
    return packed.select(
        "seed",
        "n_within_ball",
        ratio_round(harm, 6).alias("harmonic_closeness"),
    ).orderBy("seed")


def rich_club_coefficients(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    ks=(25, 50, 100),
) -> DataFrame:
    """Rich-club coefficients at fixed club sizes
    (`graph_rich_club`): for the top-k nodes by degree (ties broken by
    node id — a total order), the realized fraction of the k·(k−1)/2
    possible intra-club edges (Zhou & Mondragón 2004) — the
    hub-interconnection diagnostic that distinguishes an oligarchy of
    interlinked hubs from independent stars (assortativity's summary
    number can't separate them).

    Scale: degrees are one map-side aggregate; the club membership is a
    TakeOrdered top-max(k) (driver-bounded by the declared club size,
    never |nodes|) broadcast back over the edge list; per-edge club
    rank is greatest(rank_u, rank_v) and ALL club sizes reduce in ONE
    conditional-sum aggregate over that stream."""
    from pyspark.sql import Window

    from parcial_bigdata_spark.functions.money import ratio_round
    from parcial_bigdata_spark.operators.scale import iter_checkpoint

    # ed feeds the degree line AND both membership joins; deg feeds the
    # club AND the node count — checkpoint both or each reference
    # replans the edge build (the _triangles lifecycle)
    ed = iter_checkpoint(_canonical_undirected(edges, src, dst))
    sym = ed.unionByName(
        ed.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = iter_checkpoint(
        sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    )
    kmax = max(ks)
    top = (
        deg.orderBy(F.col("deg").desc(), F.col("u").asc())
        .limit(kmax)
        .select(
            "u",
            F.row_number()
            .over(
                Window.orderBy(F.col("deg").desc(), F.col("u").asc())
            )
            .alias("rk"),
        )
    )
    ranked = (
        ed.join(
            F.broadcast(top.select(F.col("u"), F.col("rk").alias("rk_u"))),
            "u",
        )
        .join(
            F.broadcast(
                top.select(F.col("u").alias("v"), F.col("rk").alias("rk_v"))
            ),
            "v",
        )
        .select(F.greatest("rk_u", "rk_v").alias("rmax"))
    )
    agg = ranked.groupBy().agg(
        *[
            F.sum(F.when(F.col("rmax") <= k, 1).otherwise(0)).alias(
                f"e_{k}"
            )
            for k in ks
        ]
    )
    n_nodes = deg.groupBy().agg(F.count(F.lit(1)).alias("n_nodes"))
    j = agg.crossJoin(F.broadcast(n_nodes))
    # one explode, not a per-k union — a union branch would replan the
    # whole edge/degree subtree once per club size
    exploded = j.select(
        "n_nodes",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("club_size"),
                        F.coalesce(F.col(f"e_{k}"), F.lit(0)).alias("e"),
                    )
                    for k in ks
                ]
            )
        ).alias("x"),
    ).select("n_nodes", "x.club_size", "x.e")
    kk = F.least(F.col("club_size"), F.col("n_nodes"))
    possible = (kk * (kk - 1) / 2).cast("long")
    return exploded.select(
        "club_size",
        F.col("e").alias("n_edges_within"),
        possible.alias("n_possible"),
        ratio_round(
            F.col("e").cast("double") / possible.cast("double"), 6
        ).alias("coefficient"),
    ).orderBy("club_size")
