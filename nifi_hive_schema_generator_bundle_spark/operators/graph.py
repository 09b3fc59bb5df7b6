"""Iterative graph analytics over edge-list DataFrames.

``connected_components`` (operators/dedup.py) covers reachability;
``pagerank`` here covers weighted propagation — the influence/centrality
signal (which suppliers anchor the part market, which documents dominate
a link graph). Both follow the same Spark-idiomatic iteration shape:
each round is a join + partial-agg job over (node, value) pairs keyed by
narrow ids, the driver holds only loop control, AQE re-plans every round
from runtime sizes.

At scale: per iteration the shuffle carries one (dst, double) row per
edge — map-side combined to one row per (partition, dst). Rank vectors
are never collected; iteration count is fixed (power iteration
converges geometrically; 5-20 rounds is the standard operating range)
unless ``tol`` requests the L1-delta early stop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import round_checkpoints

__all__ = [
    "pagerank",
    "triangle_count",
    "label_propagation",
    "link_graph_edges",
    "k_core",
    "flatten_hierarchy",
    "shortest_paths",
    "clustering_coefficient",
]


def link_graph_edges(
    df: DataFrame,
    url_col: str = "url",
    links_col: str = "links",
) -> DataFrame:
    """Host-level link graph from crawled pages: one (src, dst) edge per
    distinct (page host, outlink host) pair — the input of the standard
    crawl-curation centrality signal (host PageRank as a quality prior,
    the Common-Crawl ranking recipe).

    ``url_col`` is the page's own URL, ``links_col`` an
    ``array<string>`` of outlink URLs (e.g. from href extraction in the
    WET stage). Hosts come from ``functions.urls.url_host`` — lowercase,
    port/userinfo stripped. Rows whose own URL doesn't parse, outlinks
    that don't parse, and intra-host (self-loop) links are dropped:
    site-internal navigation is noise for a cross-host authority
    signal.

    Scale shape: one narrow projection + explode (output bounded by
    total outlink count, never squared), then a distinct on two short
    host strings — the single shuffle, map-side combined. The edge list
    feeds ``pagerank`` unchanged."""
    from ..functions.urls import url_host

    return (
        df.select(
            url_host(F.col(url_col)).alias("src"),
            F.explode(F.col(links_col)).alias("__link"),
        )
        .select("src", url_host(F.col("__link")).alias("dst"))
        .filter((F.col("src") != "") & (F.col("dst") != ""))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def triangle_count(
    edges: DataFrame, *, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle counts on an undirected graph given as an edge
    list (self-loops dropped, direction and multiplicity ignored) — the
    local-clustering signal that complements ``pagerank`` (centrality)
    and ``connected_components`` (reachability): nodes embedded in
    tightly-knit groups vs. pure hubs.

    Returns (node, n_triangles) for EVERY node of the graph, zeros
    included; Σ n_triangles = 3 × the global triangle count.

    Scale shape — the compact-forward / degree-orientation algorithm,
    not the naive three-way self-join: every edge is oriented from its
    lower-(degree, id) endpoint to the higher one, making the oriented
    out-degree of any node O(√m) on skewed (power-law) graphs. Wedges
    are then one self-join of the oriented list (a→b ⋈ b→c), closed by
    a SEMI join against the same list on (a, c) — total work O(m^1.5)
    worst case instead of Σ deg² for the unoriented wedge join, which
    is the difference between hours and forever on a hub-heavy 100 TB
    edge set. All joins are on narrow id pairs; AQE picks broadcast vs
    shuffle per stage from runtime sizes (no hints — graph shape is
    data-dependent). The closure cannot use a bare 3-column groupBy
    count because each triangle appears exactly once after orientation;
    the per-node fan-out is the 3-row explode of the triangle row,
    bounded by the triangle count itself.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .na.drop()
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    with_deg = (
        e.join(deg.withColumnRenamed("node", "u"), "u")
        .withColumnRenamed("deg", "du")
        .join(
            deg.withColumnRenamed("node", "v").withColumnRenamed(
                "deg", "dv"
            ),
            "v",
        )
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = with_deg.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
    # oriented feeds three consumers (wedge left side, wedge right side,
    # closure semi-join); materialize the double-join once instead of
    # recomputing it per consumer (measured 5.6 -> 3.1 s at sf0.1 on the
    # co-purchase coefficient query)
    ).localCheckpoint(eager=True)
    e2 = oriented.select(
        F.col("a").alias("b2"), F.col("b").alias("c")
    )
    wedges = oriented.join(e2, oriented.b == e2.b2).select(
        "a", "b", "c"
    )
    closer = oriented.select(
        F.col("a").alias("ca"), F.col("b").alias("cc")
    )
    tri = wedges.join(
        closer,
        (wedges.a == closer.ca) & (wedges.c == closer.cc),
        "semi",
    )
    per_node = (
        tri.select(
            F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias(
                "node"
            )
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return deg.select("node").join(per_node, "node", "left").select(
        "node",
        F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias(
            "n_triangles"
        ),
    )


def pagerank(
    edges: DataFrame,
    *,
    iters: int = 5,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    checkpoint_dir: str | None = None,
    tol: float = 0.0,
) -> DataFrame:
    """Power-iteration PageRank on a directed edge list.

    Returns (node, rank) over every node appearing as source or target;
    ranks sum to 1. Dangling nodes (no out-edges) redistribute their
    mass uniformly each round — the standard stochastic-matrix fix, so
    the result is a true probability vector regardless of graph shape.

    Deterministic given the edge set and ``iters`` (modulo float
    summation order; callers comparing across engines should round).

    ``checkpoint_dir``: reliable location (HDFS/S3 on a real cluster)
    for the per-round lineage truncation. The round contract is
    ``session.round_checkpoints``.

    ``tol`` > 0 adds an early stop: iteration ends when the L1 rank
    delta Σ|rank_new − rank_old| drops below ``tol``. The delta rides
    the rank-update pass itself (old rank joins into the update, so the
    probe is a scan of the already-materialized round, not an extra
    join job). The default 0.0 keeps the fixed-``iters`` contract —
    bit-compatible with oracles that unroll the same iteration count.
    """
    if iters < 0:
        raise ValueError("iters must be >= 0")
    if not 0.0 <= damping <= 1.0:
        raise ValueError("damping must be in [0, 1]")
    if tol < 0.0:
        raise ValueError("tol must be >= 0")

    spark = edges.sparkSession
    # edge/degree tables are read twice per iteration (contribution pass
    # + dangling pass) across every round — cache them once or the
    # distinct/agg lineage re-executes ~2·iters times (measured 12.3 s →
    # ~6.3 s warm for 5 rounds at sf0.1); unpersisted before return so
    # repeated calls in a long-lived session don't accumulate blocks.
    # NOTE: the per-round ranks⋈deg join below is NOT duplicated work
    # even though two branches (dangling mass + contributions) consume
    # it — Catalyst's ReuseExchange dedups the shared subplan. A rework
    # to static cached (src,dst,deg) + dangling-set tables measured
    # SLOWER (8.4 → 10.4 s median warm, sf0.1×5 rounds): it trades the
    # reused exchange for an extra per-round semi-join.
    # r9 (guide §2.4: two operations keyed the same way share one
    # exchange): the loop reads `e` keyed by src EVERY round (the
    # contribution join) and `deg` is an aggregate by src — but
    # distinct() leaves the cache partitioned by (src, dst), so each of
    # the `iters` rounds re-exchanged the full edge table and deg paid
    # its own exchange. Hash-partitioning the cache by src once makes
    # the per-round contribution join and the deg aggregate (and the
    # ranks⋈deg build side, which inherits deg's partitioning)
    # exchange-free on the edge side: measured at sf0.1 ×5 rounds,
    # 8.0-9.6 s → 6.5-7.5 s for the loop, plan loses one Exchange per
    # round. Identical results: partitioning only.
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .repartition("src")
        .cache()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst")))
        .distinct()
        .cache()
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).cache()
    try:
        with round_checkpoints(spark, checkpoint_dir) as materialize:
            n = nodes.count()  # control-path scalar (one long), not data
            if n == 0:
                return nodes.withColumn("rank", F.lit(0.0))
            # local rounds are lazy unless the tol probe acts on each: they
            # all materialize inside the one job the final count() runs,
            # while truncation still applies (an eager local checkpoint per
            # round measured 6.8 -> 11.6 s for 5 rounds at sf0.1)
            ranks = materialize(
                nodes.withColumn("rank", F.lit(1.0 / n)), eager=tol > 0.0
            )
            for _ in range(iters):
                with_deg = ranks.join(
                    deg, ranks.node == deg.src, "left"
                ).select("node", "rank", "deg")
                # dangling mass: rank held by nodes with no out-edges
                # (1-row agg)
                dm = with_deg.filter(F.col("deg").isNull()).agg(
                    F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm")
                )
                contrib = (
                    e.join(
                        with_deg.filter(F.col("deg").isNotNull()),
                        e.src == F.col("node"),
                    )
                    .select(
                        F.col("dst"), (F.col("rank") / F.col("deg")).alias("c")
                    )
                    .groupBy("dst")
                    .agg(F.sum("c").alias("s"))
                )
                new_rank = F.lit((1.0 - damping) / n) + F.lit(damping) * (
                    F.coalesce(F.col("s"), F.lit(0.0)) + F.col("dm") / n
                )
                # joining contrib onto the OLD ranks (same rows as `nodes`)
                # lets the per-node |Δrank| ride the update, so the early-stop
                # probe is a plain scan of the materialized round
                updated = (
                    ranks.join(contrib, ranks.node == contrib.dst, "left")
                    .join(F.broadcast(dm))
                    .select(
                        "node",
                        new_rank.alias("rank"),
                        F.abs(new_rank - F.col("rank")).alias("delta"),
                    )
                )
                # truncate lineage each round: 5+ chained joins otherwise
                # compound the plan
                updated = materialize(updated, eager=tol > 0.0)
                ranks = updated.drop("delta")
                if tol > 0.0:
                    l1 = updated.agg(F.sum("delta")).collect()[0][0]
                    if l1 < tol:
                        break
            if checkpoint_dir is None and tol == 0.0:
                # the lazy rounds haven't run yet — run them ONCE here (all
                # marked localCheckpoints materialize inside this single
                # job) so the returned frame reads stored blocks and the
                # finally-block can drop the loop-invariant caches without
                # forcing the caller's action to recompute their lineage
                ranks.count()
            return ranks
    finally:
        e.unpersist()
        nodes.unpersist()
        deg.unpersist()


def label_propagation(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
) -> DataFrame:
    """Synchronous label-propagation community detection (LPA) — the
    fourth graph primitive next to pagerank (centrality),
    connected_components (reachability) and triangle_count (local
    clustering): nodes adopt the most common label among their
    neighbors, so densely connected groups converge onto one label
    while bridges stay unstable. Deterministic variant: every node
    starts labeled with its own id, updates are synchronous, and votes
    tie-break to the SMALLEST label — no randomness, so results are
    reproducible and oracle-replayable (classic async LPA is
    run-dependent by design).

    Returns (id, label) for every node after ``iterations`` rounds.

    Scale shape: per round, one equi-join of the (symmetrized,
    deduplicated) edge list against the nodes-sized label table, a
    map-side-combinable (node, label) count, and a per-node argmax
    window — all keyed on node ids, nothing wider than (id, id, count)
    ever shuffles. The edge table is cached across rounds
    (loop-invariant, like pagerank's); labels are materialized
    per round so the plan DAG stays one-round deep. Community counts
    are typically wanted for a handful of rounds (LPA converges in
    ~5); for long runs route the rounds through
    ``session.round_checkpoints`` as pagerank does.
    """
    from pyspark.sql import Window

    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col("a") != F.col("b")
    )
    und = (
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .cache()
    )
    labels = (
        und.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    w = Window.partitionBy("id").orderBy(F.col("__c").desc(), F.col("label").asc())
    for _ in range(iterations):
        votes = (
            und.join(labels.withColumnRenamed("id", "b"), "b")
            .select(F.col("a").alias("id"), "label")
            .groupBy("id", "label")
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        labels = (
            votes.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("id", "label")
        )
        # one-round-deep lineage: LPA's label table is nodes-sized, so
        # an eager local materialization per round is cheap and keeps
        # the replanned DAG from nesting (same reasoning as pagerank's
        # per-round truncation)
        labels = labels.localCheckpoint(eager=True)
    und.unpersist()
    return labels


def k_core(
    edges: DataFrame,
    *,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 30,
) -> DataFrame:
    """k-core decomposition by iterative peeling: repeatedly delete
    nodes of degree < ``k`` (and their edges) until every survivor has
    ≥ k neighbors inside the surviving subgraph. The density primitive
    next to pagerank (centrality), connected_components (reachability),
    triangle_count (local clustering) and label_propagation
    (communities): cores isolate tightly-knit regions — link farms and
    citation cliques in crawl curation, loyal-cohort product groups in
    market baskets — that raw degree can't see (a hub touching k
    leaves has degree k but dies in the 2-core).

    Input is an edge list read as an UNDIRECTED simple graph
    (self-loops dropped, direction and multiplicity ignored). Returns
    ``(node, deg)`` for core members, ``deg`` = the node's degree
    WITHIN the core (≥ k whenever peeling reached its fixpoint; if
    ``max_rounds`` cut an adversarially deep peel short, the survivors
    are a superset of the true core).

    Scale shape: each round is one (node, count) partial-agg over the
    surviving edge list plus two semi-joins filtering edges to
    surviving endpoints — everything keyed on narrow node ids, AQE
    picks broadcast vs shuffle as the frontier shrinks. Peeling stops
    at the first round that deletes nothing (the fixpoint), probed by
    the same count that materializes the round, and ``max_rounds``
    bounds adversarial chains (a path graph peels O(diameter) rounds).
    Per-round lineage is truncated eagerly — the edge frontier only
    shrinks, so each materialization is no larger than the last.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .na.drop()
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_edges = e.count()
    for _ in range(max_rounds):
        if n_edges == 0:
            break
        deg = (
            e.select(F.col("u").alias("node"))
            .unionAll(e.select(F.col("v")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= k).select("node")
        e2 = (
            e.join(keep.withColumnRenamed("node", "u"), "u", "semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "semi")
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
        n2 = e2.count()  # the same action that materializes the round
        converged = n2 == n_edges
        e, n_edges = e2, n2
        if converged:
            break
    return (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def flatten_hierarchy(
    edges: DataFrame,
    *,
    child: str = "child",
    parent: str = "parent",
    max_rounds: int = 20,
) -> DataFrame:
    """Flatten a parent-child forest to (node, root, depth) — the
    ``WITH RECURSIVE`` ancestry query (org charts, category trees,
    reply threads, directory hierarchies) that Spark SQL has no native
    operator for.

    POINTER JUMPING, not per-level walking: every node starts with its
    depth-1 parent link, and each round the jump table composes with
    ITSELF — jt(n) ← jt(jt(n)), depths adding — so a depth-d chain
    settles in ⌈log₂ d⌉ rounds instead of d. At 100 TB that is the
    difference between 20 shuffles and a thousand for deep trees;
    each round is one self-equi-join of a (node, anc, depth) table,
    AQE-planned, lineage truncated eagerly per round. The fixpoint
    probe (did any pointer jump this round?) rides the same count that
    materializes the round.

    Emits one row per CHILD node (roots have no row; a root is any
    ``parent`` value that never appears as a ``child``). Input must be
    a forest — at most one parent per child (duplicate child links
    raise) — and acyclic: a cycle never reaches a root, so its nodes
    still carry an in-cycle ancestor after ``max_rounds`` and are
    returned as-is with ``settled = false``; the column doubles as the
    truncation flag for legitimately-deeper-than-2^max_rounds chains.
    """
    jt = (
        edges.select(
            F.col(child).alias("node"),
            F.col(parent).alias("anc"),
            F.lit(1).cast("long").alias("depth"),
        )
        .filter(F.col("node").isNotNull() & F.col("anc").isNotNull())
        .distinct()
        .localCheckpoint(eager=True)
    )
    dup = (
        jt.groupBy("node").agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .count()
    )
    if dup:
        raise ValueError(
            f"flatten_hierarchy: {dup} child node(s) have multiple parents"
        )
    for _ in range(max_rounds):
        nxt = jt.alias("a").join(
            jt.select(
                F.col("node").alias("__n"),
                F.col("anc").alias("__a"),
                F.col("depth").alias("__d"),
            ),
            F.col("a.anc") == F.col("__n"),
            "left",
        )
        jumped = nxt.select(
            F.col("a.node").alias("node"),
            F.coalesce(F.col("__a"), F.col("a.anc")).alias("anc"),
            (F.col("a.depth") + F.coalesce(F.col("__d"), F.lit(0))).alias(
                "depth"
            ),
            F.col("__n").isNotNull().alias("__jumped"),
        ).localCheckpoint(eager=True)
        n_jumped = jumped.filter(F.col("__jumped")).count()
        jt = jumped.drop("__jumped")
        if n_jumped == 0:
            break
    # settled ⟺ the final ancestor is a true root (has no parent link)
    parents = jt.select(F.col("node").alias("__p"))
    return (
        jt.join(parents, jt.anc == F.col("__p"), "left")
        .select(
            "node",
            F.col("anc").alias("root"),
            "depth",
            F.col("__p").isNull().alias("settled"),
        )
    )


def shortest_paths(
    edges: DataFrame,
    sources: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    max_hops: int = 10,
    directed: bool = False,
) -> DataFrame:
    """Multi-source shortest paths by frontier-limited Bellman-Ford:
    (node, dist) = the minimum path cost from ANY source over paths of
    at most ``max_hops`` edges. The reachability-with-cost primitive
    the family still lacked (CC answers "connected?", this answers
    "how far?") — distance-to-seed labeling for crawl-frontier
    prioritization, influence radii, taxonomy proximity.

    ``sources``: a DataFrame whose FIRST column holds seed node ids
    (dist 0). ``weight``: an edge-cost column (default: every edge
    costs 1.0, i.e. hop distance). Negative weights are rejected —
    with a hop cap the result would still be defined, but "shortest"
    stops meaning anything useful. Undirected inputs (the default) are
    symmetrized once up front.

    Scale shape: the classic SSSP frontier loop — each round joins
    ONLY the frontier (nodes improved last round) against the edge
    list, partial-aggregates candidate distances per neighbor
    (map-side combinable), and min-merges them into the running label
    table via one full-outer join on node id. Rounds stop at the first
    empty frontier (fixpoint, probed by the count that materializes
    the round) or at ``max_hops``; per-round lineage is truncated
    eagerly, the k_core contract. With unit weights the fixpoint
    arrives after (eccentricity) rounds — on small-world graphs a
    handful regardless of node count.
    """
    if max_hops < 0:
        raise ValueError("max_hops must be >= 0")
    w_expr = (
        F.col(weight).cast("double") if weight else F.lit(1.0)
    ).alias("w")
    e = edges.select(
        F.col(src).alias("es"), F.col(dst).alias("ed"), w_expr
    ).na.drop()
    if not directed:
        e = e.unionAll(
            e.select(
                F.col("ed").alias("es"), F.col("es").alias("ed"), "w"
            )
        )
    e = e.groupBy("es", "ed").agg(F.min("w").alias("w"))  # simple graph
    if weight is not None:
        neg = e.filter(F.col("w") < 0).limit(1).count()
        if neg:
            raise ValueError("shortest_paths requires non-negative weights")
    e = e.localCheckpoint(eager=True)

    seed_col = sources.columns[0]
    dist = (
        sources.select(F.col(seed_col).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0.0))
        .localCheckpoint(eager=True)
    )
    frontier = dist
    n_frontier = frontier.count()
    for _ in range(max_hops):
        if n_frontier == 0:
            break
        cand = (
            frontier.join(e, frontier.node == e.es)
            .select(
                F.col("ed").alias("node"),
                (F.col("dist") + F.col("w")).alias("cand"),
            )
            .groupBy("node")
            .agg(F.min("cand").alias("cand"))
        )
        merged = dist.join(cand, "node", "full").select(
            "node",
            F.least(F.col("dist"), F.col("cand")).alias("dist"),
            # improved = new label strictly better than the old (or new)
            (
                F.col("dist").isNull()
                | (F.col("cand") < F.col("dist"))
            ).alias("__improved"),
        ).localCheckpoint(eager=True)
        frontier = merged.filter(F.col("__improved")).select("node", "dist")
        n_frontier = frontier.count()
        dist = merged.select("node", "dist")
    return dist


def clustering_coefficient(
    edges: DataFrame, *, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Local clustering coefficient per node: ``2·T(v) / (deg(v) ·
    (deg(v) − 1))`` — how close a node's neighborhood is to a clique
    (1 = clique member, 0 = pure hub/star center). The standard
    derived signal over the triangle and degree primitives this module
    already hardens: link-farm detection reads high coefficient at
    high degree, organic hubs read low.

    Returns (node, deg, n_triangles, coefficient) for every node;
    degree-1 nodes get coefficient NULL (undefined, not 0 — a leaf has
    no possible wedge). Cost = ``triangle_count`` (the O(m^1.5)
    oriented wedge join) + one degree aggregate + an equi-join."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .na.drop()
        .distinct()
        # the normalized edge list feeds the degree aggregate here AND
        # four scans inside triangle_count (its own degree pass, the
        # orientation join, the wedge self-join, the closure semi-join);
        # without materialization the lineage that BUILT the edges
        # (often a self-join, e.g. co-purchase) recomputes per consumer
        # — measured 10.1 s at sf0.1 unmaterialized
        .localCheckpoint(eager=True)
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    tri = triangle_count(e, src="u", dst="v")
    return deg.join(tri, "node").select(
        "node",
        "deg",
        "n_triangles",
        F.when(
            F.col("deg") >= 2,
            F.round(
                2.0 * F.col("n_triangles")
                / (F.col("deg") * (F.col("deg") - 1)),
                6,
            ),
        ).alias("coefficient"),
    )
