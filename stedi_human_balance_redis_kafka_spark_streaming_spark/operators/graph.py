"""Graph analytics over edge lists, exact and SQL-mirrorable.

Next to the connected-components engines of operators/curation.py
(membership), this module holds the rest of the graph family:

* centrality — fixed-iteration :func:`pagerank`,
  :func:`stress_centrality`;
* cohesion and density — :func:`triangle_count`,
  :func:`clustering_coefficient`, :func:`k_core`, :func:`coreness`,
  :func:`k_truss`;
* reachability — :func:`bfs_distances`, :func:`shortest_paths`,
  :func:`strongly_connected_components`;
* communities — :func:`label_propagation`, and the modularity family
  (:func:`modularity_score`, :func:`modularity_merge_step`,
  :func:`modularity_refine_step`, :func:`modularity_refine_guarded`,
  :func:`contract_graph`, :func:`louvain_coarsen`).

Everything is exact integer arithmetic (PageRank ranks in 1e12 units
with damping as a /100 rational and ``div`` truncation, modularity as
exact decimal numerators and a truncated Q·10⁶) so a SQL oracle can
unroll the same rounds and match bit-for-bit — the same determinism
policy as the k-means and BPE trainers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import checkpoint_handle, fixpoint, hold, owned, scoped, unchanged

RANK_QUANT = 1_000_000_000_000  # 1e12 — rank units


@scoped
def pagerank(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    damping_pct: int = 85,
    dangling: str = "error",
    validate: bool = True,
    weight: str | None = None,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list.

    Ranks start at 1e12 and update as

        r'(v) = (100-d)% · 1e12  +  d% · (Σ_{u→v} (r(u) div deg(u)) + S)

    entirely in integer arithmetic: per-node messages are ``div``
    truncations, the inbox sum widens to decimal(38,0) (a mega-hub can
    collect a large share of total mass, which overflows int64 past
    ~9·10⁶ average-mass nodes), and the damped result truncates back to
    an int64 ≤ total mass.  Deterministic and partition-order-invariant,
    hence exactly SQL-mirrorable with unrolled rounds.

    WEIGHTED mode (``weight`` names a positive-integer edge column):
    parallel edges collapse by summing weights, the out-degree becomes
    the out-WEIGHT sum, and each message carries the edge's weight
    share — msg(u→v) = (r(u)·w(u→v)) div wdeg(u), the rank·weight
    product widened to decimal(38,0) BEFORE the division (rank ≤ total
    mass times a large weight overflows int64 where the unweighted
    message cannot).  Weights must be ≥ 1; ``validate=True`` enforces
    it with a LIMIT-1 scan and raises on violation (a zero/negative
    weight would silently corrupt the wdeg normalization).

    Dangling (destination-only) nodes, per ``dangling``:

    - ``"error"`` (default): every node must appear as a source —
      symmetrize the edge list first for undirected graphs, which
      guarantees this.  The precondition is VALIDATED (one cheap
      anti-join, raises ``ValueError``), not assumed; S = 0.  Callers
      that construct provably-sink-free edges (e.g. symmetrized) may
      pass ``validate=False`` to skip the check's extra Spark job on
      hot repeated paths.
    - ``"redistribute"``: the standard sink-mass correction — each
      round, the total rank held by out-degree-0 nodes is redistributed
      uniformly: S = (Σ_{u: deg(u)=0} r(u)) div N over the full node
      set N = src ∪ dst.  One extra BOUNDED aggregate per round (the
      dangling-mass sum, partial-aggregable), still integer-exact
      (truncation leaks ≤ 1 unit per node per round).

    PERSONALIZED mode (``seeds``: a DataFrame with a ``node`` column):
    the (100−d)% restart mass lands only on the seed set — the standard
    seed-relative relevance ranking (domain authority relative to
    blessed domains, account risk relative to known-bad accounts).
    Each in-graph seed's per-round base is (base·n) div k (k = seeds
    present in the graph, raises if zero), so total injected mass
    matches the uniform variant and ranks stay on the 1e12 scale; all
    other nodes get base 0 and hold only flowed-through mass.  The
    per-node base rides a column on the node frame — one bounded build
    join, zero per-round extra shuffles, same unrolled-oracle
    mirrorability.

    Output: (node, rank_e12) — Σ rank_e12 ≈ n·1e12.

    Scale shape: per round, ONE join shuffle keyed by ``src`` (edges ⨝
    ranks; the degree table rides the same key) and one partial-
    aggregable sum keyed by ``dst`` — linear in |edges| with no
    all-pairs anywhere; ``localCheckpoint`` truncates lineage so the
    plan stays O(1) deep across rounds.  Skewed hubs: the inbox sum is
    partial-aggregable, so a hot destination combines map-side.  In
    redistribute mode the sink scalar is a 1-row broadcast, never a
    shuffle.
    """
    if iters < 0:
        raise ValueError("iters must be >= 0")
    if not 0 <= damping_pct <= 100:
        raise ValueError("damping_pct must be in [0, 100]")
    if dangling not in ("error", "redistribute"):
        raise ValueError(
            f"dangling must be 'error' or 'redistribute', got {dangling!r}"
        )
    if weight is None:
        e = hold(
            edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
            .distinct()
            .persist()
        )
        deg = hold(e.groupBy("src").agg(F.count("*").alias("deg")).persist())
        msg_expr = "rank_e12 div deg"
    else:
        # multigraph collapse: parallel edges sum their weights
        e = hold(
            edges.select(
                F.col(src).alias("src"),
                F.col(dst).alias("dst"),
                F.col(weight).cast("long").alias("w"),
            )
            .groupBy("src", "dst")
            .agg(F.sum("w").alias("w"))
            .persist()
        )
        if validate and e.filter(F.col("w") <= 0).limit(1).count():
            raise ValueError("pagerank: edge weights must be positive integers")
        deg = hold(e.groupBy("src").agg(F.sum("w").alias("deg")).persist())
        msg_expr = "(cast(rank_e12 as decimal(38,0)) * w) div deg"
    deg.count()  # materialize both caches before the rounds read them
    if dangling == "error":
        if validate:
            # Enforce the documented precondition instead of trusting
            # it: a dst-only node would silently vanish from the output
            # (nodes come from deg) and the mass sent to it would be
            # discarded by the left join below — wrong ranks with no
            # error.  The check is one anti-join of distinct dst keys
            # against the (node-bounded, cached) degree table,
            # short-circuited by LIMIT 1.
            n_dangling = (
                e.select(F.col("dst").alias("src"))
                .distinct()
                .join(deg, "src", "left_anti")
                .limit(1)
                .count()
            )
            if n_dangling:
                raise ValueError(
                    "pagerank: edge list has destination-only (dangling) "
                    "nodes; every node must appear as a source — "
                    "symmetrize the edge list, add self-loops for sinks, "
                    "or use dangling='redistribute'"
                )
        nodes = deg.select(F.col("src").alias("node"))
        n_nodes = None
    else:
        nodes = hold(
            e.select(F.col("src").alias("node"))
            .unionByName(e.select(F.col("dst").alias("node")))
            .distinct()
            .persist()
        )
        n_nodes = nodes.count()  # one-time bounded build scalar
        if n_nodes == 0:
            # Empty graph: short-circuit before the per-round sink-share
            # expression (dmass div 0 would raise under ANSI even with
            # zero rows upstream of the aggregate's single output row).
            return nodes.withColumn("rank_e12", F.lit(RANK_QUANT).cast("long"))
    base = (RANK_QUANT * (100 - damping_pct)) // 100
    seeded = seeds is not None
    if seeded:
        # PERSONALIZED teleport: the (100-d)% restart mass lands only
        # on the seed set, scaled so TOTAL injected mass equals the
        # uniform variant's n·base (seed_base = base·n div k) — ranks
        # then read as "authority relative to the seeds" on the same
        # 1e12 scale.  Seeds outside the graph contribute nothing and
        # are excluded from k; an empty intersection raises.  The
        # per-node base rides a column on the (persisted) node frame —
        # one bounded build join, zero per-round extra shuffles.
        sd = seeds.select("node").distinct()
        tagged = nodes.join(
            sd.withColumn("__is_seed", F.lit(1)), "node", "left"
        )
        cnt = tagged.agg(
            F.count("*").alias("n"),
            F.coalesce(F.sum("__is_seed"), F.lit(0)).alias("k"),
        ).collect()[0]
        if cnt["k"] == 0:
            raise ValueError(
                "pagerank: no seed node appears in the edge list"
            )
        seed_base = (base * int(cnt["n"])) // int(cnt["k"])
        old_nodes = nodes
        nodes = hold(
            tagged.select(
                "node",
                F.when(F.col("__is_seed") == 1, F.lit(seed_base))
                .otherwise(F.lit(0))
                .cast("long")
                .alias("__base"),
            )
            .persist()
        )
        nodes.count()
        if n_nodes is not None:
            old_nodes.unpersist()
    else:
        # Keep a handle on the PERSISTED frame: unpersist() on the
        # withColumn-derived plan below would be a silent no-op (no
        # cache entry matches the derived plan) and leak the blocks.
        persisted_nodes = nodes if n_nodes is not None else None
        nodes = nodes.withColumn(
            "__base", F.lit(base).cast("long")
        )
    # Loop-invariant hoist (r18, guide §1.2): e ⨝ deg never changes
    # across rounds, yet the loop re-joined (and re-broadcast/
    # re-shuffled) it every iteration.  Join once, persist the
    # (src, dst[, w], deg) frame, and each round pays only the ranks
    # join + the inbox aggregation.  Costs one extra cached copy of the
    # edge list (one int column wider); at scale it removes one |V|-
    # sized join build per round.
    ed = hold(e.join(deg, "src").persist())
    ranks = nodes.select(
        "node", F.lit(RANK_QUANT).cast("long").alias("rank_e12")
    )
    handles: list = []
    zero_dec = "cast(0 as decimal(38,0))"
    for _ in range(iters):
        inbox = (
            ed.join(ranks, F.col("src") == F.col("node"))
            .select(
                F.col("dst").alias("node"),
                F.expr(msg_expr).alias("msg"),
            )
            .groupBy("node")
            .agg(F.sum(F.col("msg").cast("decimal(38,0)")).alias("m"))
        )
        updated = nodes.join(inbox, "node", "left")
        if dangling == "redistribute":
            # Sink mass this round: ranks of nodes with no out-edges,
            # split evenly (div-truncated) across ALL nodes.  A 1-row
            # aggregate broadcast — no extra shuffle on the rank frame.
            sink_share = (
                ranks.join(
                    deg.select(F.col("src").alias("node")),
                    "node",
                    "left_anti",
                )
                .agg(
                    F.coalesce(
                        F.sum(F.col("rank_e12").cast("decimal(38,0)")),
                        F.expr(zero_dec),
                    ).alias("dmass")
                )
                .select(F.expr(f"dmass div {n_nodes}L").alias("share"))
            )
            updated = updated.crossJoin(F.broadcast(sink_share))
            damped = F.expr(
                f"({damping_pct} * (coalesce(m, {zero_dec})"
                f" + cast(share as decimal(38,0)))) div 100"
            )
        else:
            damped = F.expr(
                f"({damping_pct} * coalesce(m, {zero_dec})) div 100"
            )
        ranks = (
            updated.select(
                "node",
                (F.col("__base") + damped).cast("long").alias("rank_e12"),
            )
            .localCheckpoint(eager=False)
        )
        handles.append(hold(checkpoint_handle(ranks)))
    # Materialize the final round before dropping the inputs it reads.
    # The one count() job materializes EVERY round's (lazy) checkpoint
    # bottom-up, so the superseded rounds' blocks are dead right after
    # it — release them synchronously instead of waiting for the
    # ContextCleaner's GC-driven weak refs.
    ranks.count()
    for h in handles[:-1]:
        h.unpersist(False)
    ed.unpersist()
    e.unpersist()
    deg.unpersist()
    if seeded:
        nodes.unpersist()  # the seeded branch persisted the base frame
    elif persisted_nodes is not None:
        persisted_nodes.unpersist()
    return ranks


def _canonical(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Simple undirected edge set (u < v): self-loops dropped,
    orientation and duplicates collapsed, so a parallel edge never
    double-counts."""
    a, b = F.col(src), F.col(dst)
    return (
        edges.select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _degrees(edges: DataFrame) -> DataFrame:
    """(node, deg) over a canonical simple edge set (u, v): one
    partial-aggregable endpoint count."""
    return (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )


def _symmetric(und: DataFrame) -> DataFrame:
    """Both orientations (a, b) of a canonical edge set (u, v)."""
    return und.select(F.col("u").alias("a"), F.col("v").alias("b")).unionByName(
        und.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )


@scoped
def triangle_count(
    edges: DataFrame, *, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Global triangle count via degree-ordered orientation (the
    compact-forward / node-iterator++ scheme) — the third classic graph
    primitive next to PageRank (centrality) and connected components
    (membership): triangle density measures cluster coherence in
    trade/link/co-occurrence graphs.

    The input is canonicalized to a simple undirected graph (self-loops
    dropped, parallel/reverse duplicates collapsed).  Each edge is then
    ORIENTED from its lower endpoint to its higher under the total
    order (degree ASC, node ASC); every triangle has exactly one vertex
    whose two incident edges both point away from it, so joining
    oriented wedges (u→v, v→w) against oriented closing edges (u→w)
    counts each triangle EXACTLY once — no /3 or /6 correction, no
    double counting, fully deterministic.

    Output: one row (n_nodes, n_edges, n_triangles).

    Scale shape: degree-ordering is THE scale trick — every oriented
    out-degree is bounded by O(√m) on any graph (a node of degree d
    only points to ≥-degree nodes, of which there are ≤ 2m/d), so the
    wedge join produces Σ outdeg² = O(m^1.5) rows worst-case instead
    of the Σ deg² blowup a hub would cause unoriented.  Two shuffle
    equi-joins (wedge build keyed on the middle vertex, closure keyed
    on (u, w)); counts are partial-aggregable.
    """
    und, deg, o = _oriented(edges, src, dst)
    e1, e2, e3 = o.alias("e1"), o.alias("e2"), o.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.t") == F.col("e2.s"))
        .join(
            e3,
            (F.col("e3.s") == F.col("e1.s"))
            & (F.col("e3.t") == F.col("e2.t")),
        )
        .agg(F.count("*").alias("n_triangles"))
    )
    n_nodes = deg.agg(F.count("*").alias("n_nodes"))
    n_edges = und.agg(F.count("*").alias("n_edges"))
    return n_nodes.crossJoin(n_edges).crossJoin(tri)


def _oriented(
    edges: DataFrame, src: str, dst: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared canonicalize-and-orient stage of the triangle family:
    (und, deg, o) where ``und`` is the simple undirected edge set
    (self-loops dropped, duplicates collapsed, u < v), ``deg`` its
    per-node degrees, and ``o`` every edge oriented from its lower
    endpoint under the (degree ASC, node ASC) total order.  ``und``
    and ``o`` are persisted, materialized and held."""
    und = hold(_canonical(edges, src, dst).persist())
    und.count()
    deg = _degrees(und)
    da = deg.select(F.col("node").alias("u"), F.col("deg").alias("deg_u"))
    db = deg.select(F.col("node").alias("v"), F.col("deg").alias("deg_v"))
    lower_first = F.expr(
        "deg_u < deg_v OR (deg_u = deg_v AND u < v)"
    )
    o = hold(
        und.join(da, "u")
        .join(db, "v")
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
        .persist()
    )
    o.count()
    return und, deg, o


@scoped
def clustering_coefficient(
    edges: DataFrame, *, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node LOCAL clustering coefficient — the per-entity consumer
    of the triangle primitive, as PageRank is of the message-passing
    primitive: c(v) = 2·T(v) / (deg(v)·(deg(v)−1)), the fraction of a
    node's neighbor pairs that are themselves connected (community
    coherence per entity rather than one global census).

    Reuses the degree-ordered oriented wedge join of
    :func:`triangle_count` unchanged; the only addition is crediting
    each counted triangle to its THREE vertices (a 3-element explode on
    the already-joined rows — no new shuffle shape) and one
    partial-aggregable per-node count.  deg < 2 nodes have no neighbor
    pair and get 0.0 by convention.

    Output: (node, deg, n_tri, local_cc) — local_cc a double ratio of
    exact integers, hence bit-deterministic cross-engine.

    Scale shape: identical to triangle_count — two equi-joins bounded
    at O(m^1.5) wedge rows by the orientation — plus one count keyed
    on node (partial-aggregable: a hub's triangle credits combine
    map-side).
    """
    und, deg, o = _oriented(edges, src, dst)
    e1, e2, e3 = o.alias("e1"), o.alias("e2"), o.alias("e3")
    per_node = (
        e1.join(e2, F.col("e1.t") == F.col("e2.s"))
        .join(
            e3,
            (F.col("e3.s") == F.col("e1.s"))
            & (F.col("e3.t") == F.col("e2.t")),
        )
        .select(
            F.explode(
                F.array(F.col("e1.s"), F.col("e1.t"), F.col("e2.t"))
            ).alias("node")
        )
        .groupBy("node")
        .agg(F.count("*").alias("n_tri"))
    )
    return (
        deg.join(per_node, "node", "left")
        .select(
            "node",
            F.col("deg").cast("long").alias("deg"),
            F.coalesce(F.col("n_tri"), F.lit(0)).cast("long").alias("n_tri"),
        )
        .select(
            "node",
            "deg",
            "n_tri",
            F.when(
                F.col("deg") >= 2,
                (F.lit(2) * F.col("n_tri")).cast("double")
                / (F.col("deg") * (F.col("deg") - 1)),
            )
            .otherwise(F.lit(0.0))
            .alias("local_cc"),
        )
    )


@scoped
def k_core(
    edges: DataFrame,
    k: int = 2,
    *,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 100,
) -> DataFrame:
    """k-core membership via iterative peeling — the graph-family
    density primitive next to PageRank (centrality), connected
    components (membership), and triangles (cohesion): the k-core is
    the maximal subgraph where every node keeps degree ≥ k after all
    weaker nodes are REMOVED, the standard filter for "engaged"
    entities (spam-ring kernels in web graphs, active trader cores in
    transaction graphs, stable communities in interaction graphs)
    because one round of degree thresholding is fooled by nodes
    propped up by other weak nodes — peeling cascades until a
    fixpoint.

    Input: a directed or undirected edge list; canonicalized to a
    simple undirected graph first (self-loops dropped, duplicates and
    orientation collapsed) so parallel edges never double-count a
    degree.

    Output: (node, core_deg) — the k-core's nodes with their
    within-core degree (core_deg ≥ k by definition; every core node
    appears in ≥ k surviving edges, so membership derives from the
    surviving edge set with no separate node frame).

    Scale shape: each round is ONE partial-aggregable degree count
    (explode both endpoints → groupBy node) plus two anti-joins keyed
    on node — all shuffles on the node key, no windows, no all-pairs.
    The loop runs on :func:`..session.fixpoint` with the surviving
    edge count as the observed metric: the edge set only shrinks, so
    an unchanged count IS the fixpoint (no weak node left).  Round
    count equals the peel DEPTH of the graph (typically O(log N) in
    practice, ≪ N always) plus the round that sees the count stand
    still; ``max_iter`` bounds the loop and the operator RAISES on
    non-convergence rather than silently returning a partially-peeled
    set — at 100 TB raise the bound, never trust a truncated peel.

    Determinism: pure set arithmetic on exact integers — no floats
    anywhere — so a SQL oracle can replay the identical peel
    (plans/extras.py graph_kcore mirrors it with a recursive CTE
    carrying the removed set to the same fixpoint).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")

    def peel(active: DataFrame, _) -> DataFrame:
        weak = _degrees(active).filter(F.col("deg") < k).select("node")
        return active.join(
            weak.withColumnRenamed("node", "u"), "u", "left_anti"
        ).join(weak.withColumnRenamed("node", "v"), "v", "left_anti")

    active = fixpoint(
        peel, _canonical(edges, src, dst),
        metric=[F.count("*").alias("n")], converged=unchanged,
        max_iter=max_iter,
        error=f"k_core did not converge within max_iter={max_iter} rounds; "
        "raise max_iter (peel depth exceeds the bound)",
    )
    return _degrees(active).select(
        "node", F.col("deg").cast("long").alias("core_deg")
    )


@scoped
def coreness(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 200,
) -> DataFrame:
    """Full core decomposition: every node's core NUMBER — the largest
    k for which the node survives the k-core peel (k_core gives
    membership at ONE k; the standard deliverable ranks every entity
    by its engagement depth in one pass).  Output: (node, coreness),
    coreness ≥ 1 for every node incident to an edge (isolated nodes
    never appear in an edge list and are not represented, exactly as
    in :func:`k_core`).

    Algorithm — the h-index fixpoint iteration (Lü, Zhou, Zhang &
    Stanley, "The H-index of a network node and its relation to degree
    and coreness", Nat. Commun. 2016): c₀ = deg, c_{t+1}(v) =
    H({c_t(u) : u ~ v}) — the largest h such that ≥ h neighbors
    currently hold value ≥ h.  Monotone non-increasing, fixpoint =
    coreness.  The registered query's SQL oracle replays the PEEL
    (plans/extras.py graph_coreness), so the two algorithms verify
    each other.

    Per round: ONE b-keyed join over the persisted symmetric edge set
    ships every node its neighbors' current values, one per-node
    descending rank computes H (every node has ≥ 1 neighbor of value
    ≥ 1, so h ≥ 1 and no node drops out).  Rounds = error-propagation
    depth (≤ peel rounds; measured 10 vs 16 on the sf0.1 trade graph).
    The loop runs on :func:`..session.fixpoint` with Σc
    (decimal(38,0)-exact) as the observed metric: c is monotone
    non-increasing, so an unchanged sum IS the pointwise fixpoint.  It
    RAISES on non-convergence within ``max_iter`` rather than
    returning a partial decomposition.

    Skew: the H step ranks one node's messages inside one window
    partition, so its largest task is O(max degree).  A second,
    all-partial-aggregable peel engine for mega-hub graphs was removed
    unused: no registered graph comes near the 5,000,000-degree switch
    it had, and at sf0.01/sf0.1 it ran 174/186 Spark jobs against
    h-index's 47/50 for identical output (SCALING.md).
    """
    sym = _symmetric(_canonical(edges, src, dst)).persist()
    sym.count()
    c0 = sym.groupBy(F.col("a").alias("node")).agg(
        F.count("*").cast("long").alias("c")
    )
    rank_w = Window.partitionBy("a").orderBy(F.desc("c"))

    def h_step(c: DataFrame, _) -> DataFrame:
        msgs = sym.join(c, sym["b"] == c["node"]).select("a", "c")
        return (
            msgs.withColumn("__rn", F.row_number().over(rank_w))
            .filter(F.col("c") >= F.col("__rn"))
            .groupBy(F.col("a").alias("node"))
            .agg(F.max("__rn").cast("long").alias("c"))
        )

    try:
        c = fixpoint(
            h_step, c0,
            metric=[F.sum(F.col("c").cast("decimal(38,0)")).alias("s")],
            converged=unchanged, max_iter=max_iter,
            error=f"coreness (h-index) did not reach the fixpoint in "
            f"{max_iter} rounds; raise max_iter",
        )
    finally:
        sym.unpersist()  # the last round's checkpoint no longer reads it
    return c.select("node", F.col("c").alias("coreness"))


def _edge_support(active: DataFrame) -> DataFrame:
    """Per-edge triangle SUPPORT over a canonical simple edge set
    (u < v): orient by (degree ASC, node ASC), enumerate each triangle
    exactly once via the oriented wedge join, credit it to its THREE
    canonical edges (a 3-struct explode — the edge-level sibling of
    clustering_coefficient's vertex credit), one partial-aggregable
    keyed count.  Output: (u, v, support) for edges in ≥1 triangle
    (callers left-join and coalesce 0)."""
    deg = _degrees(active)
    da = deg.select(F.col("node").alias("u"), F.col("deg").alias("deg_u"))
    db = deg.select(F.col("node").alias("v"), F.col("deg").alias("deg_v"))
    lower_first = F.expr("deg_u < deg_v OR (deg_u = deg_v AND u < v)")
    o = (
        active.join(da, "u")
        .join(db, "v")
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
    )
    e1, e2, e3 = o.alias("e1"), o.alias("e2"), o.alias("e3")
    edge_struct = lambda x, y: F.struct(  # noqa: E731
        F.least(x, y).alias("u"), F.greatest(x, y).alias("v")
    )
    return (
        e1.join(e2, F.col("e1.t") == F.col("e2.s"))
        .join(
            e3,
            (F.col("e3.s") == F.col("e1.s"))
            & (F.col("e3.t") == F.col("e2.t")),
        )
        .select(
            F.explode(
                F.array(
                    edge_struct(F.col("e1.s"), F.col("e1.t")),
                    edge_struct(F.col("e2.s"), F.col("e2.t")),
                    edge_struct(F.col("e1.s"), F.col("e2.t")),
                )
            ).alias("e")
        )
        .select(F.col("e.u").alias("u"), F.col("e.v").alias("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("support"))
    )


@scoped
def k_truss(
    edges: DataFrame,
    k: int = 3,
    *,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 100,
) -> DataFrame:
    """k-truss via iterative edge peeling — the EDGE-level cohesion
    primitive completing the graph family (PageRank: centrality, CC:
    membership, triangles/clustering: local cohesion, k-core: node
    density): the maximal subgraph where every surviving EDGE sits in
    ≥ k−2 triangles of the subgraph.  Strictly stronger than k-core
    (every k-truss is inside the (k−1)-core) and the standard
    community-kernel / spam-ring extractor, because an edge propped up
    by triangles through weak edges falls when they do — support
    recomputes against the SURVIVORS each round, cascading to a
    fixpoint exactly like :func:`k_core`'s degree peel.

    Output: (u, v, support) — the truss's edges with their within-truss
    support (≥ k−2 by definition).

    Scale shape per round: one degree rollup + the O(m^1.5)-bounded
    oriented wedge join of :func:`triangle_count` (per-edge credit via
    a 3-struct explode, partial-aggregable count) + one (u, v)-keyed
    left join keeping support ≥ k−2, on :func:`..session.fixpoint`
    with the surviving edge count as the observed metric (the edge set
    only shrinks, so an unchanged count is the fixpoint).  Round count
    = the truss peel depth (≪ m) plus one; ``max_iter`` bounds the
    loop and RAISES on non-convergence rather than returning a
    half-peeled edge set.  Pure integer set arithmetic — the SQL
    oracle replays the identical cascade (plans/extras.py
    graph_ktruss).
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")

    def peel(active: DataFrame, _) -> DataFrame:
        active = active.select("u", "v")
        sup = _edge_support(active)
        return active.join(sup, ["u", "v"], "left").select(
            "u",
            "v",
            F.coalesce(F.col("support"), F.lit(0))
            .cast("long")
            .alias("support"),
        ).filter(F.col("support") >= k - 2)

    return fixpoint(
        peel, _canonical(edges, src, dst),
        metric=[F.count("*").alias("n")], converged=unchanged,
        max_iter=max_iter,
        error=f"k_truss did not converge within max_iter={max_iter} rounds; "
        "raise max_iter (peel depth exceeds the bound)",
    )


@scoped
def label_propagation(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    iters: int = 4,
    telemetry: list | None = None,
) -> DataFrame:
    """Synchronous label-propagation community detection (LPA) — the
    graph-family COMMUNITY primitive next to centrality (PageRank),
    membership (connected components), cohesion (triangles/k-truss)
    and density (k-core/coreness): each node repeatedly adopts the
    most frequent label among its neighbors, so densely-linked groups
    converge onto one label while sparse cut edges cannot flip them —
    the near-linear community baseline (Raghavan et al. 2007) used to
    group domains in web-crawl curation and counterparties in
    transaction graphs.

    Deterministic, SQL-mirrorable variant: SYNCHRONOUS rounds (every
    node updates from the same round-``t`` snapshot — asynchronous LPA
    is visit-order-dependent and unreproducible on a cluster), a FIXED
    round count (synchronous LPA on bipartite-ish regions can
    oscillate with period 2, so a convergence probe may never fire —
    fixed rounds like :func:`pagerank`, not a fixpoint), one SELF-VOTE
    per node (the standard damping that breaks most 2-cycles), and
    exact-integer tie-breaks: label votes are counted per node and the
    winner is (count DESC, label ASC) — a total order, so every round
    is bit-reproducible and an unrolled SQL oracle replays it exactly.

    Input: directed or undirected edge list; canonicalized to a simple
    undirected graph (self-loops dropped, orientation + duplicates
    collapsed) so a parallel edge never double-votes.  Initial label =
    the node's own id.  Output: (node, community) — community is the
    elected label after ``iters`` rounds (a label present in the
    node's closed neighborhood; communities are identified by one
    member's id, the usual LPA convention).

    Scale shape: each round is ONE node-keyed join shipping every node
    its neighbors' current labels (shuffle on the node key), a
    partial-aggregable (node, label) vote count, and a per-node
    window rank over that node's distinct candidate labels (bounded by
    its degree — never a global window).  The label frame is n rows
    every round; the rounds run on :func:`..session.fixpoint` with no
    metric and no convergence test, i.e. exactly ``iters`` rounds.
    At 100 TB the round cost is PageRank's plus the vote count — no
    all-pairs shape anywhere.

    CONVERGENCE TELEMETRY: fixed rounds are the deterministic choice
    (synchronous LPA can 2-cycle, so a fixpoint probe may never fire),
    but a caller at 100 TB should SEE whether labels were still moving
    at the last round instead of trusting the constant.  Pass
    ``telemetry=[]`` and the operator appends one int per round — the
    number of nodes whose label changed that round (one node-keyed
    join + partial-aggregable count of consecutive label frames, the
    same probe shape as coreness' Σc).  ``telemetry[-1] > 0`` means
    the communities had not stabilized; raise ``iters``.  The diff
    runs as the fixpoint's convergence callback (it reads both
    rounds' frames before the older one is released) and costs one
    extra job per round, so leave ``telemetry=None`` (the default)
    when the report is not needed.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    sym = _symmetric(_canonical(edges, src, dst)).persist()
    sym.count()
    lbl0 = sym.select(F.col("a").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    rank_w = Window.partitionBy("node").orderBy(
        F.desc("votes"), F.asc("lbl")
    )

    def vote(lbl: DataFrame, _) -> DataFrame:
        nbr_votes = sym.join(lbl, sym["b"] == lbl["node"]).select(
            F.col("a").alias("node"), "lbl"
        )
        return (
            nbr_votes.unionByName(lbl.select("node", "lbl"))
            .groupBy("node", "lbl")
            .agg(F.count("*").alias("votes"))
            .withColumn("__rn", F.row_number().over(rank_w))
            .filter(F.col("__rn") == 1)
            .select("node", "lbl")
        )

    def record_moved(prev, cur) -> bool:
        # consecutive-frame diff, run before the superseded round's
        # blocks release: one node-keyed join, partial-agg count
        telemetry.append(
            cur.frame.select("node", F.col("lbl").alias("new_lbl"))
            .join(prev.frame.select("node", F.col("lbl").alias("old_lbl")), "node")
            .filter(F.col("new_lbl") != F.col("old_lbl"))
            .count()
        )
        return False

    try:
        lbl = fixpoint(
            vote, lbl0, metric=[],
            converged=None if telemetry is None else record_moved,
            max_iter=iters, error=None,
        )
    finally:
        sym.unpersist()
    return lbl.select("node", F.col("lbl").cast("long").alias("community"))


@scoped
def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    directed: bool = False,
    max_iter: int = 100,
) -> DataFrame:
    """Multi-source breadth-first hop distances — the graph-family
    REACHABILITY primitive: the minimum hop count from any source to
    every reachable node (single-source shortest paths on an
    unweighted graph; with several sources, the distance to the
    nearest one).  The workhorse behind "within N hops of a trusted
    seed" curation filters, fraud-ring proximity scoring, and crawl
    frontier scheduling.

    ``sources``: a one-column ``(node)`` frame of seed ids (typically
    tiny).  Seeds absent from the edge list still emit (node, 0) —
    distance to itself is 0 whether or not it has edges.  Unreachable
    nodes do not appear (same absent-row convention as ``k_core``).

    Output: (node, dist) — exact integer hops, dist = 0 for seeds.

    Scale shape: textbook frontier expansion — round ``d`` joins the
    CURRENT frontier (nodes first reached at d-1, monotonically
    shrinking after the expansion peak) to the adjacency on the node
    key, then one anti-join against the visited set discards
    already-reached nodes; both shuffles are node-keyed, no windows,
    no all-pairs.  The loop runs on :func:`..session.fixpoint` with
    the visited count as the observed metric: an unchanged count
    means an empty layer.  Rounds = graph eccentricity from the
    sources plus that empty round (bounded by ``max_iter``; RAISES
    on non-convergence rather than returning truncated distances).
    The visited set grows to n rows and is re-checkpointed each
    round.

    Determinism: pure set arithmetic on exact integers — the SQL
    oracle replays it with a recursive CTE taking MIN(depth) per node.
    """
    a, b = F.col(src), F.col(dst)
    fwd = edges.select(a.alias("a"), b.alias("b"))
    adj = fwd if directed else fwd.unionByName(
        edges.select(b.alias("a"), a.alias("b"))
    )
    adj = adj.filter(F.col("a") != F.col("b")).distinct().persist()
    adj.count()
    dist0 = sources.select(
        F.col("node").cast("long").alias("node"),
        F.lit(0).cast("long").alias("dist"),
    ).distinct()

    def expand(dist: DataFrame, d: int) -> DataFrame:
        # round d: the frontier is layer d-1, read out of the previous
        # round's checkpoint; already-visited nodes are anti-joined away
        frontier = dist.filter(F.col("dist") == d - 1).select("node")
        layer = (
            frontier.join(adj, frontier["node"] == adj["a"])
            .select(F.col("b").alias("node"))
            .distinct()
            .join(dist.select("node"), "node", "left_anti")
            .select("node", F.lit(d).cast("long").alias("dist"))
        )
        return dist.unionByName(layer)

    try:
        dist = fixpoint(
            expand, dist0, metric=[F.count("*").alias("n")],
            converged=unchanged, max_iter=max_iter,
            error=f"bfs_distances did not exhaust the frontier within "
            f"max_iter={max_iter} rounds; raise max_iter (graph "
            "diameter exceeds the bound)",
        )
    finally:
        adj.unpersist()
    return dist


@scoped
def shortest_paths(
    edges: DataFrame,
    sources: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    directed: bool = False,
    max_iter: int = 50,
    validate: bool = True,
) -> DataFrame:
    """Multi-source weighted shortest paths (Bellman-Ford rounds) —
    the weighted completion of the reachability plane: where
    :func:`bfs_distances` gives minimum HOP counts, this gives the
    minimum total edge COST from any source to every reachable node.
    The workhorse behind cheapest-supplier-path routing and
    trust-decay curation ("keep documents within cost c of a trusted
    seed, where low-trust links cost more").

    ``sources``: a one-column ``(node)`` frame of seed ids.  Seeds sit
    at cost 0; unreachable nodes do not appear (the :func:`k_core`
    absent-row convention).  ``weight`` names a POSITIVE integer edge
    column (validated with a LIMIT-1 scan unless ``validate=False``);
    parallel edges collapse to their MINIMUM weight, self-loops drop.
    Output: (node, dist) — exact int64 cost sums (callers must keep
    n_hops·max_weight within int64; at 1e6-unit costs that is ~9e12
    hops of headroom).

    Scale shape: frontier-relaxation Bellman-Ford — each round joins
    only the nodes IMPROVED last round against the adjacency (node-
    keyed), min-combines candidates map-side (partial-aggregable MIN),
    and full-outer-merges the n-row distance frame (node-keyed).
    Improved-only relaxation produces bit-identical per-round values
    to textbook full relaxation (a non-improved node's messages cannot
    improve any neighbor), so an unrolled min-plus SQL oracle replays
    it exactly.  Rounds = longest shortest-path hop count (≤ n−1 by
    Bellman-Ford, typically ≪ n); the operator RAISES past
    ``max_iter`` rather than returning under-relaxed costs.  The loop
    runs on :func:`..session.fixpoint`; the observed metric is the
    number of improved nodes, and a round that improves none is the
    fixpoint.
    """
    a, b, w = F.col(src), F.col(dst), F.col(weight).cast("long")
    fwd = edges.select(a.alias("a"), b.alias("b"), w.alias("w"))
    adj = fwd if directed else fwd.unionByName(
        edges.select(b.alias("a"), a.alias("b"), w.alias("w"))
    )
    adj = hold(
        adj.filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.min("w").alias("w"))
        .persist()
    )
    adj.count()
    if validate:
        bad = adj.filter(F.col("w") < 1).limit(1).collect()
        if bad:
            raise ValueError(
                f"shortest_paths requires positive integer weights; found "
                f"w={bad[0]['w']} on edge ({bad[0]['a']}, {bad[0]['b']})"
            )
    dist0 = sources.select(
        F.col("node").cast("long").alias("node"),
        F.lit(0).cast("long").alias("dist"),
        F.lit(True).alias("changed"),
    ).distinct()

    def relax(dist: DataFrame, _) -> DataFrame:
        fr = dist.filter(F.col("changed")).select("node", "dist")
        cand = (
            fr.join(adj, fr["node"] == adj["a"])
            .select(
                F.col("b").alias("node"),
                (F.col("dist") + F.col("w")).alias("d"),
            )
            .groupBy("node")
            .agg(F.min("d").alias("d"))
        )
        old = dist.select("node", F.col("dist").alias("od"))
        merged = old.join(cand, "node", "full_outer")
        improved = F.col("od").isNull() | (
            F.col("d").isNotNull() & (F.col("d") < F.col("od"))
        )
        return merged.select(
            "node",
            F.when(improved, F.col("d"))
            .otherwise(F.col("od"))
            .cast("long")
            .alias("dist"),
            improved.alias("changed"),
        )

    dist = fixpoint(
        relax, dist0,
        metric=[F.count(F.when(F.col("changed"), 1)).alias("changed")],
        converged=lambda _, cur: cur.metric["changed"] == 0,
        max_iter=max_iter,
        error=f"shortest_paths did not reach the min-plus fixpoint "
        f"within max_iter={max_iter} rounds; raise max_iter (longest "
        "shortest-path hop count exceeds the bound)",
    )
    adj.unpersist()
    return dist.select("node", "dist")


def _reach_set(adj: DataFrame, seeds: DataFrame, *, max_iter: int) -> DataFrame:
    """Forward-reachable node set (seed included) over a directed
    adjacency ``adj(a, b)`` — delegates to :func:`bfs_distances`
    (hop distances discarded), so the frontier bookkeeping and
    checkpoint lifecycle are the tested ones.  The checkpoint lands in
    the caller's scope."""
    return bfs_distances(
        adj, seeds, src="a", dst="b", directed=True, max_iter=max_iter
    ).select("node")


@scoped
def strongly_connected_components(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    bfs_max_iter: int = 100,
    algorithm: str = "auto",
) -> DataFrame:
    """Strongly connected components of a DIRECTED graph — the directed
    membership primitive the undirected planes (connected components in
    operators/curation.py) cannot answer: u and v share an SCC iff
    each reaches the other.  The cycle detector behind circular-trade
    rings, mutual-citation cores, and feedback-loop detection in
    dependency graphs.

    Output: (node, scc) — scc = the component's minimum node id (the
    CC labeling convention).  Isolated nodes never appear in an edge
    list and are not represented.

    Algorithm — iterative TRIM + forward-backward peeling with
    deterministic pivots (the parallel-SCC standard, e.g. Fleischer/
    Hendrickson/Pinar FW-BW; coloring variants differ only in pivot
    choice):

    - TRIM: a node with no in-edges or no out-edges WITHIN the
      remaining subgraph can sit on no cycle → remove its edges and
      cascade to a fixpoint.  One partial-aggregable (has_out, has_in)
      flags rollup + node-keyed anti-joins per round; the emptiness /
      casualty-count / next-pivot probes share ONE aggregate job.
      Trimmed-away nodes need no bookkeeping: every node never
      captured by a pivot component is a singleton SCC by
      construction, so singletons fall out of one anti-join of the
      INITIAL node set against the pivot components at the end.
    - PIVOT (``algorithm="fwbw"``): the minimum remaining node id
      (deterministic — no random pivots, so every run and the
      property-test replay agree); its SCC is FWD(pivot) ∩ BWD(pivot),
      labeled by the pivot itself (the pivot IS the minimum remaining
      id, hence the component's min).  Both reachability passes run as
      ONE tagged frontier expansion over a direction-namespaced node
      space (fwd nodes at 2n, bwd at 2n+1 — the graph_bfs_hops idiom;
      decode is two's-complement bit ops, ``node & 1`` /
      ``shiftright(node, 1)``, so NEGATIVE node ids round-trip — sign-
      following ``%``/``div`` would silently drop them, ADVICE r10).
      Pivot removal can never isolate a non-member (a survivor with
      edges only to/from the component would be mutually reachable
      with the pivot — i.e. a member), so no casualty scan is needed.
    - COLORING (``algorithm="coloring"``): one round retires EVERY
      root SCC at once (Orzan-style min-label coloring, the multi-
      pivot member of the FW-BW family).  Min-label forward closure
      colors each node with the smallest id that reaches it; nodes
      with ``color == node`` are roots, and a root r's SCC is exactly
      the backward reach of r through nodes of color r (every node on
      a member→r path must hold color r: a smaller-id intruder
      reaching that path would also reach r and un-root it).  Color
      classes are edge-disjoint after the same-color filter, so ONE
      multi-seed :func:`bfs_distances` pass over the reversed
      within-class edges serves every root simultaneously.  Retires
      >= #roots components per round — the many-small-SCC shape
      (thousands of short cycles) that costs FW-BW one driver-
      synchronized round EACH resolves in O(1) coloring rounds.
    - ``algorithm="auto"`` (default) measures instead of guessing,
      re-evaluated every pivot
      round: while each FW-BW pivot's component covers at least half
      of the remaining nodes the few-large-cores shape is confirmed
      and FW-BW continues; the first small pivot switches the engine
      to coloring for all remaining rounds (so a mixed-shape graph —
      one giant core feeding thousands of small cycles — pays exactly
      one probe round after the giant retires).  Any prefix of
      retired components is valid under either engine (both peel
      whole SCCs off the same remaining subgraph), so the mid-stream
      switch cannot change the labeling.

    Why two engines: each loses badly on some shape.  Spark jobs per
    call under auto / fwbw / coloring (``local[2]`` engine session,
    4-core VM; AQE moves a count by up to ~6% between runs):

    ==============================  ===============
    graph                           jobs
    ==============================  ===============
    ``graph_scc`` sf0.01            86 / 84 / 120
    ``graph_scc`` sf0.1             93 / 91 / 132
    40-cycle                        231 / 229 / 515
    10-cycle feeding 40 two-cycles  129 / 909 / 204
    120 disjoint two-cycles         89 / 973 / 59
    ==============================  ===============

    Coloring runs 2.2× FW-BW's jobs on one long cycle; FW-BW runs 4.5×
    and 16× coloring's on the many-small-SCC shapes, where it took
    48 s and 141 s against coloring's 8 s and 3 s (host busy).
    ``algorithm`` also lets tests pin each engine against Kosaraju.

    Scale shape: every stage is node-keyed joins / partial-aggregable
    degree counts; the reach sets are frontier expansions
    (:func:`bfs_distances`) and the coloring fixpoint is a node-keyed
    min-message round; no all-pairs, no windows.  ``max_iter`` bounds
    the OUTER trim+peel rounds (fwbw: one non-trivial SCC each;
    coloring: all current roots each); ``bfs_max_iter`` separately
    bounds the inner reachability/propagation depth (a deep graph is
    not a many-components graph — ADVICE r10 flagged the shared
    bound).  RAISES past either bound rather than returning a partial
    labeling.

    Determinism + cross-algorithm verification: the registered
    oracle (plans/extras.py graph_scc) computes mutual reachability
    through a recursive-CTE transitive closure — an INDEPENDENT
    algorithm, as graph_coreness's peel oracle is for h-index.
    """
    if algorithm not in ("auto", "fwbw", "coloring"):
        raise ValueError(
            f"algorithm must be 'auto', 'fwbw' or 'coloring', got "
            f"{algorithm!r}"
        )
    engine = algorithm
    a, b = F.col(src), F.col(dst)
    remaining = (
        edges.select(a.alias("a"), b.alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    live_handle = hold(checkpoint_handle(remaining))
    spark = edges.sparkSession

    def endpoints(df: DataFrame) -> DataFrame:
        return (
            df.select(F.col("a").alias("node"))
            .unionByName(df.select(F.col("b").alias("node")))
            .distinct()
        )

    nodes0 = endpoints(remaining).localCheckpoint(eager=True)
    hold(checkpoint_handle(nodes0))
    comp_frames: list[DataFrame] = []
    converged = False
    pivot = None
    for _ in range(max_iter):
        # --- TRIM to a fixpoint: in-deg 0 or out-deg 0 ⇒ cycle-free ---
        while True:
            flags = hold(
                remaining.select(
                    F.col("a").alias("node"),
                    F.lit(1).alias("o"),
                    F.lit(0).alias("i"),
                )
                .unionByName(
                    remaining.select(
                        F.col("b").alias("node"),
                        F.lit(0).alias("o"),
                        F.lit(1).alias("i"),
                    )
                )
                .groupBy("node")
                .agg(F.max("o").alias("o"), F.max("i").alias("i"))
                .persist()
            )
            trimmable = (F.col("o") == 0) | (F.col("i") == 0)
            stats = flags.agg(
                F.count("*").alias("n"),
                F.sum(F.when(trimmable, 1).otherwise(0)).alias("ntrim"),
                F.min("node").alias("mn"),
            ).first()
            if stats["n"] == 0:
                flags.unpersist()
                converged = True
                break
            if stats["ntrim"] == 0:
                # trim fixpoint: the next pivot (min remaining id)
                # rides out of the SAME stats aggregate — no extra job
                pivot = int(stats["mn"])
                flags.unpersist()
                break
            trimmed = flags.filter(trimmable).select("node")
            new_r = (
                remaining.join(
                    trimmed.withColumnRenamed("node", "a"), "a", "left_anti"
                )
                .join(
                    trimmed.withColumnRenamed("node", "b"), "b", "left_anti"
                )
                .localCheckpoint(eager=True)
            )
            new_h = hold(checkpoint_handle(new_r))
            live_handle.unpersist(False)
            remaining, live_handle = new_r, new_h
            flags.unpersist()
        if converged:
            break
        with owned() as scratch:
            if engine in ("fwbw", "auto"):
                # --- PIVOT: SCC = FWD ∩ BWD, one tagged BFS both sides ---
                # Direction namespace 2n / 2n+1; decode with two's-
                # complement bit ops (node & 1, shiftright(node, 1)) so
                # negative node ids round-trip exactly — Spark's % returns
                # negative remainders and div truncates toward zero, which
                # silently dropped negative ids from the bwd set.
                tagged = remaining.select(
                    (F.col("a") * 2).alias("a"), (F.col("b") * 2).alias("b")
                ).unionByName(
                    remaining.select(
                        (F.col("b") * 2 + 1).alias("a"),
                        (F.col("a") * 2 + 1).alias("b"),
                    )
                )
                seeds = spark.createDataFrame(
                    [(pivot * 2,), (pivot * 2 + 1,)], "node long"
                )
                try:
                    reach = _reach_set(tagged, seeds, max_iter=bfs_max_iter)
                except RuntimeError as exc:
                    # The inner reach pass is bounded by THIS caller's
                    # bfs_max_iter knob, but bfs_distances can only name
                    # its own max_iter parameter — re-raise naming the
                    # knob the caller must actually turn (ADVICE r11),
                    # mirroring the coloring-fixpoint raise below.
                    raise RuntimeError(
                        f"strongly_connected_components: the pivot "
                        f"reachability pass did not exhaust its frontier "
                        f"within bfs_max_iter={bfs_max_iter} rounds; "
                        f"raise bfs_max_iter (reach depth exceeds the "
                        f"bound)"
                    ) from exc
                fwd = reach.filter(F.expr("node & 1") == 0).select(
                    F.expr("shiftright(node, 1)").alias("node")
                )
                bwd = reach.filter(F.expr("node & 1") == 1).select(
                    F.expr("shiftright(node, 1)").alias("node")
                )
                comp = (
                    fwd.join(bwd, "node")
                    .select(
                        "node", F.lit(int(pivot)).cast("long").alias("scc")
                    )
                    .localCheckpoint(eager=True)
                )
                if engine == "auto":
                    # Engine probe, MEASURED on this graph rather than
                    # a static threshold, re-evaluated EVERY pivot
                    # round: while
                    # each pivot's component covers >= half of the
                    # remaining nodes, few-large-cores FW-BW is winning
                    # and auto keeps probing; the first small pivot
                    # (< half) signals many components remain — switch
                    # to coloring, which retires every current root SCC
                    # per round, and never switch back (coloring is never
                    # the worse engine once components are many).  A
                    # one-shot probe would strand a mixed-shape graph
                    # (one giant core + thousands of 2-cycles) on
                    # one-SCC-per-round FW-BW after the giant retires.
                    # Any prefix of retired components is valid under
                    # either engine, so switching cannot change the
                    # labeling; the probe's cost is one count on the
                    # already-checkpointed component frame.
                    if 2 * comp.count() < int(stats["n"]):
                        engine = "coloring"
            else:
                # --- COLORING: retire every root SCC in one round ---
                # 1) min-label forward closure: color(v) = min{u : u →* v}.
                #    Improved-only FRONTIER relaxation (the shortest_paths
                #    argument, min-plus with unit labels): a node whose
                #    color did not improve last round would re-send the
                #    exact message already folded into its neighbors, so
                #    joining only last round's improved nodes against the
                #    adjacency is bit-identical to full relaxation — and
                #    the frontier shrinks monotonically after the
                #    propagation peak instead of re-scanning every node
                #    every round.
                colors0 = endpoints(remaining).select(
                    "node",
                    F.col("node").alias("color"),
                    F.lit(True).alias("changed"),
                )

                def propagate(colors: DataFrame, _) -> DataFrame:
                    frontier = colors.filter(F.col("changed")).select(
                        "node", "color"
                    )
                    msgs = (
                        frontier.join(
                            remaining, frontier["node"] == remaining["a"]
                        )
                        .select(F.col("b").alias("node"), "color")
                        .groupBy("node")
                        .agg(F.min("color").alias("mc"))
                    )
                    return colors.join(msgs, "node", "left").select(
                        "node",
                        F.least(
                            F.col("color"), F.coalesce("mc", "color")
                        ).alias("color"),
                        (F.coalesce("mc", F.col("color")) < F.col("color"))
                        .alias("changed"),
                    )

                colors = fixpoint(
                    propagate, colors0,
                    metric=[
                        F.count(F.when(F.col("changed"), 1)).alias("changed")
                    ],
                    converged=lambda _, cur: cur.metric["changed"] == 0,
                    max_iter=bfs_max_iter,
                    error=f"strongly_connected_components: min-label "
                    f"coloring did not reach its fixpoint within "
                    f"bfs_max_iter={bfs_max_iter} propagation rounds; "
                    f"raise bfs_max_iter (label chain depth exceeds "
                    f"the bound)",
                )
                # 2) roots + backward reach through same-color nodes only;
                #    classes are edge-disjoint after the color filter, so
                #    one multi-seed BFS serves every root at once.
                roots = colors.filter(
                    F.col("color") == F.col("node")
                ).select("node")
                ca = colors.select(
                    F.col("node").alias("a"), F.col("color").alias("ca")
                )
                cb = colors.select(
                    F.col("node").alias("b"), F.col("color").alias("cb")
                )
                rev_within = (
                    remaining.join(ca, "a")
                    .join(cb, "b")
                    .filter(F.col("ca") == F.col("cb"))
                    .select(F.col("b").alias("a"), F.col("a").alias("b"))
                )
                try:
                    reach = _reach_set(rev_within, roots, max_iter=bfs_max_iter)
                except RuntimeError as exc:
                    # Same re-raise contract as the fwbw pivot pass above
                    # (ADVICE r12): this reach is ALSO bounded by the
                    # caller's bfs_max_iter knob, so frontier exhaustion
                    # must name it — not bfs_distances' internal max_iter.
                    raise RuntimeError(
                        f"strongly_connected_components: the root "
                        f"backward-reach pass (coloring engine) did not "
                        f"exhaust its frontier within "
                        f"bfs_max_iter={bfs_max_iter} rounds; raise "
                        f"bfs_max_iter (reach depth exceeds the bound)"
                    ) from exc
                comp = (
                    reach.join(colors.select("node", "color"), "node")
                    .select("node", F.col("color").cast("long").alias("scc"))
                    .localCheckpoint(eager=True)
                )
        comp_frames.append(comp)
        hold(checkpoint_handle(comp))
        new_r = (
            remaining.join(
                comp.select(F.col("node").alias("a")), "a", "left_anti"
            )
            .join(comp.select(F.col("node").alias("b")), "b", "left_anti")
            .localCheckpoint(eager=True)
        )
        new_h = hold(checkpoint_handle(new_r))
        live_handle.unpersist(False)
        remaining, live_handle = new_r, new_h
        for h in scratch:  # the pivot round's reach/coloring blocks
            h.unpersist(False)
    if not converged:
        raise RuntimeError(
            f"strongly_connected_components did not exhaust the graph "
            f"within max_iter={max_iter} trim+peel rounds "
            f"(engine={engine}); raise max_iter, or use "
            f"algorithm='coloring' if many small SCCs remain"
        )
    live_handle.unpersist(False)  # the final (empty) edge checkpoint
    # Singletons by construction: every initial node not in any pivot
    # component (trimmed nodes and isolated-by-trim nodes alike are
    # provably cycle-free — a cycle member always keeps in/out >= 1
    # within the remaining subgraph, so trims can never remove one).
    if comp_frames:
        comps = comp_frames[0]
        for f in comp_frames[1:]:
            comps = comps.unionByName(f)
        singles = nodes0.join(comps.select("node"), "node", "left_anti")
    else:
        comps = spark.createDataFrame([], "node long, scc long")
        singles = nodes0
    return comps.unionByName(
        singles.select("node", F.col("node").cast("long").alias("scc"))
    )


@scoped
def stress_centrality(
    edges: DataFrame,
    sources: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    directed: bool = False,
    max_iter: int = 100,
    dedupe_edges: bool = True,
) -> DataFrame:
    """Sampled-source STRESS centrality — the path-centrality measure
    the graph family lacked: for every node v, the number of shortest
    paths from the sampled ``sources`` that pass THROUGH v as an
    interior vertex (Shimbel's stress — the integer-exact sibling of
    betweenness, which weights each (s, t) term by 1/σ_st and is
    therefore fractional).  Sampling sources is the standard scale
    treatment (Brandes-Pich): exact all-pairs betweenness is O(n·m)
    rounds of this same computation.

    Per source s the computation is Brandes' two sweeps in exact
    int64:

    * forward — layered multi-source BFS carrying ``sigma(s, v)``
      (shortest-path counts): layer d+1's sigma is the sum of its
      layer-d predecessors' sigmas (one node-keyed join + partial-agg
      sum per round, anti-joined against the visited set);
    * backward — ``h(s, v) = Σ_{w : DAG successor} (h(s, w) + 1)``,
      the number of shortest-path CONTINUATIONS below v, accumulated
      one layer at a time from the deepest frontier up (a DAG
      successor is an edge v→w with dist(w) = dist(v)+1);
    * ``stress(v) = Σ_s [v ≠ s] sigma(s, v) · h(s, v)`` — every s→t
      shortest path through interior v factors EXACTLY as (paths
      s→v) × (continuations v→t), so the product-sum is the exact
      path count, no fractions anywhere.

    All sources run in ONE tagged frame keyed (s, node) — rounds =
    graph eccentricity bound, not rounds × |sources|.  The product-sum
    accumulates in decimal(38,0) (sigma and h are each bounded by the
    graph's shortest-path counts, which compound multiplicatively on
    dense layered graphs) and the result casts back to int64 under
    ANSI — loud overflow, never a silent wrap (the basket-lift
    policy).

    Output: (node, stress) for every node reachable from at least one
    source, sources included (a source scores only for OTHER sources'
    paths through it).  Leaves and endpoints score 0.

    Scale shape: each forward round is one (s, node)-keyed
    frontier-adjacency join + partial-aggregable sigma sum + one
    anti-join, and checkpoints ONLY the new layer (the visited set is
    the lazy union of the per-layer checkpoints — total checkpoint
    writes are O(|visited|), not the O(rounds x |visited|) of
    re-materializing the accumulated frame every round); the DAG
    successor edges (v -> w with dist(w) = dist(v) + 1) are derived
    ONCE from the layered frames and checkpointed, so each backward
    round is one cached-DAG slice joined to the layer below — the
    full adjacency is scanned exactly once after the forward pass
    instead of once per backward layer (r19: the per-layer adjacency
    join sat inside a doubly-referenced lazy subtree and re-executed
    quadratically; event-log evidence showed three identical
    20.4 MB-write stages and 122 s task time for a ~7 s wall job).
    Non-convergence RAISES past ``max_iter`` rather than returning
    truncated counts.
    """
    a, b = F.col(src), F.col(dst)
    fwd = edges.select(a.alias("a"), b.alias("b"))
    adj = fwd if directed else fwd.unionByName(
        edges.select(b.alias("a"), a.alias("b"))
    )
    adj = adj.filter(F.col("a") != F.col("b"))
    if dedupe_edges:
        # A duplicated edge would DOUBLE-COUNT sigma (unlike plain
        # reachability, where distinct is only a perf guard), so the
        # dedup default stays on.  Pass False only when the input is
        # provably duplicate-free under symmetrization — e.g. a
        # deduped bipartite edge list whose two node namespaces cannot
        # collide — to skip this full-edge-list shuffle.
        adj = adj.distinct()
    adj = hold(adj.persist())
    adj.count()
    # forward: layers[d] = (s, node, dist, sigma) checkpointed per
    # round; visited = the LAZY union of the cached layers (each
    # layer's lineage is already truncated, so the union never deepens
    # — and the accumulated set is never re-written, unlike a per-round
    # visited.localCheckpoint whose writes total O(rounds x |visited|))
    l0 = sources.select(
        F.col("node").cast("long").alias("s"),
        F.col("node").cast("long").alias("node"),
        F.lit(0).cast("long").alias("dist"),
        F.lit(1).cast("long").alias("sigma"),
    ).distinct().localCheckpoint(eager=True)
    layers = [l0]
    hold(checkpoint_handle(l0))
    visited = l0
    frontier = l0.select("s", "node", "sigma")
    depth = 0
    converged = False
    for d in range(1, max_iter + 1):
        nxt = (
            frontier.join(adj, frontier["node"] == adj["a"])
            .groupBy("s", F.col("b").alias("node"))
            .agg(F.sum("sigma").alias("sigma"))
            .join(
                visited.select("s", F.col("node").alias("node")),
                ["s", "node"],
                "left_anti",
            )
            .select(
                "s",
                "node",
                F.lit(d).cast("long").alias("dist"),
                "sigma",
            )
            .localCheckpoint(eager=True)
        )
        nxt_handle = hold(checkpoint_handle(nxt))
        if nxt.count() == 0:
            nxt_handle.unpersist(False)
            converged = True
            depth = d - 1
            break
        layers.append(nxt)
        visited = visited.unionByName(nxt)
        frontier = nxt.select("s", "node", "sigma")
    if not converged:
        raise RuntimeError(
            f"stress_centrality did not exhaust the frontier within "
            f"max_iter={max_iter} rounds; raise max_iter (graph "
            "eccentricity exceeds the bound)"
        )
    # backward: h per layer, deepest first.  h(deepest) = 0; layer d's
    # h sums (h + 1) over DAG successors in layer d+1.  The DAG edges
    # (per-source edges v -> w with dist(w) = dist(v) + 1) are derived
    # ONCE — one adjacency join + one layer join over the whole
    # layered frame — and eagerly checkpointed: each backward layer
    # then slices the cached DAG instead of re-joining the full
    # adjacency, which previously sat inside a doubly-referenced lazy
    # subtree and re-executed quadratically over the layers (r19
    # event-log evidence: three identical 20.4 MB-write stages, 122 s
    # task time for a ~7 s wall job).  Past the DAG precompute the
    # per-layer frames stay LAZY — the whole chain executes as stages
    # of the single final job instead of one driver-scheduled job per
    # layer (measured ~2x on the registered query, whose cost is
    # job-launch floor, not data).  Lineage depth is bounded by
    # ``depth``; every 8 layers the accumulated frame is checkpointed
    # to keep the plan tree shallow on deep graphs.
    #
    # NOT persisted per layer, deliberately (r19 probe): each lay_h is
    # referenced twice (the final union and the layer below), but
    # exchange reuse already dedupes the repeated subtrees at runtime —
    # per-layer persists left the stage count unchanged (76→76) and
    # MEASURED SLOWER (same-session alternating probe: 7.4/6.9 s
    # unpersisted vs 9.0/8.2 s persisted — block-manager writes with
    # zero avoided recompute).
    adj_b = adj.select(
        F.col("a").alias("node"), F.col("b").alias("succ")
    )
    dag = (
        visited.select("s", "node", "dist")
        .join(adj_b, "node")
        .join(
            visited.select(
                "s",
                F.col("node").alias("succ"),
                F.col("dist").alias("dsucc"),
            ),
            ["s", "succ"],
        )
        .filter(F.col("dsucc") == F.col("dist") + 1)
        .select("s", "node", "dist", "succ")
        .localCheckpoint(eager=True)
    )
    hold(checkpoint_handle(dag))
    # the eager DAG checkpoint was the last adjacency reader — release
    # the symmetrized edge cache before the backward chain runs
    adj.unpersist()
    acc = layers[depth].select(
        "s", "node", F.lit(0).cast("long").alias("h")
    )
    h = acc  # the layer just processed
    for d in range(depth - 1, -1, -1):
        layer = layers[d].select("s", "node")
        below_h = h.select(
            "s", F.col("node").alias("succ"), F.col("h").alias("hs")
        )
        # DAG successors of this layer: the cached DAG's dist == d
        # slice, joined to the d+1 layer's h values
        succ_h = (
            dag.filter(F.col("dist") == d)
            .select("s", "node", "succ")
            .join(below_h, ["s", "succ"])
            .groupBy("s", "node")
            .agg(F.sum(F.col("hs") + F.lit(1)).alias("h"))
        )
        lay_h = (
            layer.join(succ_h, ["s", "node"], "left")
            .select(
                "s", "node", F.coalesce("h", F.lit(0).cast("long")).alias("h")
            )
        )
        acc = acc.unionByName(lay_h)
        if (depth - d) % 8 == 0:
            acc = acc.localCheckpoint(eager=True)
            hold(checkpoint_handle(acc))
            lay_h = acc.filter(F.col("h").isNotNull()).join(
                layer, ["s", "node"], "left_semi"
            ).select("s", "node", "h")
        h = lay_h
    return (
        visited.join(acc, ["s", "node"])
        .filter(F.col("node") != F.col("s"))
        .select(
            "node",
            (
                F.col("sigma").cast("decimal(38,0)") * F.col("h")
            ).alias("p"),
        )
        .groupBy("node")
        .agg(F.sum("p").cast("long").alias("stress"))
    )


def _integral_weight(edges: DataFrame, weight_col: str):
    """The weighted-path weight expression, with the INTEGER-WEIGHT
    contract enforced loudly (ADVICE r17): the modularity family's
    exact decimal(38,0) arithmetic is defined over integer weights
    (contract_graph emits long counts), and the previous bare
    ``cast('long')`` would silently TRUNCATE a caller's fractional
    double weights — quietly wrong Q, contrary to the module's
    loud-ANSI-overflow policy.  Asserts the column's dataType is
    integral (byte/short/int/long) and returns it widened to long
    (a lossless cast); fractional or decimal weights raise TypeError —
    scale them to integers (e.g. millis) at the edge-list boundary,
    where the semantics of the scaling are the caller's to choose.
    """
    from pyspark.sql.types import (
        ByteType,
        IntegerType,
        LongType,
        ShortType,
    )

    dt = edges.schema[weight_col].dataType
    if not isinstance(dt, (ByteType, ShortType, IntegerType, LongType)):
        raise TypeError(
            f"weight_col {weight_col!r} must be an integral column "
            f"(byte/short/int/long), got {dt.simpleString()}: the exact "
            "integer modularity arithmetic would silently truncate "
            "fractional weights — scale them to integers upstream"
        )
    return F.col(weight_col).cast("long")


def _m_lit(spark, val) -> DataFrame:
    """1-row ``(__m decimal(38,0))`` frame carrying an ALREADY-COMPUTED
    exact total edge weight — the shape every modularity operator's
    in-plan ``und.agg(sum(__w))`` produces, as a literal (r19, VERDICT
    r18 next-round #3): a caller that computed m once (eagerly, e.g.
    :func:`modularity_stats`) re-enters it into each consumer's plan
    instead of re-running the aggregation subtree per consumer.
    ``val=None`` reproduces the NULL an aggregation over an empty edge
    list yields, bit-for-bit.

    Built over ``OneRowRelation`` (a SQL literal select), NOT
    ``createDataFrame``: the latter plans as a ``LogicalRDD`` — a real
    distributed 1-task scan stage per consuming broadcast — while the
    literal constant-folds into the plan with no stage at all
    (measured r19: the LogicalRDD form made the shared-m rewrite a net
    LOSS on the refine queries; the folded form is what wins)."""
    if val is None:
        return spark.sql("SELECT CAST(NULL AS DECIMAL(38,0)) AS __m")
    return spark.sql(f"SELECT CAST('{int(val)}' AS DECIMAL(38,0)) AS __m")


def modularity_stats(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    weight_col: str | None = None,
    collect_m: bool = True,
) -> tuple[DataFrame, DataFrame | None]:
    """The two loop-invariant statistics EVERY modularity operator
    derives from the same canonical edge list — computed ONCE for
    callers that run several of them on one graph (r19, VERDICT r18
    next-round #3: the guarded sweep ran the identical degree rollup
    and m aggregation three times per call; a refined coarsening pass
    runs them up to four times):

    * ``deg`` — (n, k): each node's weighted degree with self-loops
      counted TWICE (the shared convention of :func:`modularity_score`
      / :func:`modularity_refine_step` / :func:`modularity_merge_step`
      — a self-loop row lands in both union arms), persisted and held
      in the caller's scope;
    * ``m`` — the 1-row ``(__m decimal(38,0))`` total-weight literal
      (:func:`_m_lit`), collected EAGERLY here (one bounded
      partial-aggregable job; NULL on an empty edge list, exactly as
      the in-plan aggregation would report).  ``collect_m=False``
      skips the collect and returns ``(deg, None)`` — the registered
      paths share deg only, because the eager m job measured SLOWER
      locally than the in-plan 1-row aggs it replaces
      (OPTIMIZATION_r19.md), while deg's recompute is a real shuffle.

    Input MUST be canonical (``u <= v``, one row per pair, self-loops
    only under ``weight_col`` — the ``assume_canonical=True`` contract
    of the consumers): the ``deg=`` / ``m=`` parameters of the sibling
    operators are only honored with ``assume_canonical=True``, so stats
    over a non-canonical list could never be handed to them anyway.
    Integer-weight validation (:func:`_integral_weight`) applies
    unchanged.
    """
    a, b = F.col(src), F.col(dst)
    w_expr = (
        _integral_weight(edges, weight_col)
        if weight_col is not None
        else F.lit(1).cast("long")
    )
    und = edges.select(a.alias("u"), b.alias("v"), w_expr.alias("__w"))
    deg = (
        und.select(F.col("u").alias("n"), "__w")
        .unionByName(und.select(F.col("v").alias("n"), "__w"))
        .groupBy("n")
        .agg(F.sum("__w").cast("long").alias("k"))
        .persist()
    )
    hold(deg)
    if not collect_m:
        return deg, None
    dec = "decimal(38,0)"
    m_val = und.agg(F.sum("__w").cast(dec).alias("__m")).first()[0]
    return deg, _m_lit(edges.sparkSession, m_val)


@scoped
def modularity_score(
    edges: DataFrame,
    communities: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    community_col: str = "community",
    weight_col: str | None = None,
    assume_canonical: bool = False,
    deg: DataFrame | None = None,
    m: DataFrame | None = None,
) -> DataFrame:
    """EXACT integer Newman-Girvan modularity of a community
    assignment — the quality score for the partitions the graph family
    mines (:func:`label_propagation`, connected components): per
    community c, how many more edges fall INSIDE c than a degree-
    preserving random graph would place there,

        Q = Σ_c [ in_c / m  −  (d_c / 2m)² ]
          = Σ_c (4·m·in_c − d_c²) / (4·m²),

    where ``m`` is the undirected edge count, ``in_c`` the edges with
    both endpoints in c, and ``d_c`` the sum of member degrees.  The
    numerator terms are computed exactly in ``decimal(38,0)`` (they
    compound multiplicatively in m, the stress-centrality policy) and
    cast to int64 under ANSI — loud overflow, never a wrap; the e6
    quotient uses sign-safe truncation (truncate-toward-zero on |x|,
    then restore the sign) because Spark's integral ``div`` truncates
    while an unguarded floor division would disagree on negative
    contributions.

    The edge list is canonicalized to a simple undirected graph
    exactly as :func:`label_propagation` canonicalizes its input
    (self-loops dropped, orientation + duplicates collapsed), so the
    score measures the same graph the communities were mined from.
    ``assume_canonical=True`` skips that distinct (and its persist)
    for callers whose edges are ALREADY simple-undirected-canonical
    (``u < v``, no self-loops, no duplicates — e.g. the registered
    LPA backbone, which arrives least/greatest+distinct'd and
    persisted); the input contract is the caller's to honor, exactly
    like ``stress_centrality(dedupe_edges=False)`` (ADVICE r14: the
    redundant re-distinct was one full edge shuffle + an extra
    persisted frame per run).  Nodes absent from ``communities`` get
    no community row but still count toward degrees and m; community
    MEMBERS with no incident edge are kept — their community row
    reports them in ``n_nodes`` with 0-coalesced ``in_edges`` /
    ``deg_sum`` (ADVICE r14: an inner deg-join silently dropped
    all-isolated communities and undercounted ``n_nodes``; isolated
    members contribute exactly 0 to Q, so scores are unchanged).
    ``communities`` must be one row per node (a partition, not a
    cover).

    WEIGHTED form (``weight_col``, r16): score a
    :func:`contract_graph` output directly — canonical weighted edges
    with self-loops, asserted via ``assume_canonical=True`` (enforced,
    the :func:`modularity_merge_step` convention).  ``m`` = total
    weight, degrees count self-loops twice, ``in_c`` = intra-community
    weight (a super-node's self-loop is its community's internal
    weight).  By the contraction-invariance lemma,
    score(contract(E, P), identity) reproduces score(E, P)'s
    in_edges/deg_sum/contrib_num/q_e6 per community EXACTLY
    (pytest-pinned); only ``n_nodes`` differs by design — it counts
    super-nodes (1 per community), not members.

    Output: one row per community —
    (community, n_nodes, in_edges, deg_sum, contrib_num, q_e6) where
    ``contrib_num = 4·m·in_c − d_c²`` (exact numerator over the
    constant denominator 4m²) and ``q_e6`` is the whole partition's
    Σ contrib·10⁶ div 4m², repeated per row (single-row fan-in).

    Scale shape: canonicalization is one distinct; degrees are one
    partial-aggregable count; in_c is two node-keyed equi-joins of the
    edge list against the (broadcastable, |nodes|-row) assignment
    frame + a partial-agg count; the m / Σ fan-ins are 1-row
    crossJoins (the eval-summary pattern).  No iteration, no window,
    no all-pairs anywhere.

    ``deg`` / ``m`` (r19): precomputed loop-invariant stats —
    :func:`modularity_stats`'s (n, k) degree frame and 1-row
    ``(__m decimal(38,0))`` total-weight frame — substituted for the
    in-plan degree rollup and m aggregation when a caller scores the
    SAME canonical graph more than once (the guarded sweep scores it
    twice and sweeps it once).  Honored only with
    ``assume_canonical=True`` (enforced): the stats describe the edge
    list AS PASSED, so canonicalizing here would silently diverge
    from them.  Values are bit-identical by construction — the
    caller's frames are the same expressions over the same rows.
    """
    a, b = F.col(src), F.col(dst)
    if (deg is not None or m is not None) and not assume_canonical:
        raise ValueError(
            "deg/m require assume_canonical=True: precomputed stats "
            "describe the edge list as passed — canonicalization here "
            "would silently diverge from them; canonicalize upstream "
            "and compute the stats there (modularity_stats)"
        )
    if weight_col is not None:
        if not assume_canonical:
            raise ValueError(
                "weight_col requires assume_canonical=True: weighted "
                "edges must already be canonical (u <= v, one row per "
                "pair, self-loops allowed) — the contract_graph output "
                "contract; canonicalize there, not here"
            )
        und = edges.select(
            a.alias("u"),
            b.alias("v"),
            _integral_weight(edges, weight_col).alias("__w"),
        )
    elif assume_canonical:
        # caller-guaranteed simple undirected canonical form; callers
        # on this path persist the edge frame themselves (it feeds m,
        # degrees, and the in-community join below)
        und = edges.select(
            a.alias("u"), b.alias("v"), F.lit(1).cast("long").alias("__w")
        )
    else:
        und = hold(
            _canonical(edges, src, dst)
            .withColumn("__w", F.lit(1).cast("long"))
            .persist()
        )
    dec = "decimal(38,0)"
    m1 = m if m is not None else und.agg(F.sum("__w").cast(dec).alias("__m"))
    # self-loops land in both branches → 2w, the weighted-degree
    # convention the contraction-invariance lemma needs
    degf = (
        deg.select("n", F.col("k").cast("long").alias("__deg"))
        if deg is not None
        else (
            und.select(F.col("u").alias("n"), "__w")
            .unionByName(und.select(F.col("v").alias("n"), "__w"))
            .groupBy("n")
            .agg(F.sum("__w").cast("long").alias("__deg"))
        )
    )
    comm = communities.select(
        F.col(node_col).alias("n"),
        F.col(community_col).alias("community"),
    )
    # LEFT join from the assignment frame (ADVICE r14): members with no
    # incident edge keep their community's row — n_nodes counts ALL
    # members, deg_sum coalesces their missing degree to 0.
    d_c = (
        comm.join(degf, "n", "left")
        .groupBy("community")
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.coalesce(F.sum("__deg"), F.lit(0))
            .cast("long")
            .alias("deg_sum"),
        )
    )
    cu = comm.select(F.col("n").alias("u"), F.col("community").alias("cu"))
    cv = comm.select(F.col("n").alias("v"), F.col("community").alias("cv"))
    in_c = (
        und.join(cu, "u")
        .join(cv, "v")
        .filter(F.col("cu") == F.col("cv"))
        .groupBy(F.col("cu").alias("community"))
        .agg(F.sum("__w").cast("long").alias("in_edges"))
    )
    per = (
        d_c.join(in_c, "community", "left")
        .crossJoin(F.broadcast(m1))
        .select(
            "community",
            "n_nodes",
            F.coalesce("in_edges", F.lit(0).cast("long")).alias("in_edges"),
            "deg_sum",
            (
                F.lit(4).cast(dec) * F.col("__m")
                * F.coalesce("in_edges", F.lit(0)).cast(dec)
                - F.col("deg_sum").cast(dec) * F.col("deg_sum").cast(dec)
            ).alias("__contrib"),
            F.col("__m"),
        )
    )
    tot = per.agg(
        F.sum("__contrib").alias("__tot"),
        F.max("__m").alias("__m2"),
    ).select(
        F.when(
            F.col("__tot") >= 0,
            F.expr("(__tot * 1000000) div (4 * __m2 * __m2)"),
        )
        .otherwise(
            -F.expr("((-__tot) * 1000000) div (4 * __m2 * __m2)")
        )
        .cast("long")
        .alias("q_e6")
    )
    ret = (
        per.crossJoin(F.broadcast(tot))
        .select(
            "community",
            "n_nodes",
            "in_edges",
            "deg_sum",
            F.col("__contrib").cast("long").alias("contrib_num"),
            "q_e6",
        )
    )
    return ret


@scoped
def modularity_merge_step(
    edges: DataFrame,
    communities: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    community_col: str = "community",
    weight_col: str | None = None,
    assume_canonical: bool = False,
    deg: DataFrame | None = None,
    m: DataFrame | None = None,
) -> DataFrame:
    """ONE mutual-best-partner community MERGE pass with a
    MONOTONICITY GUARANTEE — the synchronous-safe agglomerative step
    of distributed Louvain (the coarsening move): every community
    picks the neighbor community whose merge has the highest EXACT
    integer modularity gain, and a pair merges iff the choice is
    MUTUAL and the gain strictly positive.

    Why this is the step that gets the guarantee: merging communities
    a and b changes Q by

        ΔQ(a, b) = (2m·e_ab − d_a·d_b) / 2m²

    (``e_ab`` = edges between them, ``d`` = degree sums), and Q is
    ADDITIVE over communities — so merges that form a MATCHING
    (mutual-best pairs are disjoint by construction) compose with zero
    cross terms: total ΔQ = Σ over merged pairs, each strictly
    positive.  One synchronous pass therefore NEVER decreases Q, for
    any graph and any starting partition (hypothesis-tested as an
    invariant).  Contrast :func:`modularity_refine_step`, the
    node-level local-move sweep, whose simultaneous moves carry no
    such guarantee (and measurably overshoot on hub-heavy graphs —
    see SCALING.md); a production coarsening loop alternates merge
    passes and re-scores (:func:`modularity_score`) until no pair
    qualifies — and must ``localCheckpoint`` each pass's output before
    feeding it back (the iterative-graph-operator pattern: without
    truncation every pass re-optimizes the whole deepening lineage;
    the convergence pytest demonstrates the loop).

    Determinism: best partner by (gain DESC, partner id ASC); a merged
    pair adopts min(a, b) as its community id.  All gains in
    ``decimal(38,0)`` (terms compound multiplicatively in m).

    WEIGHTED form (``weight_col``, the Louvain phase-2 input): edges
    carry an integer weight and may include SELF-LOOPS — the
    :func:`contract_graph` output contract (canonical ``u <= v``, one
    row per pair), which the caller asserts by ALSO passing
    ``assume_canonical=True`` (enforced; canonicalizing weighted
    multi-edges is the contractor's job, not this step's).  Weighted
    semantics are the standard generalization: ``m`` = total edge
    weight (self-loops once), a node's degree = incident weight with
    self-loops counted TWICE, ``e_ab`` = inter-community weight; gain
    stays 2m·e_ab − d_a·d_b.  The CONTRACTION-INVARIANCE lemma this
    enables: on ``contract_graph(E, P)`` with the IDENTITY partition,
    every quantity above equals its value on ``(E, P)`` — m is
    preserved by construction, a super-node's degree 2·w_cc + Σw_cd
    telescopes to its community's degree sum, and e'_ab = w_ab = e_ab
    — so one weighted pass on the contracted graph returns exactly the
    community relabeling the unit-weight pass returns on the original
    graph (hypothesis-tested), while joining |communities|²-bounded
    rows instead of |E|.

    Output: (node, community) — the coarsened assignment, LPA's
    schema; unmerged communities pass through unchanged.

    Scale shape: NO iteration — the community graph is one edge-list
    double-join against the (broadcastable) assignment frame + a
    partial-agg count (bounded by community-pair count, ≪ edges);
    best-partner is a community-keyed top-1 window; the mutual check
    is a self-join of the (1-row-per-community) best frame; the final
    relabel is one broadcastable mapping join.  The m fan-in is one
    row.

    ``deg`` / ``m`` (r19): precomputed loop-invariant stats
    (:func:`modularity_stats`) substituted for the in-plan degree
    rollup and m aggregation — same contract as
    :func:`modularity_score`'s parameters (canonical-only, enforced;
    bit-identical by construction).  Worth passing only when a caller
    ALSO runs sibling operators on the same graph (a refined
    coarsening pass); a lone merge computes each exactly once anyway.
    """
    a, b = F.col(src), F.col(dst)
    if (deg is not None or m is not None) and not assume_canonical:
        raise ValueError(
            "deg/m require assume_canonical=True: precomputed stats "
            "describe the edge list as passed — canonicalization here "
            "would silently diverge from them; canonicalize upstream "
            "and compute the stats there (modularity_stats)"
        )
    if weight_col is not None:
        if not assume_canonical:
            raise ValueError(
                "weight_col requires assume_canonical=True: weighted "
                "edges must already be canonical (u <= v, one row per "
                "pair, self-loops allowed) — the contract_graph output "
                "contract; canonicalize there, not here"
            )
        und = edges.select(
            a.alias("u"),
            b.alias("v"),
            _integral_weight(edges, weight_col).alias("__w"),
        )
    elif assume_canonical:
        und = edges.select(
            a.alias("u"), b.alias("v"), F.lit(1).cast("long").alias("__w")
        )
    else:
        und = hold(
            _canonical(edges, src, dst)
            .withColumn("__w", F.lit(1).cast("long"))
            .persist()
        )
    dec = "decimal(38,0)"
    comm = hold(communities.select(
        F.col(node_col).alias("n"),
        F.col(community_col).alias("c"),
    ).persist())
    # EAGER for the same reason as best below: comm is referenced three
    # times (degree rollup join, both sides of the community-graph
    # double-join, final relabel) — lazy, those references materialize
    # its upstream concurrently and re-execute it per reference.
    comm.count()
    m1 = m if m is not None else und.agg(F.sum("__w").cast(dec).alias("__m"))
    # a self-loop lands in BOTH union branches as the same node, so it
    # contributes 2w to its endpoint's degree — the weighted-graph
    # degree convention the contraction-invariance lemma needs
    degf = (
        deg.select("n", F.col("k").cast("long").alias("k"))
        if deg is not None
        else (
            und.select(F.col("u").alias("n"), "__w")
            .unionByName(und.select(F.col("v").alias("n"), "__w"))
            .groupBy("n")
            .agg(F.sum("__w").cast("long").alias("k"))
        )
    )
    # EAGER persist (r19): d_c is |communities| rows but its chain is
    # the |E|-sized degree rollup; gains joins it TWICE (da, db) and
    # sym_g unions gains twice, so left lazy the rollup chain executed
    # up to 4x inside the final action (event-log: five identical
    # 64-task union stages, ~150 s task time for a ~7 s wall on the
    # registered merge query).  The persisted frames are bounded by
    # the community count — exactly the coarsened state a distributed
    # Louvain keeps resident.
    d_c = hold(
        degf.join(comm, "n")
        .groupBy("c")
        .agg(F.sum("k").cast("long").alias("d"))
        .persist()
    )
    d_c.count()
    ce = (
        und.join(
            comm.select(F.col("n").alias("u"), F.col("c").alias("cu")),
            "u",
        )
        .join(
            comm.select(F.col("n").alias("v"), F.col("c").alias("cv")),
            "v",
        )
        .filter(F.col("cu") != F.col("cv"))
        .select(
            F.least("cu", "cv").alias("ca"),
            F.greatest("cu", "cv").alias("cb"),
            "__w",
        )
        .groupBy("ca", "cb")
        .agg(F.sum("__w").cast("long").alias("e"))
    )
    gains = hold(
        ce.join(d_c.select(F.col("c").alias("ca"), F.col("d").alias("da")), "ca")
        .join(d_c.select(F.col("c").alias("cb"), F.col("d").alias("db")), "cb")
        .crossJoin(F.broadcast(m1))
        .select(
            "ca",
            "cb",
            (
                F.lit(2).cast(dec) * F.col("__m") * F.col("e").cast(dec)
                - F.col("da").cast(dec) * F.col("db").cast(dec)
            ).alias("__g"),
        )
        .filter(F.col("__g") > 0)
        .persist()
    )
    gains.count()
    sym_g = gains.select(
        F.col("ca").alias("c"), F.col("cb").alias("p"), "__g"
    ).unionByName(
        gains.select(F.col("cb").alias("c"), F.col("ca").alias("p"), "__g")
    )
    w = Window.partitionBy("c").orderBy(F.desc("__g"), F.asc("p"))
    best = hold(
        sym_g.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("c", "p")
        .persist()
    )
    # EAGER (r19): best is referenced twice (both sides of the mutual
    # self-join below) — left lazy, the final action materializes the
    # two references CONCURRENTLY and the whole upstream chain (the
    # |E| double-join community graph + gains + window) executes twice
    # (event-log: 150.7 s task time for a 7.6 s wall on the registered
    # merge query).  One count() computes the blocks once; the
    # self-join then reads cache.
    best.count()
    # mutual-best pairs are disjoint by construction (best is a
    # function of c); keep each pair once, relabel the larger id
    mapping = (
        best.alias("x")
        .join(
            best.alias("y"),
            (F.col("x.c") == F.col("y.p")) & (F.col("x.p") == F.col("y.c")),
        )
        .filter(F.col("x.c") > F.col("x.p"))
        .select(
            F.col("x.c").alias("__old"), F.col("x.p").alias("__new")
        )
    )
    ret = (
        comm.join(mapping, comm["c"] == mapping["__old"], "left")
        .select(
            F.col("n").alias("node"),
            F.coalesce("__new", "c").alias("community"),
        )
    )
    return ret


@scoped
def contract_graph(
    edges: DataFrame,
    communities: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    community_col: str = "community",
    weight_col: str | None = None,
    assume_canonical: bool = False,
) -> DataFrame:
    """Louvain PHASE-2 graph contraction: collapse a partition's
    communities into super-nodes and return the weighted community
    super-graph — inter-community edge weights plus SELF-LOOP rows
    carrying each community's internal edge weight.  This is the
    operator that makes a coarsening loop scale: after one
    contraction, every further merge pass joins a graph bounded by the
    (geometrically shrinking) community count instead of re-joining
    the full |E| edge list every pass (VERDICT r15 next-round #1).

    Weight bookkeeping is chosen so modularity is INVARIANT under
    contraction (the standard Louvain phase-2 construction, Blondel et
    al. 2008 §2):

    * total weight is preserved — every original edge lands in exactly
      one output row (an inter row or a self-loop), so m' = m;
    * a super-node's weighted degree (self-loops counted TWICE,
      :func:`modularity_merge_step`'s weighted convention) telescopes
      to its community's degree sum: 2·w_cc + Σ_d w_cd = 2·in_c +
      out_c = d_c.

    Hence one weighted merge pass on the contracted graph with the
    IDENTITY partition computes exactly the community-level gains of
    the unit-weight pass on the original graph (the contraction-
    invariance lemma, hypothesis-tested), and a loop may recurse:
    contract → merge → contract → merge on ever-smaller graphs.

    Input forms: raw unit-weight edges (canonicalized here unless
    ``assume_canonical`` — least/greatest, self-loops dropped,
    multi-edges collapsed, the simple-graph convention every scorer in
    this module uses), or an already-contracted weighted graph
    (``weight_col`` — REQUIRED canonical, this function's own output
    contract, so recursion composes).  Weights must be INTEGRAL
    (byte/short/int/long — enforced, ADVICE r17: the family's exact
    decimal arithmetic would silently truncate fractional weights;
    scale doubles to integers upstream), a contract shared by every
    ``weight_col`` consumer in this module.  Every assignment member must
    appear in ``communities``; edge endpoints absent from the
    assignment are dropped by the inner joins (callers seed
    assignments FROM the edge list, so this is vacuous in practice).

    Output: (``src``, ``dst``, weight) with ``src <= dst``, one row
    per super-edge, weight a long count/sum; self-loops are the
    ``src == dst`` rows.  Column names follow the input params so the
    output feeds straight back in.

    Scale shape: ONE edge-list double-join against the (broadcastable)
    assignment frame + one partial-aggregable rollup keyed by the
    community pair — the same shape as one merge pass's ``ce`` stage,
    paid ONCE; output rows are bounded by community pairs ≪ |E|.
    """
    a, b = F.col(src), F.col(dst)
    if weight_col is not None:
        if not assume_canonical:
            # Same enforced convention as modularity_merge_step /
            # modularity_score (ADVICE r16): the docstring's "REQUIRED
            # canonical" was previously unchecked here, and a weighted
            # edge appearing in BOTH orientations would silently
            # double-count its weight (the output groupBy
            # re-canonicalizes keys, not multiplicity).
            raise ValueError(
                "weight_col requires assume_canonical=True: weighted "
                "edges must already be canonical (u <= v, one row per "
                "pair, self-loops allowed) — the contract_graph output "
                "contract; canonicalize there, not here"
            )
        und = edges.select(
            a.alias("u"),
            b.alias("v"),
            _integral_weight(edges, weight_col).alias("__w"),
        )
    elif assume_canonical:
        und = edges.select(
            a.alias("u"), b.alias("v"), F.lit(1).cast("long").alias("__w")
        )
    else:
        und = (
            _canonical(edges, src, dst)
            .withColumn("__w", F.lit(1).cast("long"))
        )
    comm = hold(communities.select(
        F.col(node_col).alias("n"),
        F.col(community_col).alias("c"),
    ).persist())
    ret = (
        und.join(
            comm.select(F.col("n").alias("u"), F.col("c").alias("cu")),
            "u",
        )
        .join(
            comm.select(F.col("n").alias("v"), F.col("c").alias("cv")),
            "v",
        )
        .select(
            F.least("cu", "cv").alias(src),
            F.greatest("cu", "cv").alias(dst),
            "__w",
        )
        .groupBy(src, dst)
        .agg(F.sum("__w").cast("long").alias("weight"))
    )
    return ret


@scoped
def modularity_refine_step(
    edges: DataFrame,
    communities: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    community_col: str = "community",
    weight_col: str | None = None,
    assume_canonical: bool = False,
    deg: DataFrame | None = None,
    m: DataFrame | None = None,
) -> DataFrame:
    """ONE synchronous greedy node-move sweep — the distributed-Louvain
    phase-1 local move: every node evaluates, against the CURRENT
    assignment, the EXACT integer modularity gain of joining each
    neighbor's community versus staying, and every strictly-improving
    move applies simultaneously.

    Exact integer criterion: moving node i (degree ``k_i``) from its
    community ``a`` to candidate ``c`` changes Q by
    ``(T(c) − T(a)) / 2m²`` where

        T(c) = 2m·k_{i,c} − k_i·(d_c − k_i·[c = a]),

    ``k_{i,c}`` = edges from i into c and ``d_c`` = the community's
    degree sum under the CURRENT assignment (i's own degree is
    subtracted only from its own community — it is not part of any
    OTHER candidate).  Every node picks the candidate maximizing T
    (tie-break: smallest community id — bit-deterministic) among its
    neighbor communities plus its own, and moves iff STRICTLY better
    than staying.  T is computed in ``decimal(38,0)`` (terms compound
    multiplicatively in m — the :func:`modularity_score` policy).

    ``weight_col`` (r17, REQUIRES ``assume_canonical=True`` — the
    sibling operators' enforced convention) runs the same sweep on a
    weighted canonical graph, e.g. :func:`contract_graph`'s output, so
    a coarsening loop can interleave guarded local moves between merge
    passes (true Louvain phase 1 inside phase 2 — VERDICT r16
    next-round #4): m and ``k_{i,c}`` become weight sums, degrees
    count self-loops TWICE (the weighted-scorer convention), and
    ``k_{i,c}`` excludes the node's own self-loop (it moves with the
    node and contributes identically to every candidate, so it
    cancels from the gain — Blondel et al.'s phase-1-on-super-graph
    bookkeeping).  ``weight_col=None`` is the unit sweep unchanged.

    Synchronous semantics, stated honestly: all moves are evaluated
    against one snapshot and applied at once, so a single sweep is
    deterministic and replayable — but simultaneous moves carry NO
    monotonicity guarantee, and the overshoot is real, not
    theoretical: on the hash-sharded customer↔supplier purchase graph
    this sweep MEASURABLY degraded Q (−66,405 → −291,409 e6 at
    sf0.001 — hub suppliers attract every neighbor simultaneously,
    each scored against the old community sizes; SCALING.md records
    the A/B).  The registered refinement query therefore ships
    :func:`modularity_merge_step`, whose matching-merge form carries
    the guarantee as a theorem; this operator remains the library
    local-move primitive (exactness pinned by a pure-python hypothesis
    replay) for callers that re-score with :func:`modularity_score`
    and keep the better partition.

    Output: (node, community) — the refined assignment, LPA's schema.

    Scale shape: no iteration — one neighbor-label equi-join +
    partial-agg count (k_{i,c}), two node-keyed joins against the
    broadcastable assignment frame, one community-keyed degree rollup,
    a 1-row m fan-in, and one (node)-keyed top-1 window over
    degree-bounded candidate rows.  Exactly the frontier-free shape of
    :func:`modularity_score`, applied once.

    ``deg`` / ``m`` (r19): precomputed loop-invariant stats
    (:func:`modularity_stats`) substituted for the in-plan degree
    rollup and m aggregation — same contract as
    :func:`modularity_score`'s parameters (canonical-only, enforced;
    bit-identical by construction).
    """
    a, b = F.col(src), F.col(dst)
    if (deg is not None or m is not None) and not assume_canonical:
        raise ValueError(
            "deg/m require assume_canonical=True: precomputed stats "
            "describe the edge list as passed — canonicalization here "
            "would silently diverge from them; canonicalize upstream "
            "and compute the stats there (modularity_stats)"
        )
    if weight_col is not None:
        if not assume_canonical:
            raise ValueError(
                "weight_col requires assume_canonical=True: weighted "
                "edges must already be canonical (u <= v, one row per "
                "pair, self-loops allowed) — the contract_graph output "
                "contract; canonicalize there, not here"
            )
        und = edges.select(
            a.alias("u"),
            b.alias("v"),
            _integral_weight(edges, weight_col).alias("__w"),
        )
    elif assume_canonical:
        und = edges.select(
            a.alias("u"), b.alias("v"), F.lit(1).cast("long").alias("__w")
        )
    else:
        und = hold(
            _canonical(edges, src, dst)
            .withColumn("__w", F.lit(1).cast("long"))
            .persist()
        )
    dec = "decimal(38,0)"
    comm = hold(communities.select(
        F.col(node_col).alias("n"),
        F.col(community_col).alias("c"),
    ).persist())
    sym = und.select(
        F.col("u").alias("i"), F.col("v").alias("j"), "__w"
    ).unionByName(
        und.select(F.col("v").alias("i"), F.col("u").alias("j"), "__w")
    )
    # degrees count a self-loop TWICE (it appears in both union arms);
    # k_{i,c} excludes it (i != j below) — it moves with the node and
    # cancels from every candidate's gain
    if deg is not None:
        degf = deg.select("n", F.col("k").cast("long").alias("k"))
    else:
        degf = hold(sym.groupBy(F.col("i").alias("n")).agg(
            F.sum("__w").cast("long").alias("k")
        ).persist())
    m1 = m if m is not None else und.agg(F.sum("__w").cast(dec).alias("__m"))
    d_c = (
        degf.join(comm, "n")
        .groupBy("c")
        .agg(F.sum("k").cast("long").alias("d"))
    )
    k_ic = (
        sym.filter(F.col("i") != F.col("j"))
        .join(comm.select(F.col("n").alias("j"), "c"), "j")
        .groupBy(F.col("i").alias("n"), "c")
        .agg(F.sum("__w").cast("long").alias("kc"))
    )
    cand = (
        k_ic.unionByName(
            comm.select("n", "c", F.lit(0).cast("long").alias("kc"))
        )
        .groupBy("n", "c")
        .agg(F.max("kc").alias("kc"))
    )
    # LEFT joins (ADVICE r15): deg is built from the EDGE list, so an
    # assignment member with no incident edge has no deg row, and a
    # community whose members are all isolated has no d_c row — inner
    # joins here would silently drop those members from the returned
    # assignment (the defect class modularity_score fixed in r14).
    # Coalescing k and d to 0 gives isolated nodes T = 0 for every
    # candidate (their only candidate is their own community, from the
    # cand union), so they stay put and pass through unchanged.
    scored = hold(
        cand.join(comm.select("n", F.col("c").alias("__own")), "n")
        .join(degf, "n", "left")
        .join(d_c, "c", "left")
        .crossJoin(F.broadcast(m1))
        .select(
            "n",
            "c",
            "__own",
            (
                F.lit(2).cast(dec) * F.col("__m")
                * F.col("kc").cast(dec)
                - F.coalesce(F.col("k"), F.lit(0)).cast(dec)
                * (
                    F.coalesce(F.col("d"), F.lit(0))
                    - F.when(
                        F.col("c") == F.col("__own"),
                        F.coalesce(F.col("k"), F.lit(0)),
                    ).otherwise(F.lit(0))
                ).cast(dec)
            ).alias("__t"),
        )
        .persist()
    )
    w = Window.partitionBy("n").orderBy(F.desc("__t"), F.asc("c"))
    pick = scored.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") == 1
    )
    own_t = scored.filter(F.col("c") == F.col("__own")).select(
        "n", F.col("__t").alias("__t_own")
    )
    ret = pick.join(own_t, "n").select(
        F.col("n").alias("node"),
        F.when(F.col("__t") > F.col("__t_own"), F.col("c"))
        .otherwise(F.col("__own"))
        .alias("community"),
    )
    return ret


@scoped
def modularity_refine_guarded(
    edges: DataFrame,
    communities: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    community_col: str = "community",
    weight_col: str | None = None,
    assume_canonical: bool = False,
    evidence: dict | None = None,
    deg: DataFrame | None = None,
    m: DataFrame | None = None,
) -> DataFrame:
    """SCORE-AND-KEEP-BETTER wrapper around
    :func:`modularity_refine_step` — the safe form of the local-move
    sweep: run one synchronous sweep, score BOTH partitions exactly
    (:func:`modularity_score`), and return whichever has the higher
    Q.  The sweep alone carries no monotonicity guarantee and
    measurably overshoots on hub-heavy graphs (SCALING.md records the
    A/B: Q −66,405 → −291,409 e6 on the sharded purchase graph); this
    wrapper restores the guarantee BY CONSTRUCTION — Q(returned) =
    max(Q(input), Q(swept)) ≥ Q(input), for any graph and any
    partition (hypothesis-tested) — so callers can interleave guarded
    sweeps with :func:`modularity_merge_step` passes in a coarsening
    loop without risking regression, the standard Louvain
    move-then-check discipline.

    The comparison is a DRIVER-SIDE decision over two 1-row exact
    integer aggregates (the ``shortest_paths`` negative-weight-guard
    precedent: a bounded ``first()``, never a data collect), so this
    operator is EAGER — it runs the sweep and both scorings when
    called.  Ties keep the INPUT partition (the sweep must strictly
    improve to be adopted, matching the step's own strict-improvement
    move gate).  Canonicalization happens ONCE here and is shared by
    the sweep and both scorings via ``assume_canonical=True``.

    Output: (node, community) — the better of the two assignments,
    LPA's schema.

    ``weight_col`` (r17, REQUIRES ``assume_canonical=True``) guards a
    WEIGHTED sweep — the form a coarsening loop interleaves between
    merge passes on the contracted super-graph; the guarantee is
    unchanged (both scorings use the weighted exact scorer, and by the
    contraction-invariance lemma super-graph Q equals full-graph Q
    under the composed partition).

    Scale shape: exactly one canonicalization + one refine sweep + two
    frontier-free scorings (each: two broadcastable assignment joins +
    partial aggs + a 1-row fan-in); the returned frame is persisted so
    the winner is not recomputed downstream.

    ``evidence`` (r18, optimization): this operator is EAGER — the
    sweep and both exact scorings have already run by the time it
    returns — so callers that also want the verdict's INPUTS (the
    registered evidence queries emit per-node swept labels and both Q
    values) would otherwise recompute the identical sweep and scorings
    a second time at the query level.  Pass a dict and the operator
    records what it already computed: ``evidence["swept"]`` = the
    persisted swept assignment frame (the refine step's output,
    regardless of verdict), ``evidence["q_in_e6"]`` /
    ``evidence["q_swept_e6"]`` = the two exact integer Q values as
    Python ints (or None when the scorer returned no rows, exactly the
    NULL an ``agg(max(q_e6))`` over an empty scoring would yield).
    Nothing is computed beyond what the guard already needs; the dict
    is an out-param, never a cache across calls.

    Lifetime caveat (ADVICE r18): the swept frame's persist is held
    in the caller's scope; called outside any scope it is tied to the
    RETURNED frame — a caller that keeps ``evidence["swept"]`` but
    drops the result recomputes the sweep on first use (results stay
    correct; the reuse win silently evaporates).  Called from a
    scoped function (the registered evidence queries), the persist
    lives as long as that function's result.

    ``deg`` / ``m`` (r19): the sweep and both scorings each derive the
    SAME degree rollup and m aggregation from the shared canonical
    edge list — three identical computations per guard call.  The
    guard now computes them ONCE (:func:`modularity_stats` — m is a
    bounded eager aggregate, in line with this operator's existing
    eagerness) and threads them through all three sub-operators;
    callers that already hold the stats (a coarsening pass that also
    ran the merge on this graph) pass them in and the guard computes
    nothing.  Same canonical-only contract as the sub-operators
    (precomputed stats with ``assume_canonical=False`` raise there).
    """
    a, b = F.col(src), F.col(dst)
    if weight_col is not None and not assume_canonical:
        raise ValueError(
            "weight_col requires assume_canonical=True: weighted "
            "edges must already be canonical (u <= v, one row per "
            "pair, self-loops allowed) — the contract_graph output "
            "contract; canonicalize there, not here"
        )
    if (deg is not None or m is not None) and not assume_canonical:
        raise ValueError(
            "deg/m require assume_canonical=True: precomputed stats "
            "describe the edge list as passed — canonicalization here "
            "would silently diverge from them; canonicalize upstream "
            "and compute the stats there (modularity_stats)"
        )
    if assume_canonical:
        cols = [a.alias("src"), b.alias("dst")]
        if weight_col is not None:
            cols.append(F.col(weight_col).alias(weight_col))
        und = edges.select(*cols)
    else:
        und = (
            edges.select(
                F.least(a, b).alias("src"),
                F.greatest(a, b).alias("dst"),
            )
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
    und = hold(und.persist())
    if deg is None:
        # deg ONLY — the sweep and both scorings reuse one persisted
        # degree rollup instead of re-shuffling it three times.  m is
        # deliberately NOT shared here: both literal forms were
        # measured SLOWER locally (r19, OPTIMIZATION_r19.md — the
        # eager collect job costs more than the three in-plan 1-row
        # aggs it replaces at the AQE tiny-stage floor), and at scale
        # the in-plan m is a shuffle-free scan of the cached edge
        # list, unlike deg's per-recompute shuffle.
        deg = modularity_stats(und, weight_col=weight_col, collect_m=False)[0]
    comm = hold(communities.select(
        F.col(node_col).alias("node"),
        F.col(community_col).alias("community"),
    ).persist())
    refined = hold(modularity_refine_step(
        und,
        comm,
        weight_col=weight_col,
        assume_canonical=True,
        deg=deg,
        m=m,
    ).persist())
    q0_row = (
        modularity_score(
            und,
            comm,
            weight_col=weight_col,
            assume_canonical=True,
            deg=deg,
            m=m,
        )
        .select("q_e6")
        .first()
    )
    q1_row = (
        modularity_score(
            und,
            refined,
            weight_col=weight_col,
            assume_canonical=True,
            deg=deg,
            m=m,
        )
        .select("q_e6")
        .first()
    )
    q0 = q0_row[0] if q0_row is not None else None
    q1 = q1_row[0] if q1_row is not None else None
    if evidence is not None:
        evidence["swept"] = refined
        evidence["q_in_e6"] = q0
        evidence["q_swept_e6"] = q1
    ret = refined if (q0 is not None and q1 is not None and q1 > q0) else comm
    return ret


@scoped
def louvain_coarsen(
    edges: DataFrame,
    communities: DataFrame | None = None,
    *,
    passes: int = 3,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    community_col: str = "community",
    assume_canonical: bool = False,
) -> DataFrame:
    """Louvain-style agglomerative COARSENING as a user-facing
    operator (r16 — previously this loop lived inline in the
    registered ``graph_louvain_coarsen`` query): contract the graph
    ONCE into its weighted community super-graph
    (:func:`contract_graph`), run ``passes`` weighted mutual-best
    merge passes (:func:`modularity_merge_step`) on the recursively
    re-contracted super-graph, and compose the relabelings back onto
    the node-level seed.  ``communities=None`` seeds singletons (every
    node its own community — classic Louvain's start).

    Guarantees, inherited per pass: Q is non-decreasing at EVERY pass
    (mutual-best positive-gain merges form a matching; Q is additive),
    the community count is non-increasing, and a fixpointed pass
    chains through as a no-op — so ``passes`` is an upper bound, not a
    tuning hazard: the loop EARLY-STOPS the first time a pass merges
    nothing (one tiny bounded existence check per pass against the
    community-count-sized relabel frame — every later pass would be
    the identity, so the result is provably unchanged and a
    generous ``passes`` costs nothing past convergence).  By the contraction-invariance lemma the result is
    BIT-IDENTICAL to iterating the unit-weight merge on the full edge
    list (hypothesis- and data-pinned), while paying the |E|-sized
    assignment join once.

    Merge passes only: a guarded local-move sweep between each merge
    and the next contraction was removed unused — it measured ΔQ = 0
    at sf0.001 and sf0.1 on the purchase graph (the guard rejected
    every sweep) while sf0.1 time rose 9.0 → 14.7 s (SCALING.md).  The
    merge → guarded-sweep pass stays composable from
    :func:`modularity_merge_step`, :func:`modularity_refine_guarded`
    and :func:`contract_graph` (the ``graph_refine_pass`` and
    ``graph_refine_loop`` queries).

    Iteration contract: each pass's (tiny, community-count-bounded)
    output is ``localCheckpoint``'d — without truncation every pass
    re-optimizes the whole deepening lineage (measured as a hang) —
    and released through :func:`..session.checkpoint_handle` (a raw
    ``Dataset.unpersist`` is a silent no-op on checkpoint blocks).
    The operator is therefore EAGER per pass.

    Output: (node, community) — LPA's schema, every seed member
    present.

    Scale shape: O(|E| + passes·|communities|²) — one edge-sized
    double-join + rollup (the contraction), then per pass a few
    community-count-bounded joins/windows and one-row fan-ins; the
    final relabel is one broadcastable join against the seed.
    """
    a, b = F.col(src), F.col(dst)
    if assume_canonical:
        und = edges.select(a.alias("src"), b.alias("dst"))
    else:
        und = (
            edges.select(
                F.least(a, b).alias("src"),
                F.greatest(a, b).alias("dst"),
            )
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
    if communities is None:
        # und feeds BOTH the singleton seed and the contraction —
        # persist it; with a caller-supplied assignment it has exactly
        # one consumer (the contraction), so a persist would only
        # duplicate the caller's (typically already-persisted) edges
        und = hold(und.persist())
        seed = (
            und.select(F.col("src").alias("node"))
            .unionByName(und.select(F.col("dst").alias("node")))
            .distinct()
            .select("node", F.col("node").alias("community"))
        )
    else:
        seed = communities.select(
            F.col(node_col).alias("node"),
            F.col(community_col).alias("community"),
        )
    seed = hold(seed.persist())
    if passes <= 0:
        return seed
    # the ONLY |E|-sized join of the loop
    g = contract_graph(
        und, seed, assume_canonical=True
    ).localCheckpoint()
    hold(checkpoint_handle(g))
    mapping: DataFrame | None = None
    for t in range(passes):
        ident = (
            g.select(F.col("src").alias("node"))
            .unionByName(g.select(F.col("dst").alias("node")))
            .distinct()
            .select("node", F.col("node").alias("community"))
        )
        merged = modularity_merge_step(
            g,
            ident,
            weight_col="weight",
            assume_canonical=True,
        ).localCheckpoint()
        hold(checkpoint_handle(merged))
        # fixpoint check: a pass that merges nothing relabels identity
        # to itself, and every later pass would be the identity too —
        # stop before paying another contraction (bounded: the relabel
        # frame is community-count-sized, limit(1) short-circuits)
        if (
            merged.filter(F.col("node") != F.col("community"))
            .limit(1)
            .count()
            == 0
        ):
            break
        if mapping is None:
            mapping = merged
        else:
            mapping = mapping.join(
                merged.select(
                    F.col("node").alias("__c"),
                    F.col("community").alias("__c2"),
                ),
                mapping["community"] == F.col("__c"),
            ).select("node", F.col("__c2").alias("community"))
        if t < passes - 1:
            g = contract_graph(
                g,
                merged,
                weight_col="weight",
                assume_canonical=True,  # g is contract_graph's own output
            ).localCheckpoint()
            hold(checkpoint_handle(g))
    if mapping is None:
        # the very first pass was already a fixpoint
        return seed
    # LEFT join + coalesce (ADVICE r16): the composed mapping only
    # covers communities that reached the contracted graph — i.e. have
    # at least one edge among assignment members.  A caller-supplied
    # seed community whose members are all edge-free never appears in
    # g, so an inner join here would silently drop those rows,
    # violating the "every seed member present" output contract (the
    # same defect class modularity_refine_step fixed in r15/r16).
    # Coalescing to the seed's own label passes them through unchanged.
    ret = seed.join(
        F.broadcast(
            mapping.select(
                F.col("node").alias("__from"),
                F.col("community").alias("__to"),
            )
        ),
        seed["community"] == F.col("__from"),
        "left",
    ).select(
        "node", F.coalesce("__to", "community").alias("community")
    )
    return ret
