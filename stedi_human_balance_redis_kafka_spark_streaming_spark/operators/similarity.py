"""Similarity search over embedding columns (SURVEY.md §2.6).

Three index families:

* ``brute_force_topk`` — exact cosine top-k: broadcast the (small) query
  set against every vector.  O(n·q); the right answer below ~10⁵ rows and
  the correctness baseline for everything else.  No shuffle of the big
  side: queries broadcast, cosine is a map stage, and only the window
  rank shuffles q·n small rows on query_id.
* ``ivf_topk`` — IVF-style approximate search: assign every vector to its
  nearest centroid (one broadcast pass), probe the ``nprobe`` nearest
  centroids per query, exact-rank only within those buckets.  Scan cost
  drops by ~|centroids|/nprobe; this is the 100 TB path (centroid
  assignment is embarrassingly parallel, candidate sets are pruned before
  the expensive ranking).  Knobs, each oracle-mirrorable and measured by
  a registered recall eval: ``train_iters`` (deterministic
  integer-quantized k-means, :func:`kmeans_centroids`) and ``spill``
  (multi-assignment / IVF replication, :func:`assign_spill_centroids`).
* ``pq_topk`` — product quantization with ADC: vectors compress to
  ``n_sub`` codeword ids, queries score candidates through an exact-int
  lookup table, and only the top-``rerank`` candidates see full-width
  vectors again.  The memory-bound regime's index (|code| bytes per
  vector instead of dim floats).

Hot-path arithmetic: vectors are FLATTENED to scalar columns before any
O(n·q) / O(n·|centroids|) stage (functions.vectors.flat/cosine_sql) —
codegen'd flat-double arithmetic skips the per-element array bounds/null
checks array indexing pays per scored pair, and interpreted higher-order
folds are ~100× slower still.  Norms are precomputed once per vector.

Determinism: all ranking uses (rounded cosine DESC, vec_id ASC) so ties
break identically in Spark and the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import (
    EMB_SQL,
    cosine_sql,
    dot_sql,
    elements_sql,
    embedding_dim,
    flat as _flat,
    flat_dot_sql,
    norm_sql,
    norm_unrolled_sql,
    pq_dist_sql,
)
from ..session import checkpoint_handle, hold, scoped
from . import buildcache

# Dim-wide arithmetic is SQL text from functions/vectors.py, parsed in
# one F.expr/selectExpr call (see that module for the measured reasons).


def _q_flat(queries: DataFrame, dim: int) -> DataFrame:
    """(query_id, qnrm, q0..q{dim-1}) from a (query_id, qv) frame."""
    return _flat(queries, "query_id", "q", dim, vec="qv", nrm="qnrm")


def seed_centroids(e: DataFrame, modulus: int, dim: int) -> DataFrame:
    """The deterministic seed quantizer: the vectors of the flattened
    corpus ``e`` with ``vec_id % modulus == 0``, renamed to the centroid
    layout (cid, cnrm, c0..c{dim-1})."""
    return e.filter(F.col("vec_id") % modulus == 0).selectExpr(
        "vec_id AS cid",
        "nrm AS cnrm",
        *[f"d{i} AS c{i}" for i in range(dim)],
    )


def queries_by_modulus(emb: DataFrame, modulus: int) -> DataFrame:
    """Deterministic query-vector selection: vec_id % modulus == 0."""
    return (
        emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .filter(F.col("vec_id") % modulus == 0)
        .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    )


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    round_digits: int = 6,
) -> DataFrame:
    """Exact cosine top-k of ``emb`` rows for each query vector.

    ``queries``: (query_id, qv) — small; broadcast.  Self-matches
    (query_id == vec_id) are excluded.  Output: (query_id, vec_id,
    cos_sim, rank), rank 1..k.
    """
    dim = embedding_dim(emb)
    # Re-split the scored side: a single-file source yields one input
    # split and the O(n·q) scoring stage would run on a single core.
    par = emb.sparkSession.sparkContext.defaultParallelism
    e = _flat(emb, "vec_id", "d", dim).repartition(par)
    q = _q_flat(queries, dim)
    cos = F.expr(cosine_sql("d", "q", "nrm", "qnrm", dim, round_digits))
    scored = e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id", "vec_id", cos.alias("cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )


def assign_nearest_centroid(
    e: DataFrame, cents: DataFrame, dim: int, round_digits: int = 6
) -> DataFrame:
    """Map every vector to its nearest centroid.

    ``e``: flattened corpus (vec_id, nrm, d0..).  ``cents``: flattened
    centroids (cid, cnrm, c0..) — bounded by construction; broadcast.
    Returns ``e``'s columns plus ``cid``.

    Partial-aggregable max_by: the broadcast crossJoin scores map-side,
    and the per-partition partial aggregate collapses the n×|centroids|
    scored rows back to n BEFORE the exchange (vec_ids are unique, so
    each group is fully reduced in its own partition).  A window
    formulation would shuffle the full n×|centroids| scored table on
    vec_id — a |centroids|× larger exchange.  Ordering struct
    (cos_c, -cid) == (cos DESC, cid ASC) for deterministic ties.
    """
    carry = [c for c in e.columns if c != "vec_id"]
    cos_c = F.expr(cosine_sql("d", "c", "nrm", "cnrm", dim, round_digits))
    return (
        e.crossJoin(F.broadcast(cents))
        .select("vec_id", *carry, "cid", cos_c.alias("cos_c"))
        .groupBy("vec_id")
        .agg(
            F.max_by(
                F.struct("cid", *carry),
                F.struct(F.col("cos_c"), (-F.col("cid")).alias("neg_cid")),
            ).alias("best")
        )
        .select("vec_id", *[F.col(f"best.{c}").alias(c) for c in ["cid", *carry]])
    )


def kmeans_centroids(
    e: DataFrame,
    dim: int,
    seed_modulus: int = 50,
    iters: int = 2,
    quant: int = 1_000_000,
    round_digits: int = 6,
    cache_key: str | None = None,
) -> DataFrame:
    """Deterministic Lloyd k-means over a flattened corpus — a REAL index
    build (vs the modulus-seed structural stand-in), exactly mirrorable
    by a SQL oracle.

    ``e``: (vec_id, nrm, d0..d{dim-1}).  Seeds are the vectors with
    ``vec_id % seed_modulus == 0``; every update is integer arithmetic:
    components quantize to ``round(x * quant)`` int64, cluster means are
    ``SUM div COUNT`` (truncating integer division — identical semantics
    in Spark's ``div`` and DuckDB's ``//``, verified including negative
    operands).  Exact, associative, partition-order-independent — a
    float mean would make the centroids (and every downstream rank)
    nondeterministic under Spark's partial aggregation AND impossible to
    reproduce in the oracle.

    Assignment per round: broadcast centroids, rounded-cosine argmax via
    partial-aggregable ``max_by`` (see :func:`assign_nearest_centroid`
    for why this beats a window).  Empty clusters drop out naturally on
    both engines (inner groupBy).  ``iters`` is FIXED — no convergence
    probe — so plan depth is bounded and the oracle unrolls the same
    number of CTEs.

    Returns (cid, cnrm, c0..c{dim-1}) with components as doubles (the
    quantized ints cast; cosine is scale-invariant so the ×quant factor
    cancels).  Scale shape: per round, one bounded broadcast + one
    map-side-combinable shuffle of (vec_id, cid) + one keyed integer-sum
    shuffle — linear in the corpus; production would train on a sample,
    the full-corpus form doubles as the sample form by pre-filtering
    ``e``.

    ``cache_key``: opt into the ingest-time build cache
    (operators/buildcache.py) — pass a stable corpus identifier
    (e.g. the source path) and repeat builds with identical parameters
    reuse the previously-trained rows instead of re-running the
    deterministic (hence bit-identical) training.
    """
    spark = e.sparkSession
    ckey = (
        ("kmeans", cache_key, dim, seed_modulus, iters, quant, round_digits)
        if cache_key is not None
        else None
    )
    schema = "cid long, " + ", ".join(f"k{i} long" for i in range(dim))

    def as_double(cq: DataFrame) -> DataFrame:
        cd = cq.selectExpr(
            "cid",
            *[f"CAST(k{i} AS DOUBLE) AS c{i}" for i in range(dim)],
        )
        return cd.selectExpr(
            "cid",
            f"{norm_sql([f'c{i}' for i in range(dim)])} AS cnrm",
            *[f"c{i}" for i in range(dim)],
        )

    if ckey is not None:
        hit = buildcache.lookup(ckey)
        if hit is not None:
            return as_double(buildcache.rehydrate(spark, hit, schema))
    # Both inputs are read EVERY round (e by the assignment scoring, eq
    # by the update) — persist for the duration of training so each
    # round reuses the materialized flatten/quantize instead of
    # re-scanning the source ×2·iters (measured: the dominant cost of a
    # small-corpus build).  Scoped strictly to this function
    # (try/finally unpersist) — nothing leaks into the caller's session.
    e = e.persist()
    eq = e.selectExpr(
        "vec_id",
        *[
            f"CAST(ROUND(d{i} * {quant}, 0) AS BIGINT) AS q{i}"
            for i in range(dim)
        ],
    ).persist()
    cents_q = eq.filter(F.col("vec_id") % seed_modulus == 0).selectExpr(
        "vec_id AS cid",
        *[f"q{i} AS k{i}" for i in range(dim)],
    )

    rows: list[tuple] = []
    try:
        for _ in range(iters):
            cents_d = as_double(cents_q)
            cos_c = F.expr(cosine_sql("d", "c", "nrm", "cnrm", dim, round_digits))
            assigned = (
                e.crossJoin(F.broadcast(cents_d))
                .select("vec_id", "cid", cos_c.alias("cos_c"))
                .groupBy("vec_id")
                .agg(
                    F.max_by(
                        "cid",
                        F.struct(F.col("cos_c"), (-F.col("cid")).alias("neg_cid")),
                    ).alias("cid")
                )
            )
            # Update step in LONG format: explode the quantized
            # components to (vec_id, i, q) and aggregate THREE narrow
            # columns keyed (cid, i) — a 64-wide sum/agg here costs
            # seconds of Janino whole-stage-codegen compilation per
            # round (measured ~3.4 s on a 2k-row input; pure fixed
            # overhead), while the narrow form compiles instantly and
            # shuffles the same bytes (n·dim values either way,
            # partial-aggregable in both).  The assignment stage above
            # keeps its codegen'd wide cosine — that one earns it.
            longq = eq.select(
                "vec_id",
                F.posexplode(
                    F.array(*[F.col(f"q{i}") for i in range(dim)])
                ).alias("i", "q"),
            )
            sums = (
                assigned.join(longq, "vec_id")
                .groupBy("cid", "i")
                .agg(F.sum("q").alias("s"), F.count(F.lit(1)).alias("cnt"))
                .collect()
            )
            # Materialize each round's centroids to a driver-side
            # LocalRelation (eager, like the dedup-gate precedent).  The
            # centroid table is BOUNDED by construction — k·dim exact
            # int64s, kilobytes — and every downstream use broadcasts it
            # anyway; without this, each broadcast consumer re-executes
            # the whole training chain (measured ~3x re-run of the early
            # rounds).  The mean is TRUNCATING division toward zero in
            # exact Python ints — identical to Spark `div` / DuckDB `//`
            # on negatives (floor division corrected by one when signs
            # differ and a remainder exists), so the round-trip is
            # lossless.
            by_cid: dict[int, list[int]] = {}
            for r in sums:
                s, cnt = int(r["s"]), int(r["cnt"])
                t = -((-s) // cnt) if s < 0 else s // cnt
                by_cid.setdefault(int(r["cid"]), [0] * dim)[int(r["i"])] = t
            rows = [(cid, *vals) for cid, vals in sorted(by_cid.items())]
            cents_q = buildcache.rehydrate(spark, rows, schema)
    finally:
        eq.unpersist()
        e.unpersist()
    if ckey is not None and rows:
        buildcache.store(ckey, rows)
    return as_double(cents_q)


def assign_spill_centroids(
    e: DataFrame, cents: DataFrame, dim: int, spill: int, round_digits: int = 6
) -> DataFrame:
    """Multi-assignment: every vector to its ``spill`` nearest centroids
    (IVF replication — the standard boundary-loss fix; measured recall@10
    0.925 → 0.995 at sf0.1 with spill=2 vs single assignment at equal
    nprobe).  Index size grows ×spill; query cost grows with the larger
    buckets scanned.

    Scale shape: ``spill`` passes of the partial-aggregable ``max_by``
    argmax, each excluding the cids already taken (carried as columns, so
    the exclusion is a map-side filter).  Every shuffle is n rows grouped
    on unique vec_ids — never the n×|centroids| exchange a row_number
    window over the scored table would pay.  The broadcast crossJoin
    scoring recomputes per pass (map-side codegen, CPU-cheap).
    Output: ``e``'s columns plus ``cid``, ``spill`` rows per vector
    (fewer iff |centroids| < spill).
    """
    carry = [c for c in e.columns if c != "vec_id"]
    cos_c = F.expr(cosine_sql("d", "c", "nrm", "cnrm", dim, round_digits))
    cur = e
    taken: list[str] = []
    parts: list[DataFrame] = []
    for t in range(spill):
        scored = cur.crossJoin(F.broadcast(cents)).select(
            "vec_id", *carry, *taken, "cid", cos_c.alias("cos_c")
        )
        for prev in taken:
            scored = scored.filter(F.col("cid") != F.col(prev))
        tcol = f"cid_{t}"
        best = (
            scored.groupBy("vec_id")
            .agg(
                F.max_by(
                    F.struct("cid", *carry, *taken),
                    F.struct(F.col("cos_c"), (-F.col("cid")).alias("neg_cid")),
                ).alias("b")
            )
            .select(
                "vec_id",
                *[F.col(f"b.{c}").alias(c) for c in [*carry, *taken]],
                F.col("b.cid").alias(tcol),
            )
        )
        parts.append(
            best.select("vec_id", *carry, F.col(tcol).alias("cid"))
        )
        taken.append(tcol)
        cur = best
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    centroid_modulus: int = 50,
    nprobe: int = 2,
    round_digits: int = 6,
    train_iters: int = 0,
    spill: int = 1,
    cache_key: str | None = None,
) -> DataFrame:
    """IVF-bucketed approximate top-k.

    Centroids: seeds are the vectors with vec_id % centroid_modulus == 0
    (deterministic so the oracle can replicate them); with
    ``train_iters > 0`` they are refined by that many rounds of
    deterministic integer-quantized k-means (:func:`kmeans_centroids`) —
    a real trained index, still exactly oracle-mirrorable.  NOTE the
    measured trade-off on the synthetic corpus: trained mean-centroids
    IMPROVE near-dup pair bucketing (dedup_embedding_*) but LOWER
    query recall@10 at equal nprobe (0.925→0.845 at sf0.1) — measure on
    your data before enabling here.  ``spill > 1`` multi-assigns each
    vector to its ``spill`` nearest centroids (IVF replication; recall
    0.925→0.995 at sf0.1 with spill=2, ×2 index size).  Each query
    probes its ``nprobe`` nearest centroids and ranks exactly within
    those buckets.  Output: (query_id, vec_id, cos_sim, rank).
    """
    dim = embedding_dim(emb)
    e = _flat(emb, "vec_id", "d", dim)
    if train_iters > 0:
        cents = kmeans_centroids(
            e, dim, seed_modulus=centroid_modulus, iters=train_iters,
            round_digits=round_digits, cache_key=cache_key,
        )
    else:
        cents = seed_centroids(e, centroid_modulus, dim)

    if spill > 1:
        assigned = assign_spill_centroids(e, cents, dim, spill, round_digits)
    else:
        assigned = assign_nearest_centroid(e, cents, dim, round_digits)
    if cache_key is not None:
        # The corpus->bucket map is an ingest-time build (production
        # stores the index partitioned by cid): cache the narrow
        # (vec_id, cid) rows and re-attach the full-width vectors with
        # one vec_id-keyed join; seed vs trained quantizers (and spill
        # replication) key apart via the build params.
        buckets = assigned.select("vec_id", "cid")
        key = ("ivf_assign", cache_key, centroid_modulus, train_iters,
               spill, round_digits)
        bucket_map = buildcache.cached(key, buckets.schema, lambda: buckets)
        assigned = e.join(bucket_map, "vec_id")

    q = _q_flat(queries, dim)
    cos_probe = F.expr(cosine_sql("q", "c", "qnrm", "cnrm", dim, round_digits))
    w_probe = Window.partitionBy("query_id").orderBy(F.desc("cos_c"), F.asc("cid"))
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "qnrm",
            *[f"q{i}" for i in range(dim)],
            "cid",
            cos_probe.alias("cos_c"),
        )
        .withColumn("prank", F.row_number().over(w_probe))
        .filter(F.col("prank") <= nprobe)
        .drop("cos_c", "prank")
    )

    cos_sim = F.expr(cosine_sql("d", "q", "nrm", "qnrm", dim, round_digits))
    w_rank = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    cand = (
        assigned.join(F.broadcast(probes), "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", cos_sim.alias("cos_sim"))
    )
    if spill > 1:
        # A replicated vector can meet a query through several probed
        # buckets — dedupe candidates before ranking (cos_sim is a pure
        # function of the pair, so distinct on all three is exact).
        cand = cand.distinct()
    return (
        cand.withColumn("rank", F.row_number().over(w_rank).cast("long"))
        .filter(F.col("rank") <= k)
    )


def ivf_range_search(
    emb: DataFrame,
    queries: DataFrame,
    threshold: float = 0.3,
    centroid_modulus: int = 50,
    nprobe: int = 2,
    round_digits: int = 6,
    cache_key: str | None = None,
) -> DataFrame:
    """IVF-bucketed radius search: ALL corpus vectors within cosine
    distance of each query (``cos_sim >= threshold``), restricted to the
    query's ``nprobe`` nearest IVF buckets.

    The radius dual of :func:`ivf_topk` — range search is the shape
    behind "find every candidate above a similarity bar" workloads
    (near-dup candidate generation, retrieval cutoffs) where the result
    cardinality is data-dependent rather than fixed-k.  Same
    deterministic seed centroids (vec_id % centroid_modulus == 0) so the
    oracle replicates the bucketing exactly.

    Output: (query_id, vec_id, cos_sim) — unranked; downstream decides.

    Scale shape: identical to ivf_topk minus the ranking window — the
    corpus shuffles once for centroid assignment (partial-agg max_by),
    probes broadcast, and the threshold filter runs map-side on the
    bucket-joined candidates, so no per-query window is needed at all
    (strictly cheaper than top-k at equal nprobe).
    """
    dim = embedding_dim(emb)
    e = _flat(emb, "vec_id", "d", dim)
    cents = seed_centroids(e, centroid_modulus, dim)
    assigned = assign_nearest_centroid(e, cents, dim, round_digits)
    if cache_key is not None:
        # same ingest-time bucket-map entry as ivf_topk at equal
        # (centroid_modulus, spill=1) — the radius path reuses it
        buckets = assigned.select("vec_id", "cid")
        key = ("ivf_assign", cache_key, centroid_modulus, 0, 1, round_digits)
        bucket_map = buildcache.cached(key, buckets.schema, lambda: buckets)
        assigned = e.join(bucket_map, "vec_id")
    q = _q_flat(queries, dim)
    cos_probe = F.expr(cosine_sql("q", "c", "qnrm", "cnrm", dim, round_digits))
    w_probe = Window.partitionBy("query_id").orderBy(
        F.desc("cos_c"), F.asc("cid")
    )
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "qnrm",
            *[f"q{i}" for i in range(dim)],
            "cid",
            cos_probe.alias("cos_c"),
        )
        .withColumn("prank", F.row_number().over(w_probe))
        .filter(F.col("prank") <= nprobe)
        .drop("cos_c", "prank")
    )
    cos_sim = F.expr(cosine_sql("d", "q", "nrm", "qnrm", dim, round_digits))
    return (
        assigned.join(F.broadcast(probes), "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", cos_sim.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def brute_force_range(
    emb: DataFrame,
    queries: DataFrame,
    threshold: float = 0.3,
    round_digits: int = 6,
) -> DataFrame:
    """Exact radius search: every (query, vector) pair with cosine ≥
    ``threshold`` — the ground truth for :func:`ivf_range_search`'s
    recall eval.  Same broadcast-queries shape as brute_force_topk but
    with a map-side threshold filter instead of a ranking window (the
    big side never shuffles at all).  Output: (query_id, vec_id)."""
    dim = embedding_dim(emb)
    par = emb.sparkSession.sparkContext.defaultParallelism
    e = _flat(emb, "vec_id", "d", dim).repartition(par)
    q = _q_flat(queries, dim)
    cos = F.expr(cosine_sql("d", "q", "nrm", "qnrm", dim, round_digits))
    return (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
        .select("query_id", "vec_id")
    )


def candidate_pair_sims(
    emb: DataFrame, cand: DataFrame, dim: int, round_digits: int = 6
) -> DataFrame:
    """Pairwise similarities among each query's candidates — the MMR
    redundancy term.  ``cand``: (query_id, vec_id, ...) — bounded
    (nq·n_cand rows), so the output is nq·n_cand² bounded rows.  Output:
    (query_id, va, vb, sim_e6) with va != vb and ``sim_e6`` the rounded
    cosine in exact 1e-6 integer units."""
    flat = _flat(emb, "vec_id", "d", dim)
    cv = cand.select("query_id", "vec_id").join(flat, "vec_id")
    a = cv.selectExpr(
        "query_id",
        "vec_id AS va",
        "nrm AS anrm",
        *[f"d{i} AS a{i}" for i in range(dim)],
    )
    b = cv.selectExpr(
        "query_id",
        "vec_id AS vb",
        "nrm AS bnrm",
        *[f"d{i} AS b{i}" for i in range(dim)],
    )
    pair_cos = F.expr(cosine_sql("a", "b", "anrm", "bnrm", dim, round_digits))
    return (
        a.join(b, ["query_id"])
        .filter(F.col("va") != F.col("vb"))
        .select(
            "query_id",
            "va",
            "vb",
            F.round(pair_cos * 1e6).cast("long").alias("sim_e6"),
        )
    )


@scoped
def mmr_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cand: int = 20,
    lam10: int = 7,
    round_digits: int = 6,
    candidates: DataFrame | None = None,
    pair_sims: DataFrame | None = None,
) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k: greedily select
    ``k`` results per query from its exact top-``n_cand`` candidates,
    each step maximizing  λ·sim(q,d) − (1−λ)·max_{s∈selected} sim(d,s)
    — the standard redundancy-penalized retrieval re-ranker (RAG
    context diversification being the training-pipeline use).

    ENTIRELY integer-scored: similarities quantize to exact 1e-6 units
    (``round(cos·1e6)`` — the cosine is already 6-dp, so the integer is
    exact) and λ = ``lam10``/10 enters as the integer blend
    ``lam10·rel_e6 − (10−lam10)·pen_e6``; no float ever enters a
    comparison, so selection order is bit-reproducible and the unrolled
    SQL oracle matches exactly.  Ties break on vec_id.

    Output: (query_id, vec_id, rel_e6, mmr_rank), mmr_rank 1..k.

    Scale shape: the candidate set is bounded (nq·n_cand rows) and every
    MMR structure derives from it — the pairwise-sim frame is
    nq·n_cand² bounded rows, each greedy round is a bounded join + one
    window over nq groups, and ``localCheckpoint`` truncates the
    per-round lineage; once the final round is materialized the
    superseded rounds' checkpoints are released synchronously and the
    last one is held.  The corpus is touched exactly once (the
    brute-force candidate generation; swap in ivf_topk for the
    candidate step at extreme scale — the MMR stage is unchanged).
    """
    if not 0 <= lam10 <= 10:
        raise ValueError("lam10 must be in [0, 10]")
    if k > n_cand:
        raise ValueError("k cannot exceed n_cand")
    dim = embedding_dim(emb)
    if candidates is None:
        # ``candidates`` lets callers supply a precomputed/cached
        # (query_id, vec_id, rel_e6) frame — the candidate generation is
        # deterministic per (corpus, query set, n_cand), so the registry
        # serves it from the ingest-time build cache like the ANN ground
        # truth; an IVF candidate set drops in the same way at scale.
        bf = brute_force_topk(emb, queries, k=n_cand, round_digits=round_digits)
        candidates = bf.select(
            "query_id",
            "vec_id",
            F.round(F.col("cos_sim") * 1e6).cast("long").alias("rel_e6"),
        )
    cand = hold(candidates.persist())
    if pair_sims is None:
        # pairwise sims among each query's candidates (nq·n_cand²
        # bounded) — like ``candidates``, deterministic per (corpus,
        # query set, n_cand) and servable from the build cache.
        pair_sims = candidate_pair_sims(emb, cand, dim, round_digits)
    pairs = hold(pair_sims.persist())
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("vec_id")
    )
    sel = (
        cand.withColumn("score", F.col("rel_e6"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "query_id", "vec_id", "rel_e6", F.lit(1).cast("long").alias("mmr_rank")
        )
        .localCheckpoint(eager=False)
    )
    handles = [hold(checkpoint_handle(sel))]
    for step in range(2, k + 1):
        pen = (
            pairs.join(
                sel.select("query_id", F.col("vec_id").alias("vb")),
                ["query_id", "vb"],
            )
            .groupBy("query_id", "va")
            .agg(F.max("sim_e6").alias("pen_e6"))
        )
        pick = (
            cand.join(sel.select("query_id", "vec_id"), ["query_id", "vec_id"], "left_anti")
            .join(
                pen.select("query_id", F.col("va").alias("vec_id"), "pen_e6"),
                ["query_id", "vec_id"],
            )
            .withColumn(
                "score",
                F.lit(lam10) * F.col("rel_e6")
                - F.lit(10 - lam10) * F.col("pen_e6"),
            )
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "query_id",
                "vec_id",
                "rel_e6",
                F.lit(step).cast("long").alias("mmr_rank"),
            )
        )
        sel = sel.unionByName(pick).localCheckpoint(eager=False)
        handles.append(hold(checkpoint_handle(sel)))
    # materialize every round bottom-up before releasing the inputs
    # and the superseded rounds it read
    sel.count()
    cand.unpersist()
    pairs.unpersist()
    for h in handles[:-1]:
        h.unpersist(False)
    return sel


# ---------------------------------------------------------------------------
# Product quantization (PQ) with asymmetric distance computation (ADC)
# ---------------------------------------------------------------------------
#
# All PQ arithmetic works on RAW flattened components plus per-vector norms,
# never on per-element-normalized projections: a projection like
# ``v[i]/nrm`` (64 columns each embedding a 64-term norm subtree) gets
# inlined by Catalyst's CollapseProject into EVERY downstream reference,
# exploding the expression tree to minutes of analysis/codegen time.  The
# normalized-space distances are instead expressed algebraically —
#   ||x̂_m − ĉ_m||² = ||x_m||²/||x||² + ||c_m||²/||c||² − 2·x_m·c_m/(||x||·||c||)
# — so each norm is referenced O(1) times per term and both engines compute
# the identical double sequence.


def pq_codebooks(
    e: DataFrame, dim: int, n_sub: int, seed_modulus: int = 50
) -> DataFrame:
    """Seed PQ codebooks: subspace ``m``'s codewords are the RAW
    subvectors (dims ``m*w .. m*w+w-1``, ``w = dim/n_sub``) of the
    vectors with vec_id % seed_modulus == 0, carried with the seed's
    full-vector norm ``cnrm`` (distances are computed in normalized
    space algebraically).  Deterministic, so the DuckDB oracle slices
    identical codewords.  Output: (m, code, cnrm, cw0..cw{w-1});
    bounded by construction → broadcast.

    ``e``: flattened corpus (vec_id, nrm, d0..d{dim-1}) from
    :func:`..functions.vectors.flat`.
    """
    w = dim // n_sub
    seeds = e.filter(F.col("vec_id") % seed_modulus == 0)
    parts = [
        seeds.selectExpr(
            f"CAST({m} AS INT) AS m",
            "vec_id AS code",
            "nrm AS cnrm",
            *[f"d{m * w + j} AS cw{j}" for j in range(w)],
        )
        for m in range(n_sub)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _case_component_sql(prefix: str, j: int, n_sub: int, w: int) -> str:
    """The j-th component of the CURRENT row's subspace ``m`` — an
    n_sub-way CASE over the flattened columns, codegen'd (no arrays,
    no UDF), as SQL text (one-call construction)."""
    whens = " ".join(
        f"WHEN m = {m} THEN {prefix}{m * w + j}" for m in range(n_sub)
    )
    return f"CASE {whens} END"


def _sub_slices(
    e: DataFrame, dim: int, n_sub: int, quant: int | None = None
) -> DataFrame:
    """Explode the flattened corpus into per-(vec, m) subspace rows with
    PLAIN slice columns (vec_id, nrm, m, s0..s{w-1}) — one narrow
    codegen'd map producing n·n_sub rows.

    Why: scoring a (vector × codebook-row) join with CASE-indexed
    components (``_case_component``) re-derives the m-th slice PER
    CODEBOOK ROW — |codebook|× redundant work and a branch per term.
    Materializing the slice once per (vec, m) makes every downstream
    distance a plain column sum (measured ~2× on the PQ encode stage).
    ``quant`` switches the slice to normalized-quantized int64 units
    (``round(d/nrm·quant)``) for the integer-L2 trained codebooks.
    """
    w = dim // n_sub
    structs = []
    for m in range(n_sub):
        fields = [f"'m', {m}"]
        for j in range(w):
            c = f"d{m * w + j}"
            if quant is not None:
                c = f"CAST(ROUND({c} / nrm * {quant}, 0) AS BIGINT)"
            fields.append(f"'s{j}', {c}")
        structs.append(f"named_struct({', '.join(fields)})")
    return e.selectExpr(
        "vec_id", "nrm", f"explode(array({', '.join(structs)})) AS __s"
    ).select("vec_id", "nrm", "__s.*")


def _sub_terms(prefix: str, n_sub: int, w: int):
    """(sub_sq, sub_dot) for the current row's subspace ``m``: the
    subspace's raw squared-norm and its raw dot with cw0..cw{w-1},
    both as fixed-order left-associated sums (SQL-text construction;
    the CASE subtree is duplicated per term exactly as the Column form
    duplicated its shared Column object in the tree)."""
    xs = [f"({_case_component_sql(prefix, j, n_sub, w)})" for j in range(w)]
    cw = [f"cw{j}" for j in range(w)]
    return F.expr(dot_sql(xs, xs)), F.expr(dot_sql(xs, cw))


def pq_encode(
    e: DataFrame, cb: DataFrame, dim: int, n_sub: int, round_digits: int = 6
) -> DataFrame:
    """Encode every vector as ``n_sub`` codeword ids: per subspace, the
    codeword minimizing the normalized-space L2² (rounded, ties by code
    ASC — the deterministic tie-break both engines share).

    Scale shape: the corpus explodes once into per-(vec, m) slice rows
    (:func:`_sub_slices` — plain columns, no per-codeword CASE
    re-derivation), joins the broadcast (m, code) codebook on ``m`` —
    n·n_sub·k scored rows map-side — and collapses with a
    partial-aggregable ``min_by`` on the unique (vec_id, m) key BEFORE
    the exchange, so the shuffle carries n·n_sub rows.  This is exactly
    how PQ encoding distributes at corpus scale: embarrassingly
    parallel, no state.  Output: (vec_id, m, code).
    """
    w = dim // n_sub
    sl = _sub_slices(e, dim, n_sub)
    sub_sq = flat_dot_sql("s", "s", w)
    sub_dot = flat_dot_sql("s", "cw", w)
    csub_sq = flat_dot_sql("cw", "cw", w)
    dist = F.expr(pq_dist_sql(sub_sq, csub_sq, sub_dot, "nrm", "cnrm", round_digits))
    return (
        sl.join(F.broadcast(cb), "m")
        .select("vec_id", "m", "code", dist.alias("dist"))
        .groupBy("vec_id", "m")
        .agg(F.min_by("code", F.struct("dist", "code")).alias("code"))
    )


def pq_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_sub: int = 8,
    seed_modulus: int = 50,
    rerank: int = 50,
    round_digits: int = 6,
    cache_key: str | None = None,
) -> DataFrame:
    """PQ/ADC approximate top-k with exact re-ranking.

    Index: vectors are encoded as ``n_sub`` codeword ids
    (:func:`pq_encode`) in unit-normalized space — the classic
    memory-compressed ANN index (n_sub small ints per vector instead of
    dim floats).  Query: ADC — a per-query lookup table of
    query-subvector·codeword normalized dots, quantized to exact int64
    1e-12 units so the n_sub-way SUM is associative and
    partition-order-independent (a double sum would be nondeterministic
    across partitionings AND engines); candidates are the ``rerank``
    best ADC scores, re-ranked by exact rounded cosine.  Output:
    (query_id, vec_id, cos_sim, rank), rank 1..k.

    Scale shape: encode is map-side (see pq_encode); the LUT is
    q·n_sub·|codebook| rows — broadcast; the ADC join keys on (m, code)
    against the broadcast LUT, then one partial-aggregable integer SUM
    collapses the matches to n·q' candidate scores.  Only q·rerank rows
    reach the exact re-rank, which joins them back to the full-width
    vectors with both small sides broadcast.  No stage shuffles the
    full-width corpus.
    """
    dim = embedding_dim(emb)
    w = dim // n_sub
    e = _flat(emb, "vec_id", "d", dim)
    cb = pq_codebooks(e, dim, n_sub, seed_modulus)
    enc = pq_encode(e, cb, dim, n_sub, round_digits)
    if cache_key is not None:
        # Corpus PQ ENCODING is an ingest-time build (n·n_sub small
        # rows): cache it like the codebooks — ivfpq_topk at equal
        # params shares the identical entry.
        key = ("pq_enc", cache_key, dim, n_sub, seed_modulus, round_digits)
        enc = buildcache.cached(key, enc.schema, lambda: enc)

    q = _q_flat(queries, dim)
    _, qsub_dot = _sub_terms("q", n_sub, w)
    lut = q.crossJoin(F.broadcast(cb)).select(
        "query_id",
        "m",
        "code",
        F.round(qsub_dot / (F.col("qnrm") * F.col("cnrm")) * 1e12)
        .cast("long")
        .alias("pdot_e12"),
    )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.desc("adc_e12"), F.asc("vec_id")
    )
    cand = (
        enc.join(F.broadcast(lut), ["m", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("pdot_e12").alias("adc_e12"))
        .withColumn("arnk", F.row_number().over(w_adc))
        .filter(F.col("arnk") <= rerank)
        .select("query_id", "vec_id")
    )

    cos_sim = F.expr(cosine_sql("d", "q", "nrm", "qnrm", dim, round_digits))
    w_rank = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("vec_id")
    )
    return (
        e.join(F.broadcast(cand), "vec_id")
        .join(F.broadcast(q), "query_id")
        .select("query_id", "vec_id", cos_sim.alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w_rank).cast("long"))
        .filter(F.col("rank") <= k)
    )


def ivfpq_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    centroid_modulus: int = 50,
    nprobe: int = 2,
    spill: int = 1,
    n_sub: int = 8,
    seed_modulus: int = 50,
    rerank: int = 50,
    round_digits: int = 6,
    cache_key: str | None = None,
) -> DataFrame:
    """IVF-PQ: the production ANN layout — PQ codes stored WITHIN IVF
    buckets.  A query probes its ``nprobe`` nearest coarse centroids,
    ADC-scans ONLY the probed buckets' codes, and exactly re-ranks the
    top-``rerank`` ADC candidates (identical ADC arithmetic and
    re-rank to :func:`pq_topk`; identical coarse quantizer, optional
    ``spill`` multi-assignment, and probe rule to :func:`ivf_topk`).

    Why compose: PQ-alone answers from compressed codes but still scans
    ALL n·n_sub codes per query; IVF-alone prunes the scan to probed
    buckets but ranks with full-width vectors.  IVF-PQ does both — the
    ADC scan shrinks to the probed fraction (≈ nprobe/|centroids| of
    the corpus per probe set, ×spill for the replicated index) while
    every scanned vector costs n_sub int64 adds instead of a dim-wide
    cosine.  Measured at sf0.1 (40 centroids, nprobe=2, spill=1,
    rerank=50): 4.9% of codes scanned — a ~20× ADC-scan reduction —
    with recall@10 0.840 vs PQ-alone's 0.600 at equal rerank: the
    bucket restriction also FILTERS ADC-error imposters out of the
    bounded rerank window, so the composition beats either half.
    (spill=2 measured 0.780 here — more candidates re-crowd the rerank
    window; spill buys bucket recall for dedup-style pair queries, not
    for rerank-bounded top-k.)  This is the FAISS ``IVFx,PQy`` layout
    re-expressed as DataFrame ops.

    Scale shape: the index build attaches bucket ids to codes with one
    vec_id-keyed join (ingest-time; production stores the index
    partitioned by cid).  Query time: probes and the ADC LUT are
    bounded broadcasts; the candidate restriction is a broadcast join
    on cid — the full code table never shuffles; the ADC sum is one
    partial-aggregable integer aggregation over the probed subset; only
    q·rerank rows reach the exact re-rank.  Output: (query_id, vec_id,
    cos_sim, rank), rank 1..k.
    """
    dim = embedding_dim(emb)
    w = dim // n_sub
    e = _flat(emb, "vec_id", "d", dim)
    # Coarse quantizer: deterministic seed centroids (see ivf_topk's
    # measured trained-vs-seed note — seeds win on the query path here).
    cents = seed_centroids(e, centroid_modulus, dim)
    if spill > 1:
        assigned = assign_spill_centroids(e, cents, dim, spill, round_digits)
    else:
        assigned = assign_nearest_centroid(e, cents, dim, round_digits)
    buckets = assigned.select("vec_id", "cid")
    if cache_key is not None:
        # shares the seed-quantizer bucket-map entry with ivf_topk at
        # equal (centroid_modulus, spill) — one assignment per ingest
        key = ("ivf_assign", cache_key, centroid_modulus, 0, spill,
               round_digits)
        buckets = buildcache.cached(key, buckets.schema, lambda: buckets)

    cb = pq_codebooks(e, dim, n_sub, seed_modulus)
    enc = pq_encode(e, cb, dim, n_sub, round_digits)
    if cache_key is not None:
        # same ingest-time entry as pq_topk at equal params — one
        # corpus encoding serves both index layouts
        key = ("pq_enc", cache_key, dim, n_sub, seed_modulus, round_digits)
        enc = buildcache.cached(key, enc.schema, lambda: enc)
    enc_b = enc.join(buckets, "vec_id")

    q = _q_flat(queries, dim)
    cos_probe = F.expr(cosine_sql("q", "c", "qnrm", "cnrm", dim, round_digits))
    w_probe = Window.partitionBy("query_id").orderBy(F.desc("cos_c"), F.asc("cid"))
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select("query_id", "cid", cos_probe.alias("cos_c"))
        .withColumn("prank", F.row_number().over(w_probe))
        .filter(F.col("prank") <= nprobe)
        .select("query_id", "cid")
    )

    _, qsub_dot = _sub_terms("q", n_sub, w)
    lut = q.crossJoin(F.broadcast(cb)).select(
        "query_id",
        "m",
        "code",
        F.round(qsub_dot / (F.col("qnrm") * F.col("cnrm")) * 1e12)
        .cast("long")
        .alias("pdot_e12"),
    )
    cand_codes = (
        enc_b.join(F.broadcast(probes), "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "m", "code")
    )
    if spill > 1:
        # a replicated vector can meet a query through several probed
        # buckets — dedupe so each (query, vec) sums exactly n_sub codes
        cand_codes = cand_codes.distinct()
    w_adc = Window.partitionBy("query_id").orderBy(
        F.desc("adc_e12"), F.asc("vec_id")
    )
    cand = (
        cand_codes.join(F.broadcast(lut), ["query_id", "m", "code"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("pdot_e12").alias("adc_e12"))
        .withColumn("arnk", F.row_number().over(w_adc))
        .filter(F.col("arnk") <= rerank)
        .select("query_id", "vec_id")
    )

    cos_sim = F.expr(cosine_sql("d", "q", "nrm", "qnrm", dim, round_digits))
    w_rank = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("vec_id")
    )
    return (
        e.join(F.broadcast(cand), "vec_id")
        .join(F.broadcast(q), "query_id")
        .select("query_id", "vec_id", cos_sim.alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w_rank).cast("long"))
        .filter(F.col("rank") <= k)
    )


def pq_codebooks_trained(
    e: DataFrame,
    dim: int,
    n_sub: int,
    seed_modulus: int = 50,
    iters: int = 2,
    quant: int = 1_000_000,
    cache_key: str | None = None,
) -> DataFrame:
    """Per-subspace k-means PQ codebooks over quantized NORMALIZED
    slices — a real trained PQ index build, exactly oracle-mirrorable.

    Geometry: vectors are globally unit-normalized (so ADC dots
    approximate cosine), each subspace slice quantizes to
    ``round(d_j/nrm · quant)`` int64, and Lloyd rounds use PURE-INTEGER
    Euclidean assignment (Σ(q−k)² exact int64, ties code ASC) with
    truncating integer mean updates — zero floating point anywhere in
    training, so it is deterministic under any partitioning and both
    engines compute identical codebooks.

    Returns (m, code, k0..k{w-1}) with INT64 components in 1e-6 units
    (cosine/dot ranking is scale-invariant, so consumers use them raw).
    Scale shape per subspace and round: bounded codebook broadcast +
    one n-row partial-agg argmin + one narrow (code, j)-keyed integer
    sum — all linear; the bounded per-round codebook materializes to a
    LocalRelation exactly like :func:`kmeans_centroids`.
    """
    from concurrent.futures import ThreadPoolExecutor

    spark = e.sparkSession
    w = dim // n_sub
    cb_schema = "m int, code long, " + ", ".join(f"k{j} long" for j in range(w))
    ckey = (
        ("pq", cache_key, dim, n_sub, seed_modulus, iters, quant)
        if cache_key is not None
        else None
    )
    if ckey is not None:
        # ingest-time build cache — see buildcache.py: deterministic
        # training makes the cached rows bit-identical to retraining
        hit = buildcache.lookup(ckey)
        if hit is not None:
            return buildcache.rehydrate(spark, hit, cb_schema)
    e = e.persist()

    def _train_subspace(m: int) -> list:
        nq = e.select(
            "vec_id",
            *[
                F.round(F.col(f"d{m * w + j}") / F.col("nrm") * quant)
                .cast("long")
                .alias(f"nq{j}")
                for j in range(w)
            ],
        )
        rows = nq.filter(F.col("vec_id") % seed_modulus == 0).collect()
        codes = [
            (int(r["vec_id"]), [int(r[f"nq{j}"]) for j in range(w)])
            for r in sorted(rows, key=lambda r: r["vec_id"])
        ]
        for _ in range(iters):
            cb = spark.createDataFrame(
                [(c, *k) for c, k in codes],
                schema="code long, "
                + ", ".join(f"k{j} long" for j in range(w)),
            )
            diffs = [f"(nq{j} - k{j})" for j in range(w)]
            dist = F.expr(dot_sql(diffs, diffs))
            assigned = (
                nq.crossJoin(F.broadcast(cb))
                .select("vec_id", "code", dist.alias("dist"))
                .groupBy("vec_id")
                .agg(F.min_by("code", F.struct("dist", "code")).alias("code"))
            )
            longq = nq.select(
                "vec_id",
                F.posexplode(
                    F.array(*[F.col(f"nq{j}") for j in range(w)])
                ).alias("j", "q"),
            )
            sums = (
                assigned.join(longq, "vec_id")
                .groupBy("code", "j")
                .agg(F.sum("q").alias("s"), F.count(F.lit(1)).alias("cnt"))
                .collect()
            )
            by_code: dict[int, list[int]] = {}
            for r in sums:
                s, cnt = int(r["s"]), int(r["cnt"])
                t = -((-s) // cnt) if s < 0 else s // cnt
                by_code.setdefault(int(r["code"]), [0] * w)[int(r["j"])] = t
            codes = sorted(by_code.items())
        return [(m, c, *k) for c, k in codes]

    try:
        # The n_sub trainings are fully independent — run them as
        # CONCURRENT Spark jobs (driver threads; the scheduler interleaves
        # the small stages) instead of 2·n_sub sequential job waves of
        # driver round-trips.  Results assemble per-subspace, so the
        # output is identical to the sequential order.
        with ThreadPoolExecutor(max_workers=n_sub) as pool:
            parts = [
                row
                for sub in pool.map(_train_subspace, range(n_sub))
                for row in sub
            ]
        if ckey is not None:
            buildcache.store(ckey, parts)
        return buildcache.rehydrate(spark, parts, cb_schema)
    finally:
        e.unpersist()


def pq_topk_trained(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_sub: int = 8,
    seed_modulus: int = 50,
    train_iters: int = 2,
    rerank: int = 50,
    quant: int = 1_000_000,
    round_digits: int = 6,
    cache_key: str | None = None,
) -> DataFrame:
    """PQ/ADC top-k with TRAINED codebooks (:func:`pq_codebooks_trained`).

    Encode is pure-integer L2 against the int64 codebook over
    per-(vec, m) quantized slice rows (:func:`_sub_slices` — plain
    columns, no per-codeword re-derivation); the ADC LUT quantizes
    ``Σ q̂_j·k_j / qnrm`` into exact int64 units so the n_sub-way sum is
    associative; the top-``rerank`` candidates re-rank by exact rounded
    cosine, identical to :func:`pq_topk`.
    """
    dim = embedding_dim(emb)
    w = dim // n_sub
    e = _flat(emb, "vec_id", "d", dim)
    cb = pq_codebooks_trained(
        e, dim, n_sub, seed_modulus, train_iters, quant, cache_key=cache_key
    )

    # Per-(vec, m) normalized-quantized slice rows with plain columns
    # (_sub_slices) — the CASE-indexed form re-derived the slice per
    # codeword row (|codebook|× redundant round/divide work).
    nsl = _sub_slices(e, dim, n_sub, quant=quant)
    diffs = [f"(s{j} - k{j})" for j in range(w)]
    dist = F.expr(dot_sql(diffs, diffs))
    enc = (
        nsl.join(F.broadcast(cb), "m")
        .select("vec_id", "m", "code", dist.alias("dist"))
        .groupBy("vec_id", "m")
        .agg(F.min_by("code", F.struct("dist", "code")).alias("code"))
    )
    if cache_key is not None:
        # corpus encoding against the TRAINED codebook is its own
        # ingest-time entry (distinct from the seed-codebook encode)
        key = ("pq_enc_trained", cache_key, dim, n_sub, seed_modulus,
               train_iters, quant)
        enc = buildcache.cached(key, enc.schema, lambda: enc)

    q = _q_flat(queries, dim)
    qsub = [f"({_case_component_sql('q', j, n_sub, w)})" for j in range(w)]
    pdot = F.expr(dot_sql(qsub, [f"k{j}" for j in range(w)]))
    # LUT units: the codebook components are already int64 in 1e-6 units
    # (pq_codebooks_trained), so Σ q̂_j·k_j / qnrm lands in ~1e6-scaled
    # doubles and ONE further 1e6 quantization step suffices — hence
    # pdot_e6 (the seed-codebook pq_topk works on raw doubles and needs
    # the full 1e12 factor).
    lut = q.crossJoin(F.broadcast(cb)).select(
        "query_id",
        "m",
        "code",
        F.round(pdot / F.col("qnrm") * F.lit(1_000_000))
        .cast("long")
        .alias("pdot_e6"),
    )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.desc("adc_e6"), F.asc("vec_id")
    )
    cand = (
        enc.join(F.broadcast(lut), ["m", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("pdot_e6").alias("adc_e6"))
        .withColumn("arnk", F.row_number().over(w_adc))
        .filter(F.col("arnk") <= rerank)
        .select("query_id", "vec_id")
    )
    cos_sim = F.expr(cosine_sql("d", "q", "nrm", "qnrm", dim, round_digits))
    w_rank = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("vec_id")
    )
    return (
        e.join(F.broadcast(cand), "vec_id")
        .join(F.broadcast(q), "query_id")
        .select("query_id", "vec_id", cos_sim.alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w_rank).cast("long"))
        .filter(F.col("rank") <= k)
    )


def centroid_silhouette(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label simplified (centroid-based) silhouette — the standard
    clustering/labeling quality gate: for each point, a = distance to
    its OWN label centroid, b = distance to the NEAREST OTHER label
    centroid, s = (b − a) / max(a, b) ∈ [−1, 1].  The centroid form
    (sklearn's "simplified silhouette") replaces the O(N²) all-pairs
    mean distances of the exact score with per-centroid distances —
    linear in N with an L·dim centroid frame, the only silhouette that
    exists at 100 TB.

    Determinism policy (same as the centroid/k-means/BPE family):
    components quantize to 1e-6 integer units, centroids are
    div-truncated integer means, squared distances are exact int64
    sums; the only floats are the final IEEE sqrt/divide — both
    correctly rounded, hence bit-identical cross-engine — and each
    point's silhouette re-quantizes to e6 before the per-label integer
    mean, so the aggregate is partial-aggregation-order-invariant.

    Points whose graph has no OTHER label (single-label input) have no
    b and are excluded from the per-label mean (n_scored counts what
    entered); a point exactly on both centroids (a = b = 0) scores 0
    by convention.

    Output: (label, n_vecs, n_scored, mean_sil_e6, min_sil_e6,
    max_sil_e6) — one row per label.

    Scale shape: ONE posexplode to (id, label, dim, q) narrow rows; a
    partial-aggregable centroid rollup to an L·dim frame (bounded
    metadata); the point-component ⨝ centroid join is keyed on dim and
    broadcast (every comp row meets L centroids — n·dim·L rows with L
    a metadata constant); then two keyed partial aggs (per point, per
    label).  No windows, no all-pairs over points.
    """
    comp = emb.select(
        F.col(id_col).alias("vid"),
        F.col(label_col).alias("lbl"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias(
            "dim_idx", "x"
        ),
    ).select(
        "vid",
        "lbl",
        "dim_idx",
        F.round(F.col("x") * 1e6).cast("long").alias("q"),
    )
    cent = comp.groupBy(F.col("lbl").alias("c_lbl"), "dim_idx").agg(
        F.expr("sum(q) div count(*)").alias("c_e6")
    )
    sq = (
        comp.join(F.broadcast(cent), "dim_idx")
        .groupBy("vid", "lbl", "c_lbl")
        .agg(
            F.sum(
                (F.col("q") - F.col("c_e6")) * (F.col("q") - F.col("c_e6"))
            ).alias("d2")
        )
    )
    per = sq.groupBy("vid", "lbl").agg(
        F.min(F.when(F.col("c_lbl") == F.col("lbl"), F.col("d2"))).alias(
            "a2"
        ),
        F.min(F.when(F.col("c_lbl") != F.col("lbl"), F.col("d2"))).alias(
            "b2"
        ),
    )
    s = F.when(
        F.col("b2").isNull(), F.lit(None).cast("long")
    ).otherwise(
        F.when(
            F.greatest(F.sqrt("a2"), F.sqrt("b2")) == 0.0, F.lit(0).cast("long")
        ).otherwise(
            F.round(
                (F.sqrt("b2") - F.sqrt("a2"))
                / F.greatest(F.sqrt("a2"), F.sqrt("b2"))
                * 1e6
            ).cast("long")
        )
    )
    return (
        per.select("lbl", s.alias("s_e6"))
        .groupBy(F.col("lbl").alias("label"))
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.count("s_e6").cast("long").alias("n_scored"),
            F.expr(
                "CASE WHEN count(s_e6) > 0"
                " THEN sum(s_e6) div count(s_e6) END"
            )
            .cast("long")
            .alias("mean_sil_e6"),
            F.min("s_e6").cast("long").alias("min_sil_e6"),
            F.max("s_e6").cast("long").alias("max_sil_e6"),
        )
    )


def _sq8_recon(
    emb: DataFrame, dim: int, cache_key: str | None = None
) -> DataFrame:
    """SQ8 encode + midpoint-reconstruct view (vec_id, r0..r{dim-1}):
    values enter the e6 integer domain, the per-dim [mn, mx] train is
    ONE partial-aggregable pass to a single broadcast row, per-dim
    code = (xi−mn)·255 div (mx−mn), reconstruction = the bucket
    midpoint mn + (2·code+1)·(mx−mn) div 510 (mn where mx == mn) —
    all truncating integer division on non-negative operands, so the
    SQL oracle replays it bit-for-bit.  Shared by :func:`sq8_topk`
    (full-corpus scan) and :func:`ivfsq_topk` (probed buckets only).

    The stored artifact IS the code: with ``cache_key`` set, the
    (vec_id, code0..) table and the single [mn, mx] row ride the
    ingest-time build cache (VERDICT r10 #2 — previously both
    retrained on every call), invalidated by corpus fingerprint
    exactly like the shared IVF assignment, and an over-cap corpus
    degrades to the live one-pass plan via ``buildcache.cached``'s
    LIMIT gate.  At scale this is the point of SQ8: scoring scans the
    1-byte/dim code table (8× less IO than float64 vectors); recon is
    the scoring-time view of the cached codes."""
    xi = emb.selectExpr(
        "vec_id",
        *[
            f"CAST(ROUND({EMB_SQL}[{i}] * 1000000, 0) AS BIGINT) AS x{i}"
            for i in range(dim)
        ],
    )
    par = emb.sparkSession.sparkContext.defaultParallelism
    xi = xi.repartition(par)
    mm = xi.selectExpr(
        *[f"MIN(x{i}) AS mn{i}" for i in range(dim)],
        *[f"MAX(x{i}) AS mx{i}" for i in range(dim)],
    )
    codes = xi.crossJoin(F.broadcast(mm)).selectExpr(
        "vec_id",
        *[
            f"CASE WHEN mx{i} = mn{i} THEN CAST(0 AS BIGINT) "
            f"ELSE (x{i} - mn{i}) * 255 div (mx{i} - mn{i}) END AS k{i}"
            for i in range(dim)
        ],
    )
    if cache_key is not None:
        # Deliberately TWO cache entries (ADVICE r11): the pair may
        # split — LRU can evict one, and the n-row codes frame can
        # exceed the collect cap while the 1-row [mn,mx] frame never
        # does (cached minmax + live codes).  Every mix is safe by the
        # cache's core invariant: both frames are pure deterministic
        # functions of the SAME fingerprinted corpus (integer min/max
        # + truncating-div codes, no RNG, no timestamps), so a cached
        # copy is bit-identical to a live rebuild and any cached/live
        # combination reconstructs the same values.  A corpus change
        # rotates ``cache_key`` itself, so entries from different
        # corpora can never pair.
        mm = buildcache.cached(
            ("sq8_minmax", cache_key, dim), mm.schema, lambda: mm
        )
        codes = buildcache.cached(
            ("sq8_codes", cache_key, dim), codes.schema, lambda: codes
        )
    recon = codes.crossJoin(F.broadcast(mm)).selectExpr(
        "vec_id",
        *[
            f"CASE WHEN mx{i} = mn{i} THEN mn{i} "
            f"ELSE mn{i} + (2 * k{i} + 1) * (mx{i} - mn{i}) div 510 "
            f"END AS r{i}"
            for i in range(dim)
        ],
    )
    if cache_key is not None:
        # Third entry of the SQ8 family (r13): the reconstruction VIEW
        # itself.  It is a pure deterministic function of the two
        # cached frames above (truncating-div midpoints, no RNG), so
        # the same any-mix-is-safe invariant applies — but serving it
        # from the cache skips re-planning the dim-wide CASE/div
        # projection on EVERY consumer call (measured ~2.7 s of pure
        # Janino per call at sf0.1, shared by sq8_topk and ivfsq_topk).
        # Over the row cap the live plan remains the code-table scan,
        # preserving SQ8's 8×-narrower-IO scale contract.
        recon = buildcache.cached(
            ("sq8_recon", cache_key, dim), recon.schema, lambda: recon
        )
    return recon


def sq8_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    shortlist: int = 30,
    round_digits: int = 6,
    cache_key: str | None = None,
) -> DataFrame:
    """Scalar-quantized (SQ8) approximate top-k — the fourth index
    family next to brute force, IVF, and PQ: every dimension compresses
    independently to an 8-bit code over the corpus' per-dimension
    [min, max] range (FAISS ``SQ8``), queries score ASYMMETRICALLY
    (full-precision query × reconstructed bucket midpoints), and only
    the ``shortlist`` survivors per query see full-width vectors for
    the exact re-rank.  Where PQ trades accuracy for sub-vector
    codebooks, SQ8 keeps per-dimension fidelity at 1 byte/dim — 8×
    narrower than float64 and the standard first rung of vector
    compression.  Verified by the registered ``ann_sq8_recall`` eval
    (plans/registry.py), which measures recall@10 = 1.0 at sf0.001 and
    sf0.01 with shortlist=30, and whose DuckDB oracle replays the full
    quantize → midpoint-reconstruct → int64-ADC → re-rank pipeline
    bit-for-bit (row-set equality asserted at both SFs).

    Exact-integer quantization, so a SQL oracle replays it bit-for-bit:
    values enter the e6 integer domain (round(x·1e6), the repo FP
    policy), per-dim code = (xi−mn)·255 div (mx−mn), reconstruction =
    mn + (2·code+1)·(mx−mn) div 510 (the bucket midpoint, all integer
    div), and the approximate score is a 64-term int64 dot product —
    no float appears until the exact re-rank's rounded cosine.

    Scale shape: the min/max train is ONE partial-aggregable pass to a
    single broadcast row; encoding is map-side; the scoring stage scans
    the 1-byte/dim code table (8× less IO than full vectors — the
    point of SQ8) against the broadcast query set; the per-query
    shortlist is a query-keyed window over n·q scored rows (same shape
    as :func:`brute_force_topk`); re-rank touches full vectors only
    for shortlist·q rows via a vec_id-keyed join.  Output: (query_id,
    vec_id, cos_sim, rank), rank 1..k by (exact cosine DESC, vec_id
    ASC).
    """
    if shortlist < k:
        raise ValueError(f"shortlist ({shortlist}) must be >= k ({k})")
    dim = embedding_dim(emb)
    recon = _sq8_recon(emb, dim, cache_key)
    q = queries.selectExpr(
        "query_id",
        *[
            f"CAST(ROUND(qv[{i}] * 1000000, 0) AS BIGINT) AS q{i}"
            for i in range(dim)
        ],
    )
    ip = F.expr(flat_dot_sql("q", "r", dim))
    scored = recon.join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    ).select("query_id", "vec_id", ip.alias("ip"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("ip"), F.asc("vec_id")
    )
    short = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= shortlist)
        .select("query_id", "vec_id")
    )
    # exact re-rank: full vectors touched only for shortlist x q rows
    e = _flat(emb, "vec_id", "d", dim)
    qf = _q_flat(queries, dim)
    cos = F.expr(cosine_sql("d", "q", "nrm", "qnrm", dim, round_digits))
    rw = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("vec_id")
    )
    return (
        short.join(e, "vec_id")
        .join(F.broadcast(qf), "query_id")
        .select("query_id", "vec_id", cos.alias("cos_sim"))
        .withColumn("rank", F.row_number().over(rw).cast("long"))
        .filter(F.col("rank") <= k)
    )


def ivfsq_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    centroid_modulus: int = 50,
    nprobe: int = 2,
    shortlist: int = 30,
    round_digits: int = 6,
    cache_key: str | None = None,
) -> DataFrame:
    """IVF-SQ8: scalar-quantized codes stored WITHIN IVF buckets — the
    FAISS ``IVFx,SQ8`` layout, completing the composition matrix next
    to :func:`ivfpq_topk` (IVFx,PQy).  A query probes its ``nprobe``
    nearest coarse centroids, scores ONLY the probed buckets' SQ8
    reconstructions (the same exact-int64 asymmetric dot as
    :func:`sq8_topk`), and exactly re-ranks the top-``shortlist``
    survivors.

    Why this member: where PQ compresses to n_sub codebook ids (lossy
    across dimensions), SQ8 keeps per-dimension fidelity at 1 byte/dim
    — so the approximate ranking is nearly exact and the composition's
    recall is bounded by the IVF probe alone (measured: equal to
    ivf_topk's recall at equal nprobe, while scanning 8×-narrower
    data).  The right index when memory allows 1 byte/dim and recall
    matters more than the deeper PQ compression.

    Scale shape: bucket assignment is the shared ingest-time build
    (cache key identical to ivf_topk's — one assignment serves both
    layouts); the [mn, mx] train is one partial-aggregable pass; the
    probe set and the e6-quantized query block are bounded broadcasts
    joined to the code view on cid — the corpus-sized code table never
    shuffles; only shortlist·q rows reach the exact re-rank.
    Output: (query_id, vec_id, cos_sim, rank), rank 1..k.
    """
    if shortlist < k:
        raise ValueError(f"shortlist ({shortlist}) must be >= k ({k})")
    dim = embedding_dim(emb)
    e = _flat(emb, "vec_id", "d", dim)
    cents = seed_centroids(e, centroid_modulus, dim)
    assigned = assign_nearest_centroid(e, cents, dim, round_digits)
    buckets = assigned.select("vec_id", "cid")
    if cache_key is not None:
        # identical entry to ivf_topk/ivfpq_topk at equal params — one
        # ingest-time assignment serves every bucketed layout
        key = ("ivf_assign", cache_key, centroid_modulus, 0, 1, round_digits)
        buckets = buildcache.cached(key, buckets.schema, lambda: buckets)
    recon_b = _sq8_recon(emb, dim, cache_key).join(buckets, "vec_id")

    q = _q_flat(queries, dim)
    cos_probe = F.expr(cosine_sql("q", "c", "qnrm", "cnrm", dim, round_digits))
    w_probe = Window.partitionBy("query_id").orderBy(
        F.desc("cos_c"), F.asc("cid")
    )
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select("query_id", "cid", cos_probe.alias("cos_c"))
        .withColumn("prank", F.row_number().over(w_probe))
        .filter(F.col("prank") <= nprobe)
        .select("query_id", "cid")
    )
    qe = queries.selectExpr(
        "query_id",
        *[
            f"CAST(ROUND(qv[{i}] * 1000000, 0) AS BIGINT) AS q{i}"
            for i in range(dim)
        ],
    )
    probe_q = probes.join(qe, "query_id")  # bounded × bounded
    ip = F.expr(flat_dot_sql("q", "r", dim))
    scored = (
        recon_b.join(F.broadcast(probe_q), "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", ip.alias("ip"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("ip"), F.asc("vec_id"))
    short = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= shortlist)
        .select("query_id", "vec_id")
    )
    qf = _q_flat(queries, dim)
    cos = F.expr(cosine_sql("d", "q", "nrm", "qnrm", dim, round_digits))
    rw = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("vec_id")
    )
    return (
        short.join(e, "vec_id")
        .join(F.broadcast(qf), "query_id")
        .select("query_id", "vec_id", cos.alias("cos_sim"))
        .withColumn("rank", F.row_number().over(rw).cast("long"))
        .filter(F.col("rank") <= k)
    )


def semantic_decontaminate(
    corpus: DataFrame,
    refs: DataFrame,
    *,
    threshold: float = 0.25,
    round_digits: int = 6,
) -> DataFrame:
    """Embedding-based benchmark decontamination — the SEMANTIC
    complement of the n-gram overlap gate (operators/curation.py
    decontaminate): flag every corpus vector whose cosine against ANY
    reference (benchmark/eval-set) vector reaches ``threshold``.
    Paraphrased or lightly-rewritten eval leakage shares no n-grams
    but sits next to the benchmark in embedding space — a production
    training pipeline runs BOTH gates.

    ``refs``: (vec_id, v) — bounded by construction (eval sets are
    small), so it broadcasts and the scoring stage is one map-side
    O(n·|refs|) pass over the corpus followed by a partial-aggregable
    MAX per corpus vector — no shuffle of scored pairs, no window, no
    all-pairs over the corpus.  Cosines round to ``round_digits``
    before the MAX (the engine FP policy), so the flag is bit-stable
    and SQL-mirrorable.

    Output: (vec_id, max_cos, contaminated) — one row per corpus
    vector, INCLUDING when ``refs`` is empty (ADVICE r10: the old
    crossJoin dropped every corpus row on an empty eval set, making a
    misconfigured refs source look like a fully-clean corpus that
    vanished).  The scoring join is a broadcast LEFT outer on a true
    condition — identical pairing to the crossJoin when refs is
    non-empty, a null score row per corpus vector when it is — so
    max_cos is null and contaminated is false for every row under an
    empty eval set, and the plan keeps the single map-side pass +
    partial-aggregable MAX (no extra corpus shuffle a re-join would
    cost).
    """
    dim = embedding_dim(corpus)
    par = corpus.sparkSession.sparkContext.defaultParallelism
    e = _flat(corpus, "vec_id", "d", dim).repartition(par)
    # Column-API aliases, not _flat: a DataFrame-API alias carries
    # non-inheritable metadata keys that a selectExpr alias lacks, and
    # they are part of this query's analyzed plan (and plan digest).
    r = refs.select(
        F.col("vec_id").alias("ref_id"),
        F.expr(norm_unrolled_sql("v", dim)).alias("rnrm"),
        *[F.expr(x).alias(f"r{i}") for i, x in enumerate(elements_sql("v", dim))],
    )
    cos = F.expr(cosine_sql("d", "r", "nrm", "rnrm", dim, round_digits))
    return (
        e.join(F.broadcast(r), F.lit(True), "left")
        .select("vec_id", cos.alias("cos_sim"))
        .groupBy("vec_id")
        .agg(F.max("cos_sim").alias("max_cos"))
        .select(
            "vec_id",
            "max_cos",
            F.coalesce(
                F.col("max_cos") >= F.lit(threshold), F.lit(False)
            ).alias("contaminated"),
        )
    )
