"""Training-data curation operators: the steps between "deduped corpus"
and "training mixture" in a large-scale LLM data pipeline.

* ``sample_by_hash``      — deterministic hash-based stratified sampling
                            (per-stratum rates, e.g. downsample web,
                            keep all wiki).  No RNG: membership is a
                            pure function of (salt, id), so samples are
                            reproducible across engines, runs, and
                            re-partitioning — the property that makes a
                            100 TB sample auditable.
* ``pack_sequences``      — concatenate-and-chunk sequence packing:
                            documents are ordered within a stratum,
                            token counts are cumulated, and each doc is
                            assigned the chunk (``pack_id``) containing
                            its first token.  The standard pretraining
                            packing shape, as a pure window expression.
* ``connected_components``— duplicate-CLUSTER extraction: near-dup
                            pair lists (from minhash/jaccard/simhash)
                            are only half the dedup story; keeping one
                            representative per transitive cluster needs
                            connected components.  Iterative min-label
                            propagation over DataFrames.

All three are pure DataFrame compositions with exact-integer /
string-comparison semantics, so each has a bit-exact DuckDB oracle
(plans/registry.py).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import tokens
from ..session import fixpoint, scoped, unchanged

_SALT_OK = re.compile(r"^[A-Za-z0-9_\-]*$")


def _expr_salt(salt: str) -> str:
    """Validate a salt destined for an F.expr f-string.  Salts are
    public API surface shared with the streaming duals and are
    interpolated into a SQL string literal — a quote (or any other
    non-identifier character) would break the expression or silently
    change the md5 input, so the charset is whitelisted instead of
    escaped (deterministic-sampling salts are version tags, not free
    text)."""
    if not _SALT_OK.match(salt):
        raise ValueError(
            "salt must match [A-Za-z0-9_-]* (it is interpolated into a "
            f"SQL literal), got {salt!r}"
        )
    return salt


def _expr_ident(name: str) -> str:
    """Backtick-quote a column name for an F.expr f-string, rejecting
    characters that cannot be made safe inside both the quoted
    identifier and the raise_error message literal."""
    if any(c in name for c in ("`", "'", "\\")):
        raise ValueError(f"unsupported characters in column name: {name!r}")
    return f"`{name}`"


def _hex_threshold(rate: float) -> str:
    """2-hex-digit threshold with 1/256 granularity; 'zz' sorts after
    every hex string → keep-all.

    Rates in [255.5/256, 1.0) round to bucket 256, whose nearest
    representable rate is keep-all — returning the raw ``format(256)``
    ('100', 3 chars) would lexicographically keep only the '0x' buckets
    (~6% instead of ~100%), so quantities ≥ 256 map to the keep-all
    sentinel explicitly."""
    q = max(int(round(rate * 256)), 0)
    if q >= 256:
        return "zz"
    return format(q, "02x")


def sample_by_hash(
    df: DataFrame,
    rates: dict[str, float],
    *,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Keep each row iff the first 2 hex digits of md5(salt || id) sort
    below the stratum's threshold — deterministic per-stratum sampling
    at 1/256 rate granularity.

    Strata absent from ``rates`` are dropped (null threshold → filter
    false), which doubles as the "unknown source" guard.  Scale shape:
    a narrow codegen'd filter — no shuffle, no RNG state, trivially
    pushdown-composable.
    """
    bucket = F.substring(
        F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 2
    )
    thresh = F.create_map(
        *[
            lit
            for k, v in sorted(rates.items())
            for lit in (F.lit(k), F.lit(_hex_threshold(v)))
        ]
    )
    return df.filter(bucket < thresh[F.col(stratum_col)])


def sample_quota(
    df: DataFrame,
    quota: int,
    *,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Deterministic fixed-QUOTA sampling: keep exactly
    ``min(quota, |stratum|)`` rows per stratum — the rows with the
    smallest md5(salt || id) priorities win (bottom-k / priority
    sampling).  Because the priority is a pure hash of the id, the kept
    set is a uniform without-replacement sample that is reproducible
    across engines, runs, and partitionings — and quota-EXACT, where
    the rate-based :func:`sample_by_hash` is exact only in expectation
    (the right tool when a mixture recipe says "exactly N docs of X").
    ``salt`` draws an independent sample.

    Scale shape: one per-stratum window rank — strata rank in parallel;
    a single hot stratum skews its window partition, so at 100 TB
    pre-filter with an approximate priority threshold (e.g.
    ``approx_percentile`` of the hash on a sample) before the exact
    rank — same kept set, bounded partition.  Output: input columns,
    quota rows per stratum.
    """
    pri = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    w = Window.partitionBy(stratum_col).orderBy(pri, F.col(id_col))
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= quota)
        .drop("__rk")
    )


def sample_weighted(
    df: DataFrame,
    quota: int,
    *,
    weight_col: str,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Deterministic WEIGHTED bottom-k sampling: keep
    ``min(quota, |stratum|)`` rows per stratum with the smallest integer
    priority ``H div (w + 1)``, where ``H`` is the 60-bit integer from
    the first 15 hex digits of md5(salt || id) and ``w`` the row's
    weight — heavier rows draw smaller priorities, so inclusion odds
    grow with weight (the integer-arithmetic analogue of
    exponential-clocks / A-ES priority sampling, quality-weighted
    selection being the training-data use).  Like :func:`sample_quota`
    the kept set is a pure function of (ids, weights): reproducible
    across engines, runs, and partitionings, and quota-exact.

    Weights must be non-negative integers (e.g. ``quality_e6``); weight
    0 still competes via the +1 floor.  Ties break on (priority, id).
    The precondition is ENFORCED row-side: a negative weight raises at
    execution (``raise_error`` branch) instead of the silent failure
    mode it would otherwise have (weight −1 → divide-by-zero → NULL
    priority → NULLS FIRST would rank the invalid row ahead of every
    valid one); the orderBy is additionally ``asc_nulls_last`` so no
    NULL priority can ever win a quota slot.

    Scale shape: identical to sample_quota — one per-stratum window
    rank; pre-filter with an approximate priority threshold at extreme
    stratum sizes.  Output: input columns, ≤ quota rows per stratum.
    """
    salt = _expr_salt(salt)
    q_w, q_id = _expr_ident(weight_col), _expr_ident(id_col)
    pri = F.expr(
        f"CASE WHEN {q_w} < 0 THEN raise_error(concat("
        f"'sample_weighted: negative weight in {weight_col}: ',"
        f" cast({q_w} as string)))"
        f" ELSE cast(conv(substr(md5(concat('{salt}',"
        f" cast({q_id} as string))),"
        f" 1, 15), 16, 10) as bigint) div ({q_w} + 1L) END"
    )
    w = Window.partitionBy(stratum_col).orderBy(
        pri.asc_nulls_last(), F.col(id_col)
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= quota)
        .drop("__rk")
    )


def aes_priority(
    weight_col: str,
    id_col: str,
    *,
    salt: str = "",
    max_weight: int = 64,
):
    """The A-ES min-of-uniforms priority as a reusable map-side
    expression (see :func:`weighted_reservoir_per_key` for the
    distribution argument and the weight-bound contract): the minimum
    of ``weight`` md5-derived 60-bit integer draws, with the
    [1, max_weight] bound enforced row-side.  Shared by the batch
    per-key reservoir and its streaming windowed dual
    (streaming/stateful.windowed_weighted_reservoir)."""
    salt = _expr_salt(salt)
    q_w, q_id = _expr_ident(weight_col), _expr_ident(id_col)
    draw = (
        f"cast(conv(substr(md5(concat('{salt}',"
        f" cast({q_id} as string), '-', cast(i as string))),"
        f" 1, 15), 16, 10) as bigint)"
    )
    # NULL-aware guard: NULL < 1 is NULL (not true), so without the
    # explicit IS NULL branch a null weight would slip past the raise
    # into sequence(1, NULL) -> a NULL priority competing for a slot
    # whenever the key group holds fewer than k valid rows.
    return F.expr(
        f"CASE WHEN {q_w} IS NULL OR {q_w} < 1"
        f" OR {q_w} > {max_weight}"
        f" THEN raise_error(concat('weighted_reservoir_per_key: weight in"
        f" {weight_col} outside [1, {max_weight}]: ',"
        f" coalesce(cast({q_w} as string), 'NULL')))"
        f" ELSE array_min(transform(sequence(1,"
        f" cast({q_w} as int)), i -> {draw})) END"
    )


def weighted_reservoir_per_key(
    df: DataFrame,
    k: int,
    *,
    key_col: str,
    weight_col: str,
    id_col: str,
    salt: str = "",
    max_weight: int = 64,
) -> DataFrame:
    """Per-key weighted reservoir sampling with EXACT A-ES semantics and
    exact-integer arithmetic: keep ``min(k, |key group|)`` rows per
    ``key_col`` group, each row's inclusion following weighted sampling
    WITHOUT replacement (Efraimidis–Spirakis A-ES) on its integer
    weight.

    The textbook A-ES priority is ``u^(1/w)`` (equivalently an
    exponential clock ``-ln(u)/w``) — floating-point ``ln`` whose last
    ulp differs across engines.  This operator uses the min-of-uniforms
    equivalence instead: draw ``w`` independent uniforms per row and
    rank rows by their MINIMUM.  All ``Σw`` draws are i.i.d., so the
    row owning the global minimum is any given row with probability
    ``w_i / Σw``, and ranking rows by their min replays exactly the
    successive-selection process of sampling without replacement
    proportional to weight — the A-ES distribution with zero
    logarithms.  Each draw is the 60-bit integer from the first 15 hex
    digits of ``md5(salt || id || '-' || i)``, so priorities are pure
    integer functions of (salt, id, w): reproducible across engines,
    runs, and partitionings, and bit-replayable by a DuckDB oracle.

    Weights must be integers in ``[1, max_weight]`` — the draw count IS
    the weight, so the cap bounds per-row work; the bound is ENFORCED
    row-side (``raise_error`` branch, same policy as
    :func:`sample_weighted`) because a silently huge weight would plan
    an unbounded ``sequence()``.  For large/unbounded weights use
    :func:`sample_weighted`'s ``H div (w+1)`` priority instead (heavier-
    tailed inclusion odds, but O(1) per row).

    Scale shape: the priority is a per-row expression (no shuffle —
    ``array_min`` over a ``transform``'d ``sequence``, ≤ max_weight md5
    calls per row), and selection is ONE key-partitioned window rank.
    At extreme group sizes pre-filter with an approximate priority
    threshold before the window, as with :func:`sample_quota`.

    Output: the input columns plus ``priority`` (the winning draw,
    BIGINT), ≤ k rows per key.
    """
    pri = aes_priority(
        weight_col, id_col, salt=salt, max_weight=max_weight
    )
    w = Window.partitionBy(key_col).orderBy(
        F.col("priority").asc_nulls_last(), F.col(id_col)
    )
    return (
        df.withColumn("priority", pri)
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def pack_sequences(
    docs: DataFrame,
    budget: int,
    *,
    partition_cols: tuple[str, ...] = ("lang", "source"),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Concatenate-and-chunk packing: within each stratum, documents are
    laid out in ``id_col`` order and cut into ``budget``-token chunks;
    ``pack_id`` is the chunk holding the document's first token.

    Output: (id, *partition_cols, n_tokens, pack_id).  Scale shape: the
    running sum is a per-stratum window — strata pack in parallel, and
    at 100 TB the stratum key should include a shard component (e.g.
    crawl snapshot) so no single window partition is unbounded; the
    global sort a stratum-free window would need is exactly what this
    formulation avoids.
    """
    n_tok = F.size(tokens(text_col)).cast("long")
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_excl = F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("long"))
    return (
        docs.select(id_col, *partition_cols, n_tok.alias("n_tokens"))
        .withColumn(
            "pack_id", F.floor(cum_excl / F.lit(float(budget))).cast("long")
        )
    )


@scoped
def connected_components(
    edges: DataFrame,
    *,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components of an undirected pair graph by iterative
    min-label propagation: every node's label converges to the minimum
    node id reachable from it.  Output: (doc_id, cluster_id).

    Each iteration is one shuffle join + one partial-aggregable min —
    linear in |edges|; convergence takes O(component diameter) rounds,
    which for near-dup graphs (dense clique-ish clusters) is 2-4.  At
    billions of edges swap in the large-star/small-star contraction
    (O(log n) rounds) — same DataFrame skeleton, different message rule.
    ``localCheckpoint`` truncates the growing lineage each round so the
    plan stays O(1) deep.

    The loop runs on :func:`..session.fixpoint` with Σlabel as the
    observed metric: labels only ever drop to a smaller reachable id,
    so Σlabel is strictly decreasing until the fixpoint and one column
    aggregate replaces a per-round shuffle join + count.
    decimal(38,0) keeps the sum exact far beyond int64 (10¹⁰ nodes ×
    10¹⁰ max id ≈ 10²⁰ ≪ 10³⁸).  The final round's checkpoint backs
    the returned frame, so a top-level caller keeps that frame
    referenced until its last action has run (``session`` scope rules).
    """
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .persist()
    )
    sym.count()
    labels0 = (
        sym.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )

    def propagate(labels: DataFrame, _) -> DataFrame:
        msgs = sym.join(labels, sym["u"] == labels["node"]).select(
            F.col("v").alias("node"), F.col("label")
        )
        return (
            msgs.unionByName(labels)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )

    try:
        # A component with diameter > max_iter would otherwise yield
        # silently-wrong cluster ids; non-convergence must be loud.
        labels = fixpoint(
            propagate, labels0,
            metric=[F.sum(F.col("label").cast("decimal(38,0)")).alias("s")],
            converged=unchanged, max_iter=max_iter,
            error=f"connected_components did not reach the label fixpoint "
            f"in {max_iter} iterations — a component's diameter exceeds "
            f"max_iter; raise max_iter (or switch to large-star/"
            f"small-star contraction for long-chain graphs)",
        )
    finally:
        sym.unpersist()
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def _large_star(e: DataFrame) -> DataFrame:
    """One large-star round: every node connects its STRICTLY-LARGER
    neighbors to the minimum of its closed neighborhood.  Input/output
    edges oriented (u > v); output preserves the orientation because the
    emitted parent m ≤ u < v for every emitted pair (v, m)."""
    sym = e.select("u", "v").unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        sym.filter(F.col("v") > F.col("u"))
        .join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star round: every node connects its smaller neighbors
    (and itself) to the minimum of that set.  Edges oriented (u > v) on
    both sides."""
    mins = e.groupBy("u").agg(F.min("v").alias("m"))
    j = e.join(mins, "u")
    rewired = j.filter(F.col("v") != F.col("m")).select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    to_min = j.select("u", F.col("m").alias("v"))
    return rewired.unionByName(to_min).distinct()


@scoped
def cc_star(
    edges: DataFrame,
    *,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components by alternating large-star/small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond").  Output: (doc_id, cluster_id) — identical clusters to
    ``connected_components`` (cluster_id = component-minimum node id);
    property-tested equivalent on random graphs.

    Why it exists: min-label propagation converges in O(component
    diameter) rounds, which on a long-chain graph (billions of edges,
    path-shaped components) is the scale killer.  Star contraction
    halves tree heights every alternation — O(log n) rounds regardless
    of diameter — at the cost of ~2 shuffles per alternation instead
    of 1.  For near-dup graphs (clique-ish, diameter 2-4) propagation
    wins; for long-chain graphs this is the right engine.

    Fixpoint detection (:func:`..session.fixpoint`): the (count, Σu,
    Σv) metric (exact decimal(38,0) sums) rides each round's checkpoint
    job and gates an EXACT set-equality check (``exceptAll``), so a
    metric collision can never terminate the loop early — the exact
    check runs only on metric-stable rounds, on the contracted
    (star-shaped, ≈|V|-edge) edge set, and before the superseded
    round's checkpoint is released.
    """
    e0 = (
        edges.select(
            F.greatest(F.col(src), F.col(dst)).alias("u"),
            F.least(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )

    def stable(prev, cur) -> bool:
        # counts are equal, so one exceptAll side suffices
        return prev.metric == cur.metric and cur.frame.exceptAll(
            prev.frame
        ).isEmpty()

    e = fixpoint(
        lambda cur, _: _small_star(_large_star(cur)), e0,
        metric=[
            F.count("*").alias("n"),
            F.sum(F.col("u").cast("decimal(38,0)")).alias("su"),
            F.sum(F.col("v").cast("decimal(38,0)")).alias("sv"),
        ],
        converged=stable, max_iter=max_iter,
        error=f"cc_star did not reach the edge fixpoint in {max_iter} "
        f"alternations — raise max_iter",
    )
    # Fixpoint edges are per-component stars (child u → component-min v);
    # roots never appear as a child.  min() is belt-and-braces: at the
    # fixpoint each child has exactly one parent.  Each contraction
    # keeps every node on some edge, so the final edges' endpoints are
    # the input's node set.
    parents = e.groupBy(F.col("u").alias("node")).agg(F.min("v").alias("label"))
    nodes = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
    )
    return (
        nodes.join(parents, "node", "left")
        .select(
            F.col("node").alias("doc_id"),
            F.coalesce(F.col("label"), F.col("node")).alias("cluster_id"),
        )
    )


def decontaminate(
    docs: DataFrame,
    bench_modulus: int = 97,
    shingle_n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any n-gram
    shingle with a held-out benchmark set.

    The standard pretraining hygiene step — eval-set n-grams must not
    leak into training data.  Here the "benchmark" is the deterministic
    doc_id % ``bench_modulus`` == 0 subset (stands in for an external
    eval set; the operator only sees two row sets).  Output:
    (doc_id, n_hits) — training docs with ≥1 overlapping shingle and
    the count of distinct shared shingles.

    Scale shape: shingling is the same codegen'd posexplode+lead chain
    dedup uses; the overlap join shuffles on the shingle term.  A real
    eval set is bounded (~10⁴-10⁶ n-grams) so AQE broadcasts it; no
    hint, because THIS stand-in benchmark scales with the corpus and
    hint-broadcasting it would violate the broadcast policy
    (SCALING.md).  Production would hash terms to fixed-width before
    the shuffle; raw terms keep the oracle trivially exact.
    """
    from .dedup import _exploded_terms

    sh = _exploded_terms(docs, shingle_n, text_col)
    bench = (
        sh.filter(F.col("doc_id") % bench_modulus == 0)
        .select("term")
        .distinct()
    )
    train = sh.filter(F.col("doc_id") % bench_modulus != 0)
    return (
        train.join(bench, "term")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )


def rebalance_by_rate(
    df: DataFrame,
    rates: DataFrame,
    *,
    stratum_col: str = "source",
    id_col: str = "doc_id",
    rate_col: str = "rate_e6",
    salt: str = "",
) -> DataFrame:
    """Apply COMPUTED per-stratum keep-rates (1e-6 units) by
    deterministic hash sampling — the execution half of mixture
    re-balancing, fed by ``text.domain_mixture``'s planning half.

    Unlike :func:`sample_by_hash` (static driver-side rate dict, 1/256
    hex buckets) the rates here are a DataFrame computed in-plan, so the
    threshold must be built in-plan too: keep a row iff the first 8 hex
    digits of md5(salt || id) sort below
    ``lpad(hex(rate_e6 · 2³² div 10⁶), 8)`` — the exact floor of the
    rate scaled into the 32-bit bucket space (keep probability within
    2⁻³², one hash bucket, of rate_e6/10⁶), built with integer ops and
    hex formatting that Spark and DuckDB render identically, so
    membership is exactly reproducible on both engines (rate_e6 ≥ 1e6
    short-circuits to keep-all).

    Strata absent from ``rates`` are dropped (inner join) — the unknown
    stratum guard.  Scale shape: rates are bounded (one row per
    stratum) → broadcast; the filter is a narrow codegen'd map — no
    shuffle of the corpus.
    """
    bucket = F.substring(
        F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 8
    )
    thresh = F.lpad(
        F.lower(
            F.hex(
                F.expr(f"(CAST({rate_col} AS BIGINT) * 4294967296L) div 1000000L")
            )
        ),
        8,
        "0",
    )
    return df.join(F.broadcast(rates), stratum_col).filter(
        (F.col(rate_col).cast("long") >= 1_000_000) | (bucket < thresh)
    )


def upsample_by_factor(
    df: DataFrame,
    factors: DataFrame,
    *,
    stratum_col: str = "source",
    id_col: str = "doc_id",
    factor_col: str = "factor_e6",
    salt: str = "",
) -> DataFrame:
    """Deterministic FRACTIONAL repetition — the mixture-epochs op:
    repeat each stratum ``factor_e6/1e6`` times (e.g. 2.5 epochs of a
    rare high-quality source), the standard up-weighting move when
    building a training mixture.

    Every row gets ``factor_e6 div 1e6`` full copies plus one extra
    copy iff its hash bucket falls below the fractional remainder —
    the same exact-floor md5-bucket-vs-hex-threshold construction as
    :func:`rebalance_by_rate`, so expected copies equal the factor to
    within 2⁻³² (one 32-bit hash bucket) and membership of the
    fractional copy is a pure function of (salt, id): reproducible
    across engines, runs, partitionings.
    Factors below 1e6 degrade gracefully to plain downsampling (0 or 1
    copies).  Output: input columns + ``copy_id`` (0-based).

    Scale shape: bounded factor table broadcast + a narrow map +
    ``explode(sequence)`` — output grows by exactly the mixture factor,
    no shuffle.  Strata absent from ``factors`` are dropped (inner
    join), the unknown-stratum guard.
    """
    bucket = F.substring(
        F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 8
    )
    thresh = F.lpad(
        F.lower(
            F.hex(
                F.expr(
                    f"((CAST({factor_col} AS BIGINT) % 1000000L)"
                    f" * 4294967296L) div 1000000L"
                )
            )
        ),
        8,
        "0",
    )
    n_copies = (
        F.expr(f"CAST({factor_col} AS LONG) div 1000000L")
        + F.when(bucket < thresh, F.lit(1)).otherwise(F.lit(0))
    ).alias("__n")
    with_n = df.join(F.broadcast(factors), stratum_col).select(
        df["*"], n_copies
    )
    return (
        with_n.select(
            "*",
            F.explode(
                F.when(
                    F.col("__n") >= 1,
                    F.sequence(F.lit(0).cast("long"), F.col("__n") - 1),
                ).otherwise(F.array().cast("array<long>"))
            ).alias("copy_id"),
        )
        .drop("__n")
    )


def quality_linear_score(
    stats: DataFrame,
    repetition: DataFrame,
    lm: DataFrame,
    *,
    w_quality: int = 50,
    w_nonrep: int = 30,
    w_lm: int = 20,
    lm_sat: int = 10,
    threshold_e6: int = 500_000,
) -> DataFrame:
    """Document-quality LINEAR scorer: the weighted blend of the three
    per-document quality signals the engine already computes —
    ``text_stats.quality_e6`` (length/diversity/stopword),
    ``repetition_stats.rep_bigram_e6`` (within-doc boilerplate, used
    inverted), and ``lm_score.lm_score_e6`` (corpus-bigram fluency,
    saturated at ``lm_sat×`` so its small typical magnitudes occupy the
    same [0, 1e6] range) — plus the threshold gate that decides which
    documents survive into the training mixture.

        score_e6 = (w_q·quality_e6 + w_nr·(1e6 − rep_e6)
                    + w_lm·least(lm_e6·lm_sat, 1e6)) div 100

    All-integer (weights are /100 percentages summing to 100, ``div``
    truncation, no doubles), so the score and the keep verdict are
    bit-identical cross-engine.  The combiner touches NO corpus text:
    it is pure arithmetic over the three (doc_id-keyed, narrow) feature
    frames, so it adds zero corpus passes beyond the features a
    curation pipeline has already materialized.

    Output: (doc_id, quality_e6, rep_bigram_e6, lm_score_e6, score_e6,
    keep).

    Scale shape: two doc_id-keyed equi-joins of narrow feature frames
    (co-partitioned if the features were written bucketed by doc_id —
    zero-shuffle then) + a codegen'd projection.  No aggregation, no
    corpus scan.
    """
    if w_quality + w_nonrep + w_lm != 100:
        raise ValueError("quality_linear_score: weights must sum to 100")
    f = (
        stats.select("doc_id", "quality_e6")
        .join(repetition.select("doc_id", "rep_bigram_e6"), "doc_id")
        .join(lm.select("doc_id", "lm_score_e6"), "doc_id")
    )
    score = F.expr(
        f"({w_quality} * quality_e6"
        f" + {w_nonrep} * (1000000L - rep_bigram_e6)"
        f" + {w_lm} * least(lm_score_e6 * {lm_sat}L, 1000000L)) div 100"
    )
    return f.select(
        "doc_id",
        "quality_e6",
        "rep_bigram_e6",
        "lm_score_e6",
        score.alias("score_e6"),
        (score >= F.lit(threshold_e6)).alias("keep"),
    )
