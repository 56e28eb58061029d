"""Stateful streaming operators (SURVEY.md §2.4 A1/A2 + §2.6 streaming dedup).

These internalize the aggregation-shaped logic the reference keeps outside
Spark (the STEDI Java app's ≥4-assessments risk gate, the UI's
risk-by-birth-year graph) and add the streaming dedup the north star
mandates.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions.vectors import (
    EMB_SQL,
    dot_sql,
    elements_sql,
    lit_dot_sql,
    lit_sql,
    norm_sql,
    pq_dist_sql,
    rounded_cosine_sql,
)


def _avg_score_e4():
    """Reassociation-proof average: per-row quantize to exact 1e-4 int
    units, sum exactly, derive the double once (repo FP policy —
    plans/analytics.py docstring).  round(avg(double)) is not stable
    across partial-aggregation orders: Spark's partial aggregation
    reassociates the sum differently from DuckDB's sequential reduce
    (CORRECTNESS_r01 stedi_risk_by_birth_year).  Shared by the batch
    queries in plans/registry.py and the streaming gates here."""
    # Average rounded to 4 decimals ENTIRELY in integers — half-up in
    # 1e-4 units is ``(2·sum + n) div (2·n)`` (scores non-negative, so
    # Spark's truncating div == DuckDB's floor //).  The former
    # ``round(sum/n/10000.0, 4)`` hit a half-ULP boundary at sf0.1
    # (sum/n = 491912.5 exactly: Spark's BigDecimal-of-shortest-repr
    # rounds 49.19125 up, DuckDB rounds the binary double down — one row
    # hash-diverged).  The final ÷10000.0 of an int ≤ 1e15 is a single
    # correctly-rounded IEEE op, identical on both engines.
    return (
        F.expr(
            "(2 * SUM(CAST(round(score * 10000) AS BIGINT)) + COUNT(*))"
            " div (2 * COUNT(*))"
        ).cast("double")
        / 10000.0
    )


def streaming_risk_gate_agg(risk: DataFrame) -> DataFrame:
    """A1, the ≥4-assessments risk gate (reference rule:
    project/starter/README.md:96), as one partial-aggregable
    groupBy(customer): map-side combine, one shuffle on the customer
    key.  The same plan runs in batch (``stedi_risk_gate``) and as a
    stream in complete or update output mode, where the state store
    keeps the aggregation buffers per customer across micro-batches.

    The one gate the engine keeps.  Against the applyInPandasWithState
    form it replaced (running count and exact-integer sum per customer
    in a pandas UDF), draining a 10,000-event feed from 28 files one per
    trigger (update mode, memory sink, local[2] on a 4-core VM, four
    alternating pairs) it took 6.5–17.1 s against 14.7–21.8 s, with
    per-trigger medians of 226–428 ms against 512–703 ms.
    """
    return (
        risk.groupBy("customer")
        .agg(
            F.count("*").alias("n_assessments"),
            _avg_score_e4().alias("avg_score"),
            F.max("riskDate").alias("last_risk_date"),
        )
        .filter(F.col("n_assessments") >= 4)
    )


def windowed_risk_by_birth_year(
    joined: DataFrame,
    *,
    time_col: str = "riskTime",
    window_duration: str = "1 hour",
    watermark_delay: str | None = "2 hours",
) -> DataFrame:
    """A2 streaming: event-time windowed avg score per birthYear with a
    watermark bounding state (late rows beyond the delay are dropped).

    Pass ``watermark_delay=None`` when ``joined`` is the output of an
    upstream stateful operator (e.g. the watermarked J1 join): Spark
    propagates the watermark through chained stateful operators and
    DISALLOWS redefining it mid-pipeline.
    """
    src = (
        joined
        if watermark_delay is None
        else joined.withWatermark(time_col, watermark_delay)
    )
    return (
        src.groupBy(F.window(time_col, window_duration), "birthYear")
        .agg(
            F.count("*").alias("n_scores"),
            _avg_score_e4().alias("avg_score"),
        )
    )


def windowed_source_quality(
    docs: DataFrame,
    *,
    time_col: str = "ingest_time",
    window_duration: str = "1 hour",
    watermark_delay: str = "2 hours",
) -> DataFrame:
    """Streaming curation monitor — the streaming dual of
    ``text.corpus_report``: per (event-time window, source) doc count,
    token volume, and exact-integer quality sum over an ingest stream.

    Emits SUMS, not averages: exact int64 sums merge associatively
    across late-arriving updates (update output mode), and the consumer
    derives ``avg = sum_quality_e6 div n_docs`` once — same FP policy as
    batch.  The per-doc stats map is narrow (streaming-safe, no state);
    only the windowed aggregate is stateful, with the watermark bounding
    it to ``watermark_delay`` of history per source.
    """
    from ..operators.text import text_stats

    s = text_stats(docs, carry=("source", time_col))
    return (
        s.withWatermark(time_col, watermark_delay)
        .groupBy(F.window(time_col, window_duration), "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.sum("quality_e6").alias("sum_quality_e6"),
        )
    )


def streaming_user_sessions(
    events: DataFrame,
    *,
    time_col: str = "ts",
    gap: str = "30 minutes",
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Streaming sessionization via the native session_window operator —
    its own stateful operator in Structured Streaming (not a tumbling
    window): per-key sessions merge while their [ts, last+gap) intervals
    overlap, and a session is EMITTED (append mode) once the watermark
    passes its end, closing it.

    State per key = open sessions within the watermark horizon.  Output:
    (user_id, session_start_us, session_end_us, n_events) — identical
    columns to the batch dual (plans/analytics.py:events_session_window),
    which streaming tests compare against on closed sessions.
    """
    return (
        events.withWatermark(time_col, watermark_delay)
        .groupBy(F.session_window(time_col, gap), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("session_window.start").alias("session_start_us"),
            F.unix_micros("session_window.end").alias("session_end_us"),
            "n_events",
        )
    )


def dedup_within_watermark(
    df: DataFrame,
    keys: list[str],
    *,
    time_col: str,
    delay: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup with bounded state:
    dropDuplicatesWithinWatermark keeps each key's state only until the
    watermark passes it (vs dropDuplicates' unbounded state)."""
    return df.withWatermark(time_col, delay).dropDuplicatesWithinWatermark(keys)


def streaming_decontaminate(
    docs: DataFrame,
    bench_docs: DataFrame,
    *,
    shingle_n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Stream-STATIC decontamination: flag incoming training documents
    that share an n-gram shingle with a held-out benchmark set — the
    ingest-time form of ``curation.decontaminate``.

    The benchmark side is a static (batch) DataFrame; the join is
    Structured Streaming's stream-static equi-join — STATELESS (the
    static side is re-planned against each microbatch; a real eval set
    is bounded, so Catalyst broadcasts it).  The stream side shingles
    with the per-row higher-order form (``shingles_from_tokens``)
    because the batch shingler's window + distinct are not
    streaming-safe; per-doc distinctness comes from the array_distinct
    inside it.  Emits one (doc_id, term) row per hit in append mode —
    no watermark needed; hit *counting* is the consumer's rollup (a
    stateless emit keeps this composable with any downstream windowed
    aggregate).

    Batch/streaming duality: on a batch ``docs`` this returns exactly
    ``curation.decontaminate``'s join rows before its groupBy
    (tests/test_streaming.py asserts stream==batch).
    """
    from ..functions.hashing import shingles_from_tokens, tokens

    from ..operators.dedup import _exploded_terms

    bench = (
        _exploded_terms(bench_docs, shingle_n, text_col)
        .select("term")
        .distinct()
    )
    toks = docs.select("doc_id", tokens(text_col).alias("t"))
    sh = toks.select(
        "doc_id",
        F.explode(shingles_from_tokens(F.col("t"), shingle_n)).alias("term"),
    )
    return sh.join(bench, "term").select("doc_id", "term")


def streaming_shared_span_hits(
    docs: DataFrame,
    span_set: DataFrame,
    *,
    n: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Stream-STATIC boilerplate flagging: positional n-gram spans of
    incoming documents joined against a STATIC shared-span set (built
    offline by ``text.shared_span_stats``'s df-filter on a reference
    corpus) — the ingest-time form of across-corpus boilerplate
    detection, same pattern as :func:`streaming_decontaminate`.

    Stateless stream-static equi-join (the bounded span set broadcasts);
    emits one (doc_id, s) row per matching span POSITION in append mode
    — duplicates kept deliberately, so a downstream rollup can compute
    the boilerplate fraction per doc.  Works identically on a batch
    ``docs`` (tests assert stream==batch).
    """
    from ..functions.hashing import span_positions, tokens

    toks = docs.select("doc_id", tokens(text_col).alias("t"))
    sp = toks.select(
        "doc_id", F.explode(span_positions(F.col("t"), n)).alias("s")
    )
    return sp.join(span_set.select("s"), "s").select("doc_id", "s")


def streaming_assign_centroids(
    vecs: DataFrame, centroids: DataFrame, *, round_digits: int = 6
) -> DataFrame:
    """Stream-time IVF index routing: assign each incoming vector to its
    nearest centroid — the ingest half of index maintenance (new vectors
    route to their bucket/shard as they arrive).

    ``centroids`` is a BATCH frame (cid, cnrm, c0..c{dim-1}) — bounded
    by construction (that is the IVF contract), so it is collected once
    and inlined as literal expressions: a stateless per-row argmax needs
    no crossJoin, no groupBy, no state, which is exactly what a
    streaming map stage wants (the batch path's partial-agg ``max_by``
    needs an aggregation that streaming would have to hold as state).
    Ties break (cos DESC, cid ASC) — identical to the batch
    :func:`..operators.similarity.assign_nearest_centroid`, and the
    batch form of this function returns identical rows (tested).

    Inline-expression size: k·dim literal terms.  Building the operator
    over 512 centroids at dim 64 took 9.8–10.2 s (local[1], 4g driver
    heap, 4-core VM; 25.6–33.4 s while the vector norm was inlined into
    every centroid's term).  Past a few hundred centroids, route through
    the batch path per micro-batch (foreachBatch) instead.  The terms
    are SQL text from functions/vectors.py, parsed in one call.  Output:
    (vec_id, cid, cos_c).
    """
    rows = centroids.collect()
    dim = len([c for c in centroids.columns if c.startswith("c") and c[1:].isdigit()])
    v = elements_sql(EMB_SQL, dim)
    scored = []
    for r in rows:
        cos = rounded_cosine_sql(
            lit_dot_sql(v, [r[f"c{j}"] for j in range(dim)]),
            "__nrm",
            lit_sql(r["cnrm"]),
            round_digits,
        )
        cid = int(r["cid"])
        scored.append(
            f"struct({cos} AS cos_c, CAST({-cid} AS BIGINT) AS neg_cid,"
            f" CAST({cid} AS BIGINT) AS cid)"
        )
    # The vector norm and the winning struct are projected once and
    # referenced, not inlined into every centroid's term.
    return (
        vecs.selectExpr("vec_id", "embedding", f"{norm_sql(v)} AS __nrm")
        .selectExpr("vec_id", f"array_max(array({', '.join(scored)})) AS __b")
        .select("vec_id", "__b.cid", "__b.cos_c")
    )


def streaming_pq_encode(
    vecs: DataFrame, codebook: DataFrame, *, round_digits: int = 6
) -> DataFrame:
    """Stream-time PQ encoding: compress each incoming vector to its
    ``n_sub`` codeword ids — the other ingest half of index maintenance
    (pair with :func:`streaming_assign_centroids` for the full streaming
    IVF-PQ ingest: route to bucket + encode to codes as vectors arrive).

    ``codebook`` is a BATCH frame from ``similarity.pq_codebooks``
    ((m, code, cnrm, cw0..cw{w-1})) — bounded by construction, so it is
    collected once and inlined as literal expressions: the per-subspace
    argmin becomes a stateless codegen'd ``array_min`` over
    (dist, code) structs — no crossJoin, no aggregation, no state.
    Distance is the identical rounded normalized-space L2² the batch
    :func:`..operators.similarity.pq_encode` computes, with the same
    left-associated term order (codeword self-products fold driver-side
    in the same IEEE sequence), so the emitted rows are bit-identical
    to the batch encoder (tested stream==batch).  Ties break
    (dist ASC, code ASC) via struct ordering — same as the batch
    ``min_by``.

    Inline-expression size: |codebook|·w literal terms.  Building the
    operator over 8 subspaces × 64 codewords at dim 64 took 3.7–3.9 s
    (local[1], 4g driver heap, 4-core VM; 25.0–27.6 s while the vector
    norm was inlined three times and the subvector self-product once
    into every codeword's distance), but running it on 20 vectors still
    exhausted that heap.  At that size, encode through the batch path
    per micro-batch (foreachBatch).  The terms are SQL text from
    functions/vectors.py, parsed in one call.  Output: (vec_id, m,
    code).
    """
    rows = codebook.collect()
    w = len([c for c in codebook.columns if c.startswith("cw") and c[2:].isdigit()])
    by_m: dict[int, list] = {}
    for r in rows:
        by_m.setdefault(int(r["m"]), []).append(r)
    n_sub = len(by_m)

    v = elements_sql(EMB_SQL, n_sub * w)
    subs = {m: v[m * w:(m + 1) * w] for m in sorted(by_m)}
    per_m = []
    for m, x in subs.items():
        cands = []
        for r in sorted(by_m[m], key=lambda r: int(r["code"])):
            cw = [float(r[f"cw{j}"]) for j in range(w)]
            cnrm = lit_sql(r["cnrm"])
            # codeword self-product folds driver-side in the same
            # left-associated IEEE order as the batch expression
            csub_sq = cw[0] * cw[0]
            for j in range(1, w):
                csub_sq += cw[j] * cw[j]
            dist = pq_dist_sql(
                f"__sq{m}", lit_sql(csub_sq), lit_dot_sql(x, cw), "__nrm",
                cnrm, round_digits,
            )
            code = int(r["code"])
            cands.append(f"struct({dist} AS dist, CAST({code} AS BIGINT) AS code)")
        per_m.append(
            f"struct(CAST({m} AS INT) AS m,"
            f" (array_min(array({', '.join(cands)}))).code AS code)"
        )
    # The vector norm and each subvector's self-product are projected
    # once and referenced, not inlined into every codeword's distance.
    return (
        vecs.selectExpr(
            "vec_id",
            "embedding",
            f"{norm_sql(v)} AS __nrm",
            *[f"{dot_sql(x, x)} AS __sq{m}" for m, x in subs.items()],
        )
        .selectExpr("vec_id", f"explode(array({', '.join(per_m)})) AS __e")
        .select("vec_id", "__e.m", "__e.code")
    )


FUNNEL_STATE_SCHEMA = "t1 long, t2 long, t3 long"
FUNNEL_OUTPUT_SCHEMA = (
    "user_id long, t1_us long, t2_us long, t3_us long, reached_stage int"
)
_FUNNEL_STAGES = ("signup", "view", "purchase")


def _funnel_fn(
    key: tuple,
    pdf_iter: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-user funnel state machine: first signup, first view strictly
    after it, first purchase strictly after that.  State is three
    epoch-micros longs (-1 = not reached).  applyInPandasWithState
    delivers a group as an ITERATOR of Arrow chunks (bounded by
    spark.sql.execution.arrow.maxRecordsPerBatch), so the batch's
    events are accumulated across ALL chunks first and sorted once —
    a per-chunk sort would let a later chunk's earlier event be
    processed after an earlier chunk's later one and under-advance the
    machine (multi-chunk groups are covered by a dedicated test).
    With per-user time-ordered arrival across micro-batches the result
    matches the batch events_funnel query exactly (stream==batch
    tested).  Out-of-order arrival ACROSS micro-batches can only
    UNDER-advance (an earlier qualifying event seen late is ignored) —
    the standard caveat for non-replaying stateful streams."""
    t1, t2, t3 = state.get if state.exists else (-1, -1, -1)
    batch_events: list[tuple[int, str]] = []
    for pdf in pdf_iter:
        batch_events.extend(
            zip(pdf["ts_us"].tolist(), pdf["event_type"].tolist())
        )
    for ts_us, et in sorted(batch_events):
        us = int(ts_us)
        if et == _FUNNEL_STAGES[0] and t1 < 0:
            t1 = us
        elif et == _FUNNEL_STAGES[1] and 0 <= t1 < us and t2 < 0:
            t2 = us
        elif et == _FUNNEL_STAGES[2] and 0 <= t2 < us and t3 < 0:
            t3 = us
    state.update((t1, t2, t3))
    if t1 >= 0:
        yield pd.DataFrame(
            [
                {
                    "user_id": key[0],
                    "t1_us": t1,
                    "t2_us": t2 if t2 >= 0 else None,
                    "t3_us": t3 if t3 >= 0 else None,
                    "reached_stage": 1 + (t2 >= 0) + (t3 >= 0),
                }
            ]
        )


def streaming_funnel(events: DataFrame) -> DataFrame:
    """Streaming conversion funnel via applyInPandasWithState — the
    custom-stateful form of plans/extras.events_funnel (three longs of
    state per user, updated incrementally; the batch form re-aggregates
    the full history).

    ``events`` needs (user_id, event_type, ts); use with update output
    mode.  Scale: state is O(users) × 24 bytes — far below the windowed
    aggs' state — and each micro-batch touches only the arriving users'
    groups.
    """
    prepared = events.select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        _funnel_fn,
        outputStructType=FUNNEL_OUTPUT_SCHEMA,
        stateStructType=FUNNEL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_near_dup_flags(
    docs: DataFrame,
    index_docs: DataFrame,
    *,
    shingle_n: int = 3,
    num_hashes: int = 8,
    num_bands: int = 4,
    text_col: str = "text",
) -> DataFrame:
    """Ingest-time near-dup candidate flagging against a STATIC corpus
    index: each arriving document is MinHash-signed and its LSH band
    keys probe the already-ingested corpus's band index — the streaming
    half of incremental dedup (flag at ingest, verify/cluster in the
    batch layer).

    Same stream-static shape as :func:`streaming_decontaminate`:
    signature + banding are pure per-row higher-order column
    expressions (stateless, streaming-safe); the static band index is
    bounded by the indexed corpus and re-planned per micro-batch
    (Catalyst broadcasts it when small).  Emits one (doc_id,
    index_doc_id, bkey) row per band collision in append mode —
    candidates, not verified pairs, exactly like the batch LSH
    candidate stage; Jaccard verification stays batch-side.

    Batch/streaming duality: on a batch ``docs`` this equals the plain
    band-equality join (stream==batch tested).
    """
    from ..functions.hashing import (
        lsh_band_keys,
        minhash_signature,
        shingles_from_tokens,
        tokens,
    )

    rpb = num_hashes // num_bands

    def band_rows(df: DataFrame, id_alias: str) -> DataFrame:
        s = df.select(
            F.col("doc_id").alias(id_alias), tokens(text_col).alias("t")
        ).select(
            id_alias, shingles_from_tokens(F.col("t"), shingle_n).alias("sh")
        ).select(
            id_alias, minhash_signature(F.col("sh"), num_hashes).alias("sig")
        )
        return s.select(
            id_alias,
            F.explode(lsh_band_keys(F.col("sig"), num_bands, rpb)).alias("bkey"),
        )

    idx = band_rows(index_docs, "index_doc_id").distinct()
    return band_rows(docs, "doc_id").join(idx, "bkey").select(
        "doc_id", "index_doc_id", "bkey"
    )


def streaming_substring_flags(
    docs: DataFrame,
    index_docs: DataFrame | None = None,
    *,
    index: DataFrame | None = None,
    k: int = 20,
    max_gram_occ: int = 200,
    text_col: str = "text",
) -> DataFrame:
    """Ingest-time EXACT-substring overlap flagging against a STATIC
    corpus: each arriving document's length-``k`` token grams probe the
    already-ingested corpus's gram index — the streaming half of
    arbitrary-boundary substring dedup
    (operators/dedup.substring_run_pairs), same discovery-vs-monitoring
    split as :func:`streaming_near_dup_flags`: flag gram collisions at
    ingest, stitch maximal runs in the batch layer (island detection is
    a window over unbounded keys — not an append-mode streaming shape).

    The STREAM side's grams are pure per-row higher-order expressions
    (``transform`` over a ``sequence`` of positions — stateless,
    streaming-safe; the batch operator's faster lead-window form is NOT
    legal on a stream, and a micro-batch's volume amortizes the
    interpreted path); gram strings and md5 keys are IDENTICAL to the
    batch operator's, so a collision here is exactly a batch candidate.

    The static side comes in two forms:

    * ``index_docs`` — raw indexed documents, grammed + occurrence-
      capped INLINE (the cap computed where corpus-wide counts exist,
      on the index).  Convenient, but the whole chain re-plans and
      re-executes per micro-batch trigger — fine at sandbox scale,
      wrong at 100 TB.
    * ``index`` — a MATERIALIZED gram index
      (operators/dedup.substring_gram_index: (index_doc_id, index_pos,
      g), cap already applied at build time), typically read back from
      a versioned parquet path.  This is the production deployment:
      build once at ingest, probe a bounded artifact per trigger, and
      refresh by the versioned-swap restart contract
      (:func:`streaming_phash_flags` — zero streaming state, so a
      restart against the new version replays nothing and loses
      nothing; tested in
      tests/test_streaming.py::test_streaming_substring_index_version_swap).
      ``max_gram_occ`` is baked into the artifact; the parameter is
      ignored on this path.

    Exactly one of the two must be provided.

    Emits (doc_id, pos, index_doc_id, index_pos) per gram collision in
    append mode — positional evidence; the PRODUCT stitcher
    (``operators/dedup.stitch_flag_runs``) resumes diagonal islands
    directly from the flagged rows and returns the batch miner's run
    schema (equivalence pytest-pinned, both id orientations).

    Batch/streaming duality: on a batch ``docs`` frame this equals the
    plain gram-equality join (stream==batch tested).
    """

    def gram_rows(
        df: DataFrame, id_alias: str, pos_alias: str
    ) -> DataFrame:
        base = df.filter(F.col(text_col).isNotNull()).select(
            F.col("doc_id").alias(id_alias),
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+").alias("__t"),
        )
        return (
            base.select(
                id_alias,
                F.expr(
                    f"CASE WHEN size(__t) >= {k} THEN"
                    f" transform(sequence(0, size(__t) - {k}), p ->"
                    f" struct(p AS pos,"
                    f" md5(cast(array_join(slice(__t, p + 1, {k}), ' ')"
                    f" as binary)) AS g))"
                    f" ELSE cast(array() as array<struct<pos:int,g:string>>)"
                    f" END"
                ).alias("gs"),
            )
            .select(id_alias, F.explode("gs").alias("e"))
            .select(
                id_alias,
                F.col("e.pos").cast("long").alias(pos_alias),
                F.col("e.g").alias("g"),
            )
        )

    if (index_docs is None) == (index is None):
        raise ValueError(
            "provide exactly one of index_docs (inline gramming) or "
            "index (materialized substring_gram_index frame)"
        )
    if index is not None:
        idx = index.select("index_doc_id", "index_pos", "g")
    else:
        idx = gram_rows(index_docs, "index_doc_id", "index_pos")
        common = (
            idx.groupBy("g")
            .agg(F.count("*").alias("__occ"))
            .filter(F.col("__occ") <= max_gram_occ)
            .select("g")
        )
        idx = idx.join(common, "g", "left_semi")
    return (
        gram_rows(docs, "doc_id", "pos")
        .join(idx, "g")
        # A document re-ingested with an id already in the index (an
        # UPDATE, or a replayed micro-batch) would otherwise flag every
        # one of its own grams against itself — and substring grams fan
        # out FAR more rows per self-match than the LSH probe's band
        # keys, so the self-pair drop lives at the source rather than
        # being delegated to consumers (ADVICE r14; the
        # streaming_phash_flags convention).
        .filter(F.col("doc_id") != F.col("index_doc_id"))
        .select("doc_id", "pos", "index_doc_id", "index_pos")
    )


def streaming_self_repeat_flags(
    docs: DataFrame,
    *,
    k: int = 20,
    min_tokens: int | None = None,
    max_gram_occ: int = 200,
    text_col: str = "text",
) -> DataFrame:
    """Ingest-time INTRA-document repeated-substring flagging — the
    streaming dual of ``operators/dedup.substring_self_run_pairs``:
    a document that verbatim-repeats its own >= ``min_tokens``-token
    span (duplicated paragraph, generation loop) is flagged AT INGEST,
    with the same (a_start, b_start, match_tokens) evidence the batch
    miner emits.  Self-runs are a pure function of ONE document's own
    tokens — no corpus, no index, no state — so unlike the cross-
    document probe (:func:`streaming_substring_flags`, which needs the
    materialized gram index) this dual is a stateless per-row map:
    Arrow-batched whole-batch ``mapInPandas`` (the blockhash
    convention), append mode, no watermark, zero streaming state, and
    trivially correct under restart.

    Per document the scan is the batch miner's algorithm localized and
    VECTORIZED (r16, VERDICT r15 #4 — the previous form hashed a
    Python tuple per token position): token ids via ``pd.factorize``
    (one C-level hash pass), a polynomial rolling hash over all
    length-``k`` id windows as k fused numpy multiply-adds (uint64
    wraparound — B odd so positions stay distinguishable), one stable
    argsort to bucket equal hashes, and EXACT window-content
    sub-grouping inside each (tiny) matched bucket — the hash only
    partitions work, it never decides equality, so grouping remains
    exact-tuple-strength (strictly stronger than the batch md5
    fingerprint) and the measured A/B is ~3.7× single-thread
    (SCALING.md).  Pair fan-out and diagonal-island stitching are
    numpy (triu indices per matched gram group, lexsort + boundary
    scan), with the occurrence bound capping the quadratic blowup on
    degenerate (periodic) documents exactly as the batch cap does.
    CAP SEMANTICS DIFFER BY SCOPE, stated honestly: the batch miner's
    ``max_gram_occ`` is CORPUS-wide (computed where corpus counts
    exist), this dual's is within-document (the only scope a stateless
    map has) — identical whenever the corpus-wide cap is not binding,
    which the stream==batch pytest pins (batch side at a non-binding
    cap).

    Tokenization replays ``functions.hashing.tokens`` faithfully to
    the JVM (ADVICE r15): lower → trim of SPACES only (Spark ``trim``
    strips ' ', not tab/newline) → split on runs of JAVA's ``\\s``
    class ``[ \\t\\n\\x0B\\f\\r]`` — Python's Unicode-aware ``\\s``
    would also split on U+00A0/U+2028 etc. where Spark's Java regex
    does not.  Residual divergence surface, documented: ``str.lower()``
    vs UTF8String lowercasing can differ on locale-sensitive non-ASCII
    case mappings (e.g. dotted-İ decompositions across ICU versions);
    ASCII corpora — and the pinned duals — are unaffected.

    Output: (doc_id, a_start, b_start, match_tokens) per maximal
    intra-document run, ``a_start < b_start``.
    """
    import re as _re

    if min_tokens is None:
        min_tokens = k
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    if min_tokens < k:
        raise ValueError(
            f"min_tokens ({min_tokens}) must be >= k ({k}): runs are "
            "built from length-k grams, so shorter overlaps are invisible"
        )
    if max_gram_occ < 2:
        raise ValueError(f"max_gram_occ must be >= 2, got {max_gram_occ}")

    out_schema = (
        "doc_id long, a_start long, b_start long, match_tokens long"
    )
    # Java \s — NOT Python \s (which is Unicode-aware)
    java_ws = _re.compile("[ \\t\\n\\x0b\\f\\r]+")

    def scan(batches):
        import numpy as np
        import pandas as pd

        B = np.uint64(0x9E3779B97F4A7C15)  # odd → invertible mod 2^64

        def doc_runs(t: list) -> list:
            n = len(t)
            if n < k:
                return []
            codes, _ = pd.factorize(np.asarray(t, dtype=object))
            # +1 so no id multiplies to 0 at any hash position
            ids = codes.astype(np.uint64) + np.uint64(1)
            nw = n - k + 1
            with np.errstate(over="ignore"):
                h = np.zeros(nw, dtype=np.uint64)
                bp = np.uint64(1)
                for i in range(k - 1, -1, -1):
                    h += ids[i : i + nw] * bp
                    bp = bp * B
            order = np.argsort(h, kind="stable")
            hs = h[order]
            neq = np.empty(nw, dtype=bool)
            neq[0] = True
            if nw > 1:
                neq[1:] = hs[1:] != hs[:-1]
            starts = np.flatnonzero(neq)
            ends = np.r_[starts[1:], nw]
            matched = np.flatnonzero((ends - starts) >= 2)
            if len(matched) == 0:
                return []
            w = np.lib.stride_tricks.sliding_window_view(ids, k)
            ds, pas = [], []
            for gi in matched:
                # positions ascend: argsort is stable on equal hashes
                ps = order[starts[gi] : ends[gi]]
                # EXACT refinement of the hash bucket by true window
                # content; buckets are tiny and collisions essentially
                # never occur, so this costs nothing and keeps the
                # equality decision hash-free
                sub: dict = {}
                for p in ps.tolist():
                    sub.setdefault(w[p].tobytes(), []).append(p)
                for g in sub.values():
                    if 2 <= len(g) <= max_gram_occ:
                        gp = np.asarray(g)
                        i, j = np.triu_indices(len(gp), 1)
                        ds.append(gp[j] - gp[i])
                        pas.append(gp[i])
            if not ds:
                return []
            d = np.concatenate(ds)
            pa = np.concatenate(pas)
            o = np.lexsort((pa, d))
            d, pa = d[o], pa[o]
            new = np.empty(len(o), dtype=bool)
            new[0] = True
            if len(o) > 1:
                new[1:] = (d[1:] != d[:-1]) | (pa[1:] != pa[:-1] + 1)
            rs = np.flatnonzero(new)
            re_ = np.r_[rs[1:], len(o)] - 1
            m = pa[re_] - pa[rs] + k
            keep = m >= min_tokens
            return [
                (int(s), int(s + dd), int(mm))
                for s, dd, mm in zip(
                    pa[rs][keep], d[rs][keep], m[keep]
                )
            ]

        for pdf in batches:
            rows: list[tuple] = []
            for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
                if text is None or (
                    isinstance(text, float) and pd.isna(text)
                ):
                    continue
                # replay tokens(): lower → trim SPACES only → split on
                # Java \s runs (see docstring)
                t = java_ws.split(str(text).lower().strip(" "))
                for a_s, b_s, mt in doc_runs(t):
                    rows.append((int(doc_id), a_s, b_s, mt))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "a_start", "b_start", "match_tokens"],
            )

    return docs.select("doc_id", text_col).mapInPandas(scan, out_schema)


def streaming_anomaly_flags(
    events: DataFrame,
    baseline_events: DataFrame,
    *,
    tau2: int = 4,
) -> DataFrame:
    """Stream-STATIC anomaly flagging: incoming events whose value sits
    more than τ population std-devs from their (user, event_type)
    group's HISTORICAL distribution — the ingest-time monitor dual of
    the batch ``events_anomaly_outliers`` query.

    The baseline side aggregates the static history once per microbatch
    plan (bounded: one row per (user, type) — Catalyst broadcasts);
    the stream side is a stateless equi-join + the same
    division-free integer gate (n·x − S)² > τ²·(n·Q − S²) in
    decimal(38,0).  Semantic difference vs the batch query, by design:
    the flagged event is scored against the history EXCLUDING itself
    (it isn't part of the static baseline), which is exactly what an
    ingest-time monitor wants.  Stateless append — no watermark; keys
    absent from the baseline pass through unflagged (inner join drops
    them; a production deploy may prefer left-anti routing for
    never-seen keys).

    Batch/streaming duality: on a batch ``events`` frame this computes
    the same rows (tests assert stream==batch).
    """
    dec = "decimal(38,0)"
    base = (
        baseline_events.select(
            "user_id",
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("b_cents"),
        )
        .groupBy("user_id", "event_type")
        .agg(
            F.count("*").alias("grp_n"),
            F.sum("b_cents").alias("s_v"),
            F.sum(F.col("b_cents") * F.col("b_cents")).alias("q_v"),
        )
    )
    ev = events.select(
        "event_id",
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("v_cents"),
    )
    dev = F.col("grp_n").cast(dec) * F.col("v_cents").cast(dec) - F.col(
        "s_v"
    ).cast(dec)
    spread = F.col("grp_n").cast(dec) * F.col("q_v").cast(dec) - F.col(
        "s_v"
    ).cast(dec) * F.col("s_v").cast(dec)
    return (
        ev.join(base, ["user_id", "event_type"])
        .filter(dev * dev > F.lit(tau2).cast(dec) * spread)
        .select("event_id", "user_id", "event_type", "v_cents", "grp_n")
    )


def streaming_mad_flags(
    events: DataFrame,
    baseline_events: DataFrame,
    *,
    k: int = 5,
) -> DataFrame:
    """Stream-STATIC robust (MAD) outlier flagging: incoming events
    whose cents-quantized value deviates from their event_type's
    HISTORICAL lower-median by more than ``k`` × the historical
    lower-MAD — the ingest-time monitor dual of the batch
    ``events_mad_outliers`` query (operators/profiling.mad_outliers),
    and the robust sibling of :func:`streaming_anomaly_flags`: a wild
    value in the HISTORY shifts a mean and inflates a stddev (masking
    later outliers), but moves the baseline median/MAD not at all.

    Discovery-vs-monitoring split (the cms_watchlist / value_drift
    shape): exact medians are order statistics — inherently batch —
    so the per-type (median, MAD) reference frame is computed on the
    STATIC history via the batch operator itself (same lower-median /
    lower-MAD / strict-gate contract, so the thresholds replay
    bit-for-bit), re-planned once per micro-batch and BROADCAST (one
    row per event_type, bounded by the type vocabulary); the stream
    side is a stateless equi-join + one integer comparison per row —
    no state, no watermark, append mode.  Keys absent from the
    baseline pass through unflagged (inner join drops them), and the
    flagged event is scored against history EXCLUDING itself — both
    semantics shared with :func:`streaming_anomaly_flags`, and exactly
    what an ingest-time monitor wants.  Degenerate history (> half the
    type's values identical) gives MAD = 0, so every off-median value
    flags — the batch operator's documented strict-gate behavior.

    Batch/streaming duality: on a batch ``events`` frame this computes
    the same rows (tests assert stream==batch, and that the window
    machinery on the STATIC side of the stream-static join survives
    the streaming planner).

    Output: (event_id, event_type, v_cents, med, mad), one row per
    flagged event.
    """
    from ..operators.profiling import mad_outliers

    ref = mad_outliers(
        baseline_events.select(
            "event_type",
            "event_id",
            F.round(F.col("value") * 100).cast("long").alias("v_cents"),
        ),
        value_col="v_cents",
        group_col="event_type",
        id_col="event_id",
        k=k,
    ).select("event_type", "med", "mad")
    ev = events.select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("v_cents"),
    )
    return (
        ev.join(F.broadcast(ref), "event_type")
        .filter(
            F.abs(F.col("v_cents") - F.col("med"))
            > F.lit(int(k)) * F.col("mad")
        )
        .select("event_id", "event_type", "v_cents", "med", "mad")
    )


def streaming_latest_state(events: DataFrame) -> DataFrame:
    """Streaming CDC compaction: the per-user latest event as a
    continuously-maintained aggregate — ``max_by`` over the total order
    (ts, event_id), the streaming dual of the batch
    ``events_latest_state`` query.

    A plain streaming aggregation (no watermark: state is one row per
    user — bounded by the KEY population, not by time, which is exactly
    the contract of a current-state table).  Run in update mode against
    a keyed sink (or complete mode for full-table sinks); each arriving
    event can only advance its user's (ts, event_id) maximum, so late
    data folds in correctly without event-time bookkeeping.
    """
    e = events.select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("v_cents"),
    )
    best = F.max_by(
        F.struct("event_id", "event_type", "v_cents"),
        F.struct("ts", "event_id"),
    )
    return (
        e.groupBy("user_id")
        .agg(best.alias("last"), F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("last.event_id").alias("last_event_id"),
            F.col("last.event_type").alias("last_event_type"),
            F.col("last.v_cents").alias("last_v_cents"),
            "n_events",
        )
    )


def windowed_value_histogram(
    events: DataFrame,
    *,
    watermark: str = "1 hour",
    win: str = "1 hour",
    lo_cents: int = 0,
    width_cents: int = 2_000,
    n_buckets: int = 30,
) -> DataFrame:
    """Streaming dual of ``events_value_histogram``: per event-time
    window × type × value-bucket counts under a watermark — the live
    distribution monitor (drift alarms diff consecutive windows'
    histograms downstream).

    The bucket id is the same closed-form integer expression as the
    batch query (clamp((v − lo) div w, 0, n−1) on exact cents), so a
    closed window's rows equal the batch histogram of its slice.  State
    = windows-in-delay × types × ≤n_buckets rows — bounded and evicted
    by the watermark.
    """
    e = events.withWatermark("ts", watermark).select(
        "ts",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    bucket = F.least(
        F.greatest(
            F.expr(f"(v - {lo_cents}) div {width_cents}"),
            F.lit(0).cast("long"),
        ),
        F.lit(n_buckets - 1).cast("long"),
    )
    return (
        e.groupBy(
            F.window("ts", win).alias("w"),
            "event_type",
            bucket.alias("bucket"),
        )
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("win_start"),
            "event_type",
            "bucket",
            "n",
        )
    )


def windowed_distinct_users(
    events: DataFrame,
    *,
    watermark: str = "1 hour",
    win: str = "1 hour",
    lgk: int = 12,
) -> DataFrame:
    """Streaming HLL distinct-users monitor — sketch mergeability in the
    streaming plane (the live counterpart of the batch two-level
    ``events_sketch_reaggregate``): per event-time window × type, emit
    the DataSketches HLL sketch BYTES alongside its estimate and the
    window's row count.

    Emitting the sketch, not just the number, is the point: closed
    windows' sketches union downstream (``hll_union_agg``) into
    per-day / per-type-group / global distinct counts WITHOUT
    re-reading the stream — the same leaf-sketch contract the batch
    rollup cube relies on, now produced incrementally at ingest.

    State: windows-in-delay × types × one HLL sketch (≤ 2^lgk
    registers, KBs at lgk=12) — bounded, watermark-evicted, and
    independent of per-window event volume (the property that makes
    the monitor viable on an unbounded stream where a distinct-set
    state would grow with cardinality).
    """
    e = events.withWatermark("ts", watermark).select(
        "ts", "event_type", "user_id"
    )
    return (
        e.groupBy(F.window("ts", win).alias("w"), "event_type")
        .agg(
            F.hll_sketch_agg("user_id", F.lit(lgk)).alias("sketch"),
            F.count("*").alias("n_events"),
        )
        .select(
            F.col("w.start").alias("win_start"),
            "event_type",
            F.hll_sketch_estimate("sketch").alias("approx_users"),
            "sketch",
            "n_events",
        )
    )


def windowed_cms_grid(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    watermark: str = "1 hour",
    win: str = "1 hour",
    depth: int | None = None,
    width: int | None = None,
) -> DataFrame:
    """Streaming Count-Min frequency monitor — the CMS member of the
    streaming sketch plane next to the HLL distinct monitor
    (:func:`windowed_distinct_users`): per event-time window, emit the
    window's CMS GRID rows (win_start, seed, bucket, cnt).

    Emitting the grid, not per-key estimates, is the point (the same
    leaf-sketch contract as the HLL monitor's sketch bytes): closed
    windows' grids merge downstream by cell-wise SUM
    (operators/sketches.cms_merge) into per-day / global frequency
    sketches WITHOUT re-reading the stream, and any key can be point-
    queried later against any merged rollup (cms_estimate).

    State: windows-in-delay × depth·width exact int64 cells — bounded,
    watermark-evicted, and INDEPENDENT of both event volume and key
    cardinality (a per-key count state would grow with the key domain;
    the grid never does).  The aggregation is one partial-aggregable
    count keyed on (window, seed, bucket), so hot keys combine
    map-side like any count.

    Batch dual under the full oracle gate: plans/extras.py
    events_cms_window_monitor (same operator body on the bounded
    table); stream==batch asserted in tests/test_streaming.py.
    """
    from ..operators import sketches

    d = sketches.CMS_DEPTH if depth is None else depth
    w = sketches.CMS_WIDTH if width is None else width
    e = events.withWatermark("ts", watermark).select("ts", key_col)
    cells = sketches.cms_cells(e, key_col, depth=d, width=w, keep=("ts",))
    return (
        cells.groupBy(F.window("ts", win).alias("w"), "seed", "bucket")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("w.start").alias("win_start"), "seed", "bucket", "cnt"
        )
    )


def streaming_quality_flags(
    docs: DataFrame,
    *,
    text_col: str = "text",
    w_quality: int = 60,
    w_nonrep: int = 40,
    threshold_e6: int = 500_000,
) -> DataFrame:
    """Ingest-time document-quality gate — the streaming composition of
    the linear quality scorer (operators/curation.quality_linear_score):
    each arriving document is scored and flagged STATELESSLY, so
    low-quality text is gated before it ever lands in the corpus.

    Two of the scorer's three signals survive the stateless constraint
    as pure per-row expressions:

    - ``quality_e6`` — the same narrow text_stats map (already per-row).
    - ``rep_bigram_e6`` — within-doc repetition via a per-row HOF over
      the bigram list (quadratic per document — the streaming-safe dual
      of the batch plan's linear explode+groupBy, the same trade the
      decontaminate shingler makes; per-row equality with the batch
      repetition_stats operator is pytest-asserted).

    The corpus-LM signal inherently needs corpus-level bigram
    statistics and stays a batch refinement — the streaming blend
    reweights to ``w_quality``/``w_nonrep`` (must sum to 100) over the
    two live signals, with the same integer ``div`` arithmetic as the
    batch scorer.

    Output: (doc_id, quality_e6, rep_bigram_e6, score_e6, keep).
    Scale shape: one codegen'd map, zero shuffle, zero state — the gate
    runs at any ingest rate; the HOF cost is O(tokens²) per doc, so cap
    document length upstream (chunk first) for adversarial inputs.
    """
    from ..functions.hashing import tokens
    from ..operators.text import text_stats

    if w_quality + w_nonrep != 100:
        raise ValueError("streaming_quality_flags: weights must sum to 100")
    s = text_stats(
        docs.select("doc_id", text_col), text_col=text_col, carry=(text_col,)
    )
    t = tokens(text_col)
    bg = F.when(
        F.size(t) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.concat_ws(" ", F.slice(t, i, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # Materialize the bigram list into a named column FIRST so the
    # counting HOF below folds over a column reference, not a nested
    # re-derivation of the list per element (the HOF re-evaluation trap
    # — see functions/hashing.py).
    based = s.select("doc_id", "quality_e6", bg.alias("__bg"))
    bgc = F.col("__bg")
    # bigram instances whose bigram occurs >= 2 times in this document
    rep_cnt = F.aggregate(
        bgc,
        F.lit(0),
        lambda acc, x: acc
        + F.when(
            F.size(F.filter(bgc, lambda y: y == x)) >= 2, F.lit(1)
        ).otherwise(F.lit(0)),
    )
    with_rep = based.select(
        "doc_id",
        "quality_e6",
        F.size(bgc).cast("long").alias("__nbg"),
        rep_cnt.cast("long").alias("__rep"),
    ).select(
        "doc_id",
        "quality_e6",
        F.when(
            F.col("__nbg") > 0,
            F.expr("(__rep * 1000000L) div __nbg"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("rep_bigram_e6"),
    )
    score = F.expr(
        f"({w_quality} * quality_e6"
        f" + {w_nonrep} * (1000000L - rep_bigram_e6)) div 100"
    )
    return with_rep.select(
        "doc_id",
        "quality_e6",
        "rep_bigram_e6",
        score.alias("score_e6"),
        (score >= F.lit(threshold_e6)).alias("keep"),
    )


def windowed_value_drift(
    events: DataFrame,
    edges: list[int],
    ref_props_e6: list[int],
    *,
    watermark: str = "1 hour",
    win: str = "1 hour",
    threshold_e6: int = 2_000,
) -> DataFrame:
    """Streaming value-distribution drift monitor — the live dual of the
    batch ``events_value_drift_bins`` gate: each event-time window's
    values bin against the REFERENCE deciles (``edges``: the 9 cents
    boundaries a batch profile of the blessed snapshot produced) and
    every bin's probability mass compares against the reference
    proportions (``ref_props_e6``: 10 e6-unit values from the same
    profile) through the engine's ln-free chi-square term
    (p_ref − p_win)² div (p_ref + p_win).

    Reference edges and proportions ride as LITERALS — bounded metadata
    a profile job refreshes offline, exactly how a production drift
    monitor deploys (the reference is versioned config, not a stream
    join) — so the only stateful operator is ONE windowed conditional
    aggregation: 11 longs per window (10 bin counts + total), volume-
    and cardinality-independent, watermark-evicted.  The long-form
    explode back to (window × bin) rows is stateless projection after
    the aggregate.

    Output (append on window close): (win_start, bin, lo_cents,
    hi_cents, n, p_e6, ref_p_e6, chi2_term_e6, drifted).
    """
    if len(edges) != 9 or len(ref_props_e6) != 10:
        raise ValueError(
            f"expected 9 edges + 10 reference proportions, got "
            f"{len(edges)}/{len(ref_props_e6)}"
        )
    v = F.round(F.col("value") * 100).cast("long")
    bin_expr = F.lit(1)
    for ek in edges:
        bin_expr = bin_expr + F.when(v > F.lit(ek), 1).otherwise(0)
    e = events.withWatermark("ts", watermark).select(
        "ts", bin_expr.alias("bin")
    )
    agg = e.groupBy(F.window("ts", win).alias("w")).agg(
        F.count("*").alias("n_total"),
        *[
            F.count(F.when(F.col("bin") == b, 1)).alias(f"n{b}")
            for b in range(1, 11)
        ],
    )
    lo = [None] + list(edges)  # lo[bin-1]
    hi = list(edges) + [None]
    per_bin = F.array(
        *[
            F.struct(
                F.lit(b).cast("long").alias("bin"),
                F.lit(lo[b - 1]).cast("long").alias("lo_cents"),
                F.lit(hi[b - 1]).cast("long").alias("hi_cents"),
                F.col(f"n{b}").cast("long").alias("n"),
                F.expr(f"(n{b} * 1000000L) div n_total")
                .cast("long")
                .alias("p_e6"),
                F.lit(ref_props_e6[b - 1]).cast("long").alias("ref_p_e6"),
            )
            for b in range(1, 11)
        ]
    )
    chi = F.expr(
        "CASE WHEN b.ref_p_e6 + b.p_e6 > 0"
        " THEN ((b.ref_p_e6 - b.p_e6) * (b.ref_p_e6 - b.p_e6))"
        "      div (b.ref_p_e6 + b.p_e6)"
        " ELSE 0 END"
    )
    return (
        agg.select(
            F.col("w.start").alias("win_start"),
            F.explode(per_bin).alias("b"),
        )
        .select(
            "win_start",
            F.col("b.bin").alias("bin"),
            F.col("b.lo_cents").alias("lo_cents"),
            F.col("b.hi_cents").alias("hi_cents"),
            F.col("b.n").alias("n"),
            F.col("b.p_e6").alias("p_e6"),
            F.col("b.ref_p_e6").alias("ref_p_e6"),
            chi.cast("long").alias("chi2_term_e6"),
            (chi > threshold_e6).alias("drifted"),
        )
    )


def windowed_cms_watchlist(
    events: DataFrame,
    watch: DataFrame,
    *,
    key_col: str = "user_id",
    watermark: str = "1 hour",
    win: str = "1 hour",
    phi_permille: int = 50,
    depth: int | None = None,
    width: int | None = None,
) -> DataFrame:
    """Streaming heavy-hitter WATCHLIST monitor — the live composition
    of the CMS grid (:func:`windowed_cms_grid`) with the probe the
    batch ``events_cms_heavy_hitters`` runs offline: per closed
    event-time window, each key of a bounded static ``watch`` frame is
    point-queried against that window's Count-Min grid and flagged
    when its estimate clears φ‰ of the window's volume.

    The production split this encodes: heavy-hitter DISCOVERY over
    unknown keys is the batch job's business (its candidate set is
    bounded by 1/(φ−1/width), but assembling it needs the distinct-key
    frame — unbounded state on a stream); the STREAMING side monitors
    a bounded, versioned watchlist (the dim-table/config deployment
    pattern) in hard-bounded state.  Order-independent and
    deterministic, unlike Misra-Gries-style streaming top-k whose
    summaries depend on arrival order.

    Plan shape: ONE stateful operator — a windowed aggregate holding
    the whole depth·width grid as conditional-count columns plus the
    window total (state = depth·width+1 int64 per window-in-delay,
    volume- AND cardinality-independent, watermark-evicted, partial-
    aggregable map-side like any count).  The probe is STATELESS
    projection after the aggregate: the grid row pivots into a cell
    map, the watch frame (its ``depth`` buckets precomputed with the
    same md5 idiom) joins broadcast-style on a literal key, and the
    estimate is the min over the key's cells.

    Output (append on window close): (win_start, <key_col>, cms_est,
    n_total, is_heavy).  Batch dual under the full oracle gate:
    plans/extras.py events_cms_watchlist (same operator body on the
    bounded table + exact verification columns); stream==batch
    asserted in tests/test_streaming.py.
    """
    from ..operators import sketches

    d = sketches.CMS_DEPTH if depth is None else depth
    w = sketches.CMS_WIDTH if width is None else width
    # The depth·width grid expressions are assembled as SQL text and
    # parsed in single selectExpr/F.expr calls: the Column form cost
    # ~3 s of py4j round trips per call at 4×64 (see
    # functions/vectors.py for the measured pattern); the parsed trees
    # — and the streaming state layout — are identical.
    e = events.withWatermark("ts", watermark).selectExpr(
        "ts",
        *[
            f"{sketches._cms_bucket_sql(s, key_col, w)} AS b{s}"
            for s in range(d)
        ],
    )
    agg = e.groupBy(F.window("ts", win).alias("w")).agg(
        F.count("*").cast("long").alias("n_total"),
        *[
            F.expr(
                f"CAST(COUNT(CASE WHEN b{s} = {b} THEN 1 END) AS BIGINT)"
                f" AS c_{s}_{b}"
            )
            for s in range(d)
            for b in range(w)
        ],
    )
    cell_keys = ", ".join(
        f"'{s}:{b}'" for s in range(d) for b in range(w)
    )
    cell_vals = ", ".join(
        f"c_{s}_{b}" for s in range(d) for b in range(w)
    )
    grid = agg.selectExpr(
        "w.start AS win_start",
        "n_total",
        f"map_from_arrays(array({cell_keys}), array({cell_vals}))"
        " AS __cells",
        "1 AS __j",
    )
    probes = watch.selectExpr(
        key_col,
        *[
            f"CAST({sketches._cms_bucket_sql(s, key_col, w)} AS STRING)"
            f" AS wb{s}"
            for s in range(d)
        ],
        "1 AS __j",
    )
    est = F.least(
        *[
            F.element_at(
                F.col("__cells"),
                F.concat(F.lit(f"{s}:"), F.col(f"wb{s}")),
            )
            for s in range(d)
        ]
    )
    return (
        grid.join(probes, "__j")
        .select(
            "win_start",
            key_col,
            est.alias("cms_est"),
            "n_total",
            (est * 1000 >= F.lit(phi_permille) * F.col("n_total")).alias(
                "is_heavy"
            ),
        )
    )


def windowed_seq_kgrams(
    events: DataFrame,
    *,
    ks: tuple[int, ...] = (2, 3),
    watermark: str = "1 hour",
    win: str = "1 hour",
    seq_col: str = "user_id",
    item_col: str = "event_type",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
    sep: str = ">",
) -> DataFrame:
    """Streaming dual of sequential pattern mining
    (operators/associations.sequence_kgrams): per closed event-time
    window, every contiguous item k-gram of each key's time-ordered
    in-window history, one output row per OCCURRENCE.

    The production split (the windowed_cms_watchlist convention):
    the STREAM emits per-(window, key) session flows — the live
    "what did this user's session look like" signal — while
    corpus-wide SUPPORT mining (distinct sequences containing a gram,
    min_support pruning) stays the batch job's business: a streaming
    per-gram distinct-key count is unbounded state, exactly like
    streaming heavy-hitter discovery.

    Plan shape: ONE stateful operator — a watermarked windowed
    aggregate collecting each key's in-window (order_cols, item)
    structs; ``sort_array`` orders them by the struct's lexicographic
    field order, so ``order_cols`` is the same total-order contract as
    the batch miner (no per-key window function exists on a stream —
    the sorted-array aggregate IS the streaming form of that sort).
    Gram expansion is a STATELESS post-aggregate projection (slice +
    array_join per k, size-guarded so short sequences emit nothing),
    exploded to one row per occurrence.  State per (window-in-delay,
    active key) is that key's in-window event count — bounded by
    per-key-per-window activity, watermark-evicted; late rows beyond
    the watermark drop rather than corrupting an emitted flow.

    Works unchanged on a BATCH frame (withWatermark is a no-op), which
    is what the stream==batch pytest replays — and the batch miner
    itself cross-checks the expansion: grouping this output by
    (k, gram) reproduces sequence_kgrams' n_occ on the windowed key.

    Output (append on window close):
    (win_start, <seq_col>, k, gram).
    """
    if not ks or any(k < 2 for k in ks):
        raise ValueError(f"ks must be lengths >= 2, got {ks!r}")
    if len(set(ks)) != len(ks):
        raise ValueError(f"ks must not contain duplicates, got {ks!r}")
    e = events.filter(
        F.col(item_col).isNotNull() & F.col(seq_col).isNotNull()
    ).withWatermark("ts", watermark)
    agg = e.groupBy(F.window("ts", win).alias("w"), F.col(seq_col)).agg(
        F.sort_array(
            F.collect_list(
                F.struct(*order_cols, F.col(item_col).alias("__it"))
            )
        ).alias("__s")
    )
    # Per-k gram structs from the one sorted array; sequence(1, n) is
    # DESCENDING for n < 1, so each k is explicitly size-guarded.
    gram_arrays = [
        F.expr(
            f"IF(size(__s) >= {k}, "
            f"transform(sequence(1, size(__s) - {k - 1}), i -> "
            f"struct(CAST({k} AS INT) AS k, "
            f"array_join(slice(transform(__s, x -> x.__it), i, {k}), "
            f"'{sep}') AS gram)), "
            f"CAST(array() AS array<struct<k: int, gram: string>>))"
        )
        for k in sorted(ks)
    ]
    return (
        agg.select(
            F.col("w.start").alias("win_start"),
            seq_col,
            F.explode(F.flatten(F.array(*gram_arrays))).alias("__g"),
        )
        .select(
            "win_start",
            seq_col,
            F.col("__g.k").alias("k"),
            F.col("__g.gram").alias("gram"),
        )
    )


def streaming_phash_flags(
    blobs: DataFrame,
    index_blobs: DataFrame,
    *,
    max_hamming: int = 3,
) -> DataFrame:
    """Ingest-time BINARY-modality near-dup flagging against a static
    corpus index — the perceptual twin of the LSH text probe
    (:func:`streaming_near_dup_flags`): each arriving blob is
    blockhash-fingerprinted (operators/multimodal.blockhash — no
    corpus-wide train, so the fingerprint is a pure function of the
    blob's own bytes: fully stateless and streaming-safe) and its four
    16-bit chunk keys probe the already-ingested corpus's chunk index.

    Unlike the LSH flags (candidates only; Jaccard verify is
    batch-side), the Hamming verify here is an exact per-row
    bit_count over the joined fingerprints, so the emitted rows ARE
    verified pairs within ``max_hamming`` — one row per chunk
    collision (consumers dedup on (doc_id, index_doc_id); a streaming
    dropDuplicates without watermark would grow state unboundedly, so
    the operator does not).

    Same stream-static shape: the fingerprint stage is Arrow-batched
    ``mapInPandas`` (stateless), the static chunk index is bounded by
    the indexed corpus and re-planned per micro-batch (Catalyst
    broadcasts it when small).  Append mode, no watermark, zero state.
    Output: (doc_id, index_doc_id, chunk, hamming).

    Batch/streaming duality: on a batch ``blobs`` this equals the
    plain chunk-equality join + verify (stream==batch tested).

    Index refresh — the versioned-swap contract (the CMS watchlist's
    dim-table deployment pattern, :func:`windowed_cms_watchlist`):
    the chunk index is a static frame captured at query START, so an
    ingest pipeline refreshes it by RESTARTING the query against the
    new index version, not by mutating a running one.  The operator
    is built to make that swap free: it holds ZERO streaming state
    (stateless fingerprint + stream-static join, no watermark, no
    aggregation), so a restart replays nothing and loses nothing —
    the file/Kafka source's checkpoint resumes exactly after the last
    committed micro-batch, and every later arrival probes the new
    index.  Rows already emitted against the old version stay valid
    (they were verified pairs against the corpus as of their ingest
    time — the append-sink semantics an audit log wants).  Tested in
    tests/test_streaming.py::test_streaming_phash_index_version_swap:
    same checkpoint + same source, index v1 → stop → index v2, no
    reprocessing, new arrivals match only v2.
    """
    from ..operators import multimodal

    if not 0 <= max_hamming <= 3:
        raise ValueError(
            f"max_hamming must be in [0, 3] (the 4-chunk pigeonhole "
            f"bound); got {max_hamming}"
        )

    def chunk_rows(df: DataFrame, id_alias: str) -> DataFrame:
        fp = multimodal.blockhash(df)
        keys = [
            F.concat(F.lit(f"{i}:"), F.col(f"c{i}").cast("string"))
            for i in range(4)
        ]
        return fp.select(
            F.col("doc_id").alias(id_alias),
            *[F.col(f"c{i}").alias(f"{id_alias[0]}c{i}") for i in range(4)],
            F.explode(F.array(*keys)).alias("chunk"),
        )

    idx = chunk_rows(index_blobs, "index_doc_id").distinct()
    ham = sum(
        F.bit_count(F.col(f"dc{i}").bitwiseXOR(F.col(f"ic{i}")))
        for i in range(4)
    ).cast("long")
    return (
        chunk_rows(blobs, "doc_id")
        .join(idx, "chunk")
        # A blob re-arriving with an id already in the index (an
        # UPDATE, or a replayed micro-batch) would otherwise emit
        # itself at hamming 0 — rows here are advertised as VERIFIED
        # pairs, not candidates, so self-pairs are dropped at the
        # source rather than delegated to consumers (ADVICE r10).
        .filter(F.col("doc_id") != F.col("index_doc_id"))
        .filter(ham <= max_hamming)
        .select("doc_id", "index_doc_id", "chunk", ham.alias("hamming"))
    )


def windowed_weighted_reservoir(
    events: DataFrame,
    k: int,
    *,
    watermark: str = "1 hour",
    win: str = "1 hour",
    key_col: str = "event_type",
    weight_col: str = "weight",
    id_col: str = "event_id",
    salt: str = "",
    max_weight: int = 64,
) -> DataFrame:
    """Streaming dual of the per-key weighted reservoir
    (operators/curation.weighted_reservoir_per_key): per closed
    event-time window, the k-row A-ES weighted-without-replacement
    sample of each key's in-window rows — same min-of-uniforms integer
    priorities (operators/curation.aes_priority), same (priority, id)
    total order, so the window's sample is bit-identical to running
    the batch operator on that window's rows (the stream==batch
    pytest).

    Plan shape: priorities are map-side (≤ max_weight md5 calls per
    row, bound row-side-enforced); selection is ONE watermarked
    windowed aggregate collecting each (window, key)'s sorted
    (priority, id, weight) structs + a stateless slice-k projection —
    the windowed_seq_kgrams shape.  State per (window-in-delay, active
    key) is that key's in-window row count; for hard-bounded state at
    extreme per-key volume, the k-smallest merge belongs in
    applyInPandasWithState (k rows per key, arrival-order-independent
    because min-merge is associative-commutative) — this windowed form
    keeps the exact-replay contract first.

    Output (append on window close):
    (win_start, <key_col>, <id_col>, <weight_col>, priority).
    """
    from ..operators.curation import aes_priority

    pri = aes_priority(
        weight_col, id_col, salt=salt, max_weight=max_weight
    )
    # The sort struct carries the UN-CAST id column: the batch dual
    # orders ties by the raw id, so casting here would either fail
    # (ANSI, non-numeric ids) or break priority ties in a different
    # order — the stream==batch contract must hold for any orderable
    # id type.
    e = events.withWatermark("ts", watermark).select(
        "ts",
        F.col(key_col),
        F.struct(
            pri.alias("priority"),
            F.col(id_col).alias("id"),
            F.col(weight_col).cast("long").alias("weight"),
        ).alias("__r"),
    )
    agg = e.groupBy(F.window("ts", win).alias("w"), F.col(key_col)).agg(
        F.slice(F.sort_array(F.collect_list("__r")), 1, k).alias("__top")
    )
    return agg.select(
        F.col("w.start").alias("win_start"),
        key_col,
        F.explode("__top").alias("__e"),
    ).select(
        "win_start",
        key_col,
        F.col("__e.id").alias(id_col),
        F.col("__e.weight").alias(weight_col),
        F.col("__e.priority").alias("priority"),
    )


def windowed_followed_by(
    events: DataFrame,
    *,
    watermark: str = "1 hour",
    win: str = "1 hour",
    key_col: str = "user_id",
    item_col: str = "event_type",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
) -> DataFrame:
    """Streaming dual of the gapped followed-by rules
    (operators/associations.followed_by_pairs): per closed event-time
    window, every ordered item pair (a, b) such that the key's
    in-window history contains an ``a`` strictly before a ``b``
    (PrefixSpan length-2 containment; a == b means two occurrences) —
    one row per supported (window, key, pair), the live per-session
    signal whose corpus-wide support/confidence rollup stays the batch
    miner's business (the windowed_seq_kgrams split).

    Plan shape: the SAME single watermarked sorted-array aggregate as
    windowed_seq_kgrams, then a stateless vocab²-bounded pair
    expansion — first/last positions read off the sorted item array
    with array_position (an O(L) scan per distinct item over the
    bounded in-window history), never an L² position join.

    Output (append on window close):
    (win_start, <key_col>, antecedent, consequent).
    """
    e = events.filter(
        F.col(item_col).isNotNull() & F.col(key_col).isNotNull()
    ).withWatermark("ts", watermark)
    agg = e.groupBy(F.window("ts", win).alias("w"), F.col(key_col)).agg(
        F.sort_array(
            F.collect_list(
                F.struct(*order_cols, F.col(item_col).alias("__it"))
            )
        ).alias("__s")
    )
    pair_expr = (
        "flatten(transform(array_distinct(transform(__s, x -> x.__it)), a ->"
        " filter(transform(array_distinct(transform(__s, x -> x.__it)), b ->"
        "  IF(array_position(transform(__s, x -> x.__it), a)"
        "     < size(__s) + 1"
        "       - array_position(reverse(transform(__s, x -> x.__it)), b),"
        "     struct(a AS antecedent, b AS consequent),"
        "     CAST(NULL AS struct<antecedent: string, consequent: string>))),"
        "  p -> p IS NOT NULL)))"
    )
    return (
        agg.select(
            F.col("w.start").alias("win_start"),
            key_col,
            F.explode(F.expr(pair_expr)).alias("__p"),
        )
        .select(
            "win_start",
            key_col,
            F.col("__p.antecedent").alias("antecedent"),
            F.col("__p.consequent").alias("consequent"),
        )
    )
