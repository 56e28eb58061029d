"""Property-based invariants (hypothesis) for the determinism-critical
operators.  Few examples per property — each example runs Spark jobs —
but randomized inputs catch edge shapes the fixed fixtures miss.
"""

from __future__ import annotations

from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.curation import (
    sample_by_hash,
)
from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.skew import (
    salted_join,
)

_SETTINGS = dict(max_examples=5, deadline=None)


@settings(**_SETTINGS)
@given(
    keys=st.lists(st.integers(min_value=1, max_value=6), min_size=1, max_size=30),
    salt=st.integers(min_value=2, max_value=8),
)
def test_salted_join_always_matches_plain(spark, keys, salt):
    skewed = spark.createDataFrame(
        [(k, f"p{i}") for i, k in enumerate(keys)], "k long, payload string"
    )
    dim = spark.createDataFrame(
        [(k, f"d{k}") for k in range(0, 8)], "k long, attr string"
    )
    plain = sorted(tuple(r) for r in skewed.join(dim, ["k"]).collect())
    salted = sorted(
        tuple(r) for r in salted_join(skewed, dim, on=["k"], salt=salt).collect()
    )
    assert salted == plain


@settings(**_SETTINGS)
@given(
    ids=st.lists(
        st.integers(min_value=0, max_value=10_000),
        min_size=1,
        max_size=40,
        unique=True,
    ),
    parts=st.integers(min_value=1, max_value=7),
)
def test_sample_by_hash_invariant_to_partitioning(spark, ids, parts):
    # membership is a pure function of (salt, id): re-partitioning the
    # input must never change the sample
    df = spark.createDataFrame([(i, "en") for i in ids], "doc_id long, lang string")
    rates = {"en": 0.5}
    base = {r.doc_id for r in sample_by_hash(df, rates).collect()}
    shuffled = {
        r.doc_id for r in sample_by_hash(df.repartition(parts), rates).collect()
    }
    assert base == shuffled
    # and it is a true subset filter
    assert base <= set(ids)


@settings(**_SETTINGS)
@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from("ab cd"), min_size=0, max_size=30
        ),
        min_size=1,
        max_size=10,
    )
)
def test_dedup_exact_partitions_preserve_multiplicity(spark, texts):
    # n_dups across digests must sum to the corpus size, and each digest
    # keeps its minimum doc_id as representative
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.dedup import (
        dedup_exact,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = dedup_exact(df).collect()
    assert sum(r.n_dups for r in rows) == len(texts)
    firsts = {}
    for i, t in enumerate(texts):
        firsts.setdefault(t, i)
    assert sorted(r.doc_id for r in rows) == sorted(firsts.values())


@settings(**_SETTINGS)
@given(
    texts=st.lists(
        st.text(alphabet=st.sampled_from("xy z"), min_size=0, max_size=25),
        min_size=1,
        max_size=8,
    )
)
def test_repetition_stats_invariants(spark, texts):
    # per doc: n_bigrams = max(0, n_tokens-1) for whitespace tokens,
    # top count bounded by n_bigrams, and the repeated fraction is a
    # valid e6 ratio that is 0 iff no bigram repeats
    from stedi_human_balance_redis_kafka_spark_streaming_spark.functions.hashing import (
        tokens,
    )
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.text import (
        repetition_stats,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    n_toks = {
        r.doc_id: r.n for r in df.select("doc_id", F.size(tokens("text")).alias("n")).collect()
    }
    for r in repetition_stats(df).collect():
        assert r.n_bigrams == max(0, n_toks[r.doc_id] - 1)
        assert 0 <= r.top_bigram_count <= r.n_bigrams
        assert 0 <= r.rep_bigram_e6 <= 1_000_000
        assert (r.rep_bigram_e6 == 0) == (r.top_bigram_count <= 1)


@settings(**_SETTINGS)
@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.integers(min_value=1, max_value=12),
        ),
        min_size=1,
        max_size=15,
    )
)
def test_domain_mixture_invariants(spark, docs):
    # shares are a partition of ≤ 1e6 (floor division loses < 1 per
    # source); every rate is capped at 1e6; rebalanced volumes
    # (rate·tokens) never exceed the uniform budget by more than the
    # e6-floor error
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.text import (
        domain_mixture,
    )

    rows = [
        (i, src, " ".join(["tok"] * n)) for i, (src, n) in enumerate(docs)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = domain_mixture(df).collect()
    total = sum(r.sum_tokens for r in out)
    k = len(out)
    assert sum(r.share_e6 for r in out) <= 1_000_000
    assert sum(r.share_e6 for r in out) > 1_000_000 - k  # floor loss < 1/src
    for r in out:
        assert 0 < r.uniform_rate_e6 <= 1_000_000
        # rate·tokens ≤ uniform budget (total/k), up to floor granularity
        assert r.uniform_rate_e6 * r.sum_tokens <= (total * 1_000_000) // k + r.sum_tokens


@settings(**_SETTINGS)
@given(
    words=st.lists(
        st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"]),
        min_size=3,
        max_size=12,
    )
)
def test_identical_docs_always_become_lsh_pair(spark, words):
    # identical texts have identical MinHash signatures → identical band
    # keys → must surface as a candidate pair and verify at jaccard 1.0,
    # regardless of content
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    text = " ".join(words)
    df = spark.createDataFrame(
        [(0, text), (1, text), (2, "completely different content here")],
        "doc_id long, text string",
    )
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_lsh_pairs(df, threshold=0.7).collect()
    }
    assert pairs.get((0, 1)) == 1.0


@settings(**_SETTINGS)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=20),
            st.integers(min_value=0, max_value=20),
        ),
        min_size=0,
        max_size=40,
    )
)
def test_cc_star_matches_label_propagation(spark, edges):
    # Large-star/small-star contraction and min-label propagation must
    # produce identical (doc_id, cluster_id) assignments on any graph —
    # including self-loops, duplicates, and multi-component shapes.
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.curation import (
        cc_star,
        connected_components,
    )

    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    prop = {(r.doc_id, r.cluster_id) for r in connected_components(df).collect()}
    star = {(r.doc_id, r.cluster_id) for r in cc_star(df).collect()}
    assert star == prop


def test_cc_star_long_chain(spark):
    # A 64-node path is the propagation worst case (diameter 63 >
    # propagation's default max_iter); star contraction must converge in
    # O(log n) alternations and still label every node with the chain min.
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.curation import (
        cc_star,
    )

    chain = [(i, i + 1) for i in range(63)]
    df = spark.createDataFrame(chain, "doc_a long, doc_b long")
    out = cc_star(df, max_iter=10).collect()
    assert {r.cluster_id for r in out} == {0}
    assert {r.doc_id for r in out} == set(range(64))


@settings(**_SETTINGS)
@given(
    ids=st.lists(
        st.integers(min_value=0, max_value=100_000),
        min_size=2,
        max_size=40,
        unique=True,
    ),
    r1=st.integers(min_value=0, max_value=1_000_000),
    r2=st.integers(min_value=0, max_value=1_000_000),
)
def test_rebalance_membership_monotone_in_rate(spark, ids, r1, r2):
    """The in-plan hash threshold is monotone: raising a stratum's rate
    can only ADD members, never swap them — the property that makes
    mixture re-weighting reproducible across runs."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.curation import (
        rebalance_by_rate,
    )

    lo, hi = sorted((r1, r2))
    df = spark.createDataFrame([(i, "s") for i in ids], "doc_id long, source string")
    rate_lo = spark.createDataFrame([("s", lo)], "source string, rate_e6 long")
    rate_hi = spark.createDataFrame([("s", hi)], "source string, rate_e6 long")
    kept_lo = {r.doc_id for r in rebalance_by_rate(df, rate_lo).collect()}
    kept_hi = {r.doc_id for r in rebalance_by_rate(df, rate_hi).collect()}
    assert kept_lo <= kept_hi
    if hi == 1_000_000:
        assert kept_hi == set(ids)


@settings(**_SETTINGS)
@given(
    seed=st.integers(min_value=0, max_value=9),
    parts=st.integers(min_value=1, max_value=7),
)
def test_pq_topk_partition_invariant(spark, seed, parts):
    """PQ/ADC ranking is deterministic under any physical layout: the
    int64-quantized ADC sums are associative, and every tie-break is
    total — repartitioning must never change the result."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        similarity,
    )

    rows = [
        (i, [float(((i * 37 + j * 11 + seed) % 19) - 9) / 9.0 for j in range(8)])
        for i in range(24)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = similarity.queries_by_modulus(emb, 12)
    base = sorted(
        (r.query_id, r.vec_id, r.rank)
        for r in similarity.pq_topk(emb, q, k=5, n_sub=4, seed_modulus=6).collect()
    )
    shuf = sorted(
        (r.query_id, r.vec_id, r.rank)
        for r in similarity.pq_topk(
            emb.repartition(parts), q, k=5, n_sub=4, seed_modulus=6
        ).collect()
    )
    assert base == shuf


@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)),
            max_size=60,
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=15, deadline=None)
def test_pii_scrub_total_on_arbitrary_text(spark, texts):
    """pii_scrub never throws on arbitrary unicode (ANSI mode on), the
    total always equals the sum of per-kind counts, and redaction never
    lengthens text by more than the replacement-token delta allows."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.text import (
        pii_scrub,
    )

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    rows = pii_scrub(df).collect()
    assert len(rows) == len(texts)
    for r in rows:
        assert r.pii_total == r.n_emails + r.n_phones + r.n_ids + r.n_ips
        assert r.pii_total >= 0 and r.clean_len >= 0
        if r.pii_total == 0:
            assert r.clean_len == len(texts[r.doc_id])


@given(
    texts=st.lists(
        st.text(alphabet="ab @.", max_size=30), min_size=1, max_size=6
    ),
    parts=st.integers(min_value=1, max_value=5),
)
@settings(max_examples=10, deadline=None)
def test_lm_score_partition_invariant(spark, texts, parts):
    """Integer-surrogate LM scores are exact — independent of physical
    partitioning (a float log-prob mean would not be)."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.text import (
        lm_score,
    )

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    a = sorted(map(tuple, lm_score(df).collect()))
    b = sorted(map(tuple, lm_score(df.repartition(parts)).collect()))
    assert a == b


@given(
    big_keys=st.lists(st.integers(min_value=0, max_value=400), min_size=1, max_size=60),
    small_keys=st.lists(st.integers(min_value=0, max_value=400), min_size=1, max_size=15),
)
@settings(max_examples=12, deadline=None)
def test_bloom_prefilter_never_drops_matches(spark, big_keys, small_keys):
    """No false negatives: every big row whose key appears in the small
    set survives the prefilter, for ANY key sets."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.prefilter import (
        bloom_prefilter,
    )

    big = spark.createDataFrame([(k,) for k in big_keys], "k long")
    small = spark.createDataFrame([(k,) for k in small_keys], "j long")
    kept = {r.k for r in bloom_prefilter(
        big, small, key="k", small_key="j", num_bits=256).collect()}
    matches = {k for k in big_keys if k in set(small_keys)}
    assert matches <= kept  # superset: false positives allowed, negatives never


@given(
    ids=st.lists(st.integers(min_value=0, max_value=10_000), min_size=1,
                 max_size=40, unique=True),
    factor=st.integers(min_value=0, max_value=3_500_000),
    parts=st.integers(min_value=1, max_value=5),
)
@settings(max_examples=12, deadline=None)
def test_upsample_copy_counts_and_partition_invariance(spark, ids, factor, parts):
    """Each row gets floor(factor) or ceil(factor) copies, membership of
    the fractional copy is partition-invariant, and copy_ids are dense
    0..n-1."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.curation import (
        upsample_by_factor,
    )

    df = spark.createDataFrame([(i, "s") for i in ids], "doc_id long, source string")
    factors = spark.createDataFrame([("s", factor)], "source string, factor_e6 long")
    out = upsample_by_factor(df, factors).collect()
    lo, rem = factor // 1_000_000, factor % 1_000_000
    per_doc: dict[int, list[int]] = {}
    for r in out:
        per_doc.setdefault(r.doc_id, []).append(r.copy_id)
    for i in ids:
        copies = sorted(per_doc.get(i, []))
        assert copies in ([list(range(lo))] if rem == 0 else
                          [list(range(lo)), list(range(lo + 1))])
    again = upsample_by_factor(df.repartition(parts), factors).collect()
    assert sorted((r.doc_id, r.copy_id) for r in again) == sorted(
        (r.doc_id, r.copy_id) for r in out
    )


@settings(**_SETTINGS)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=7),
            st.integers(min_value=0, max_value=7),
        ),
        min_size=1,
        max_size=20,
    ),
    iters=st.integers(min_value=1, max_value=3),
)
def test_pagerank_redistribute_mass_conservation(spark, edges, iters):
    """Sink-mass redistribution must (almost) conserve total rank: the
    only losses are div truncations — < 1 unit per message, per-node
    share, and per-node damp per round — so the total stays within
    iters·(|edges| + 2N) of N·1e12, and never exceeds it."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        graph,
    )

    e = [(a, b) for a, b in edges if a != b]
    if not e:
        return
    df = spark.createDataFrame(e, "src long, dst long")
    ranks = graph.pagerank(df, iters=iters, dangling="redistribute").collect()
    nodes = {a for a, _ in e} | {b for _, b in e}
    n = len(nodes)
    assert {r["node"] for r in ranks} == nodes
    total = sum(r["rank_e12"] for r in ranks)
    n_edges = len(set(e))
    assert total <= n * 10**12
    assert n * 10**12 - total <= iters * (n_edges + 2 * n)


@settings(**_SETTINGS)
@given(
    blob=st.binary(min_size=1, max_size=120),
)
def test_resize_box_pixels_bounded_by_blob_bytes(spark, blob):
    """Box means (and the past-the-end clamp) can never leave the range
    of the blob's actual byte values; constant blobs resize to the
    constant."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        multimodal,
    )

    df = spark.createDataFrame(
        [(1, blob), (2, bytes([blob[0]]) * 40)], "doc_id long, blob binary"
    )
    rows = {r.doc_id: r for r in multimodal.resize_box(df).collect()}
    px = bytes.fromhex(rows[1].resized_hex)
    assert len(px) == 16
    assert min(blob) <= min(px) and max(px) <= max(blob)
    # constant 40-byte blob -> every box mean is the constant
    assert bytes.fromhex(rows[2].resized_hex) == bytes([blob[0]]) * 16


@settings(**_SETTINGS)
@given(
    feats=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1_000_000),  # quality_e6
            st.integers(min_value=0, max_value=1_000_000),  # rep_e6
            st.integers(min_value=0, max_value=1_000_000),  # lm_e6
        ),
        min_size=1,
        max_size=12,
    )
)
def test_quality_linear_score_bounded_and_monotone(spark, feats):
    """The blend stays inside [0, 1e6] for in-range signals, and the
    keep gate is exactly score >= threshold."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        curation,
    )

    ids = list(range(len(feats)))
    stats = spark.createDataFrame(
        [(i, q) for i, (q, _, _) in zip(ids, feats)],
        "doc_id long, quality_e6 long",
    )
    rep = spark.createDataFrame(
        [(i, r) for i, (_, r, _) in zip(ids, feats)],
        "doc_id long, rep_bigram_e6 long",
    )
    lm = spark.createDataFrame(
        [(i, l) for i, (_, _, l) in zip(ids, feats)],
        "doc_id long, lm_score_e6 long",
    )
    out = curation.quality_linear_score(stats, rep, lm).collect()
    assert len(out) == len(feats)
    for r in out:
        assert 0 <= r.score_e6 <= 1_000_000
        assert r.keep == (r.score_e6 >= 500_000)


@settings(**_SETTINGS)
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d", "e", "f"]),
            min_size=3,
            max_size=12,
        ).map(" ".join),
        min_size=2,
        max_size=12,
    ),
    t=st.sampled_from([0.5, 0.7, 0.9]),
)
def test_prefix_filter_equals_full_inverted_index(spark, texts, t):
    """Prefix filtering is COMPLETE: the PPJoin-style candidate path
    must return exactly the uncapped inverted-index join's pair set at
    any threshold."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        dedup,
    )

    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(texts)], "doc_id long, text string"
    )
    full = sorted(
        (r.doc_a, r.doc_b, round(r.jaccard, 9))
        for r in dedup.ngram_jaccard_pairs(df, threshold=t, n=3).collect()
    )
    pre = sorted(
        (r.doc_a, r.doc_b, round(r.jaccard, 9))
        for r in dedup.ngram_jaccard_prefix_pairs(
            df, threshold=t, n=3
        ).collect()
    )
    assert pre == full


@settings(**_SETTINGS)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6),
            st.integers(min_value=0, max_value=6),
        ),
        min_size=1,
        max_size=18,
    )
)
def test_triangle_count_matches_brute_force(spark, edges):
    from itertools import combinations

    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        graph,
    )

    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    if not und:
        return
    nodes = {x for e in und for x in e}
    expected = sum(
        1
        for a, b, c in combinations(sorted(nodes), 3)
        if {(a, b), (b, c), (a, c)} <= und
    )
    df = spark.createDataFrame(list(edges), "src long, dst long")
    row = graph.triangle_count(df).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (
        len(nodes), len(und), expected,
    )


@settings(**_SETTINGS)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6),
            st.integers(min_value=0, max_value=6),
        ),
        min_size=1,
        max_size=18,
    )
)
def test_clustering_coefficient_matches_brute_force(spark, edges):
    from itertools import combinations

    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        graph,
    )

    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    if not und:
        return
    nodes = {x for e in und for x in e}
    deg = {v: sum(1 for e in und if v in e) for v in nodes}
    tri = {v: 0 for v in nodes}
    for a, b, c in combinations(sorted(nodes), 3):
        if {(a, b), (b, c), (a, c)} <= und:
            tri[a] += 1
            tri[b] += 1
            tri[c] += 1
    df = spark.createDataFrame(list(edges), "src long, dst long")
    got = {
        r.node: (r.deg, r.n_tri, r.local_cc)
        for r in graph.clustering_coefficient(df).collect()
    }
    assert set(got) == nodes
    for v in nodes:
        cc = (
            2 * tri[v] / (deg[v] * (deg[v] - 1)) if deg[v] >= 2 else 0.0
        )
        assert got[v] == (deg[v], tri[v], cc)


def _snm_candidates_global(keyed, window):
    """Reference SNM candidate stream: ONE global window over
    (bkey, doc_id), each row paired with its ``window`` successors —
    exact, but every row passes through a single task.  Output:
    (doc_id, other) rows, un-normalized and possibly duplicated."""
    from pyspark.sql import Window

    w = Window.orderBy("bkey", "doc_id")
    leads = keyed.select(
        "doc_id",
        *[
            F.lead("doc_id", k).over(w).alias(f"__n{k}")
            for k in range(1, window + 1)
        ],
    )
    return leads.select(
        "doc_id",
        F.explode(
            F.array(*[F.col(f"__n{k}") for k in range(1, window + 1)])
        ).alias("other"),
    ).filter(F.col("other").isNotNull())


@settings(**_SETTINGS)
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d", "e", "f"]),
            min_size=3,
            max_size=12,
        ).map(" ".join),
        min_size=2,
        max_size=14,
    ),
    window=st.integers(min_value=1, max_value=4),
    shards=st.integers(min_value=1, max_value=9),
)
def test_snm_sharded_equals_global_window(spark, texts, window, shards):
    """The range-partitioned SNM candidate path (per-shard lead +
    boundary-overlap frame filtered on true global rank distance) must
    return EXACTLY the single-global-window pair set — including when
    shards outnumber rows (empty/short partitions) and when duplicate
    blocking keys straddle shard boundaries.  Compared on the
    normalized candidate streams, before verification."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        dedup,
    )
    from stedi_human_balance_redis_kafka_spark_streaming_spark.session import (
        owned,
    )

    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(texts)], "doc_id long, text string"
    )
    keyed = df.select("doc_id", dedup._snm_key("text", 4).alias("bkey"))

    def pairs(raw):
        return sorted(
            {(min(r.doc_id, r.other), max(r.doc_id, r.other))
             for r in raw.collect()}
        )

    with owned() as blocks:
        shard = pairs(dedup._snm_candidates_sharded(keyed, window, shards))
    for b in blocks:
        b.unpersist(False)
    assert shard == pairs(_snm_candidates_global(keyed, window))


def test_snm_multipass_superset_and_reorder_recall(spark):
    """Multi-pass SNM must (a) be a superset of single-pass at the same
    parameters and (b) catch a reordered near-dup whose leading-token
    edit pushes it outside the raw-prefix neighborhood — the recall
    case the token-sorted second key exists for."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        dedup,
    )

    base = "zulu yankee xray whiskey victor uniform tango sierra"
    reordered = "yankee zulu xray whiskey victor uniform tango sierra"
    # spacer docs that sort between the two variants under the RAW
    # prefix key (first letters y..z) so the single-pass window misses
    # the pair, while the token-sorted key maps both variants to the
    # same prefix
    spacers = [
        f"{c} filler{i} pad{i} mid{i} row{i} col{i} end{i} tail{i}"
        for i, c in enumerate(["ya", "yb", "yc", "yd", "ye", "yf"])
    ]
    rows = [(0, base), (1, reordered)] + [
        (i + 2, s) for i, s in enumerate(spacers)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(threshold=0.5, n=1, window=2, key_chars=8)
    single = {
        (r.doc_a, r.doc_b)
        for r in dedup.sorted_neighborhood_pairs(df, **kw).collect()
    }
    multi = {
        (r.doc_a, r.doc_b)
        for r in dedup.sorted_neighborhood_multipass_pairs(
            df, **kw
        ).collect()
    }
    assert single <= multi
    assert (0, 1) not in single  # raw key sorts the variants apart
    assert (0, 1) in multi  # token-sorted pass blocks them together


@settings(**_SETTINGS)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=7),
            st.integers(min_value=0, max_value=7),
        ),
        min_size=1,
        max_size=20,
    ),
    k=st.integers(min_value=1, max_value=4),
)
def test_k_core_matches_brute_force_peel(spark, edges, k):
    import collections

    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        graph,
    )

    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    active = set(und)
    while True:
        deg = collections.Counter()
        for u, v in active:
            deg[u] += 1
            deg[v] += 1
        weak = {n for n, d in deg.items() if d < k}
        if not weak:
            break
        active = {
            (u, v) for u, v in active if u not in weak and v not in weak
        }
    expected = collections.Counter()
    for u, v in active:
        expected[u] += 1
        expected[v] += 1
    df = spark.createDataFrame(list(edges), "src long, dst long")
    got = {
        r.node: r.core_deg for r in graph.k_core(df, k=k).collect()
    }
    assert got == dict(expected)


@settings(**_SETTINGS)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=7),
            st.integers(min_value=0, max_value=7),
        ),
        min_size=1,
        max_size=20,
    ),
)
# a 6-leaf star (coreness 1) welded to a triangle through its hub
# (coreness 2): the hub's degree is far above its core number
@example(edges=[(0, i) for i in range(1, 7)] + [(1, 2), (0, 1), (0, 2)])
def test_coreness_is_max_k_surviving_k_core(spark, edges):
    """Core-number definition check: coreness(n) == max k for which n
    survives the k-core peel — brute-forced with a sequential peel at
    every k until the graph empties."""
    import collections

    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        graph,
    )

    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}

    def core_nodes(k):
        active = set(und)
        while True:
            deg = collections.Counter()
            for u, v in active:
                deg[u] += 1
                deg[v] += 1
            weak = {n for n, d in deg.items() if d < k}
            if not weak:
                break
            active = {
                (u, v)
                for u, v in active
                if u not in weak and v not in weak
            }
        return {n for e in active for n in e}

    expected: dict[int, int] = {}
    k = 1
    while True:
        members = core_nodes(k)
        if not members:
            break
        for n in members:
            expected[n] = k
        k += 1

    df = spark.createDataFrame(list(edges), "src long, dst long")
    got = {r.node: r.coreness for r in graph.coreness(df).collect()}
    assert got == expected


@settings(**_SETTINGS)
@given(
    vecs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),  # label
            st.lists(
                st.integers(min_value=-3, max_value=3),
                min_size=2,
                max_size=2,
            ),
        ),
        min_size=1,
        max_size=12,
    )
)
def test_centroid_silhouette_matches_integer_reference(spark, vecs):
    """centroid_silhouette must equal a from-scratch integer replay of
    its own contract: e6-quantized components, div-truncated integer
    centroids, exact int64 squared distances, IEEE sqrt/divide,
    away-from-zero e6 re-quantization, div-truncated per-label mean."""
    import math

    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        similarity,
    )

    def tdiv(a, b):
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    def rnd(x):  # round-half-away-from-zero, Spark/DuckDB round()
        return math.floor(x + 0.5) if x >= 0 else math.ceil(x - 0.5)

    pts = [
        (i, lbl, [float(c) for c in comp])
        for i, (lbl, comp) in enumerate(vecs)
    ]
    q = {i: [rnd(c * 1e6) for c in comp] for i, _, comp in pts}
    labels = {lbl for _, lbl, _ in pts}
    cent = {}
    for lbl in labels:
        members = [q[i] for i, l, _ in pts if l == lbl]
        cent[lbl] = [
            tdiv(sum(col), len(members)) for col in zip(*members)
        ]
    exp_scores = {lbl: [] for lbl in labels}
    for i, lbl, _ in pts:
        d2 = {
            cl: sum((a - b) ** 2 for a, b in zip(q[i], cent[cl]))
            for cl in labels
        }
        a2 = d2[lbl]
        others = [d2[cl] for cl in labels if cl != lbl]
        if not others:
            exp_scores[lbl].append(None)
            continue
        b2 = min(others)
        mx = max(math.sqrt(a2), math.sqrt(b2))
        s = 0 if mx == 0.0 else rnd(
            (math.sqrt(b2) - math.sqrt(a2)) / mx * 1e6
        )
        exp_scores[lbl].append(s)
    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("label", IntegerType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )
    df = spark.createDataFrame(pts, schema)
    got = {
        r.label: (
            r.n_vecs,
            r.n_scored,
            r.mean_sil_e6,
            r.min_sil_e6,
            r.max_sil_e6,
        )
        for r in similarity.centroid_silhouette(df).collect()
    }
    assert set(got) == labels
    for lbl in labels:
        scored = [s for s in exp_scores[lbl] if s is not None]
        mean = tdiv(sum(scored), len(scored)) if scored else None
        assert got[lbl] == (
            len(exp_scores[lbl]),
            len(scored),
            mean,
            min(scored) if scored else None,
            max(scored) if scored else None,
        )


@settings(**_SETTINGS)
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d", "e"]),
            min_size=3,
            max_size=8,
        ).map(" ".join),
        min_size=3,
        max_size=12,
    )
)
def test_incremental_lsh_equals_batch_filtered_full_join(spark, texts):
    """The ingest-time incremental LSH must return EXACTLY the full
    corpus self-join's pairs restricted to those touching the batch
    side (identical banding => identical candidates), with vs_corpus
    marking exactly the pairs that cross into the corpus."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        dedup,
    )

    rows = [(i, s) for i, s in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(threshold=0.2, shingle_n=2, num_hashes=4, num_bands=2)
    full = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.minhash_lsh_pairs(df, **kw).collect()
    }
    batch_ids = {i for i, _ in rows if i % 3 == 0}
    expected = {
        p: j
        for p, j in full.items()
        if p[0] in batch_ids or p[1] in batch_ids
    }
    got = {
        (r.doc_a, r.doc_b): (r.jaccard, r.vs_corpus)
        for r in dedup.minhash_lsh_incremental_pairs(
            df.filter("doc_id % 3 != 0"),
            df.filter("doc_id % 3 = 0"),
            **kw,
        ).collect()
    }
    assert {p: j for p, (j, _) in got.items()} == expected
    for (a, b), (_, vs_corpus) in got.items():
        assert vs_corpus == ((a in batch_ids) != (b in batch_ids))


@settings(**_SETTINGS)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6),
            st.integers(min_value=0, max_value=6),
        ),
        min_size=1,
        max_size=18,
    ),
    k=st.integers(min_value=2, max_value=5),
)
def test_k_truss_matches_brute_force_peel(spark, edges, k):
    import collections

    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        graph,
    )

    active = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    if not active:
        return
    while True:
        adj = collections.defaultdict(set)
        for u, v in active:
            adj[u].add(v)
            adj[v].add(u)
        weak = {
            (u, v) for u, v in active if len(adj[u] & adj[v]) < k - 2
        }
        if not weak:
            break
        active -= weak
    adj = collections.defaultdict(set)
    for u, v in active:
        adj[u].add(v)
        adj[v].add(u)
    expected = {(u, v): len(adj[u] & adj[v]) for u, v in active}
    df = spark.createDataFrame(list(edges), "src long, dst long")
    got = {
        (r.u, r.v): r.support for r in graph.k_truss(df, k=k).collect()
    }
    assert got == expected


@settings(**_SETTINGS)
@given(
    texts=st.lists(
        st.text(alphabet="abc", min_size=0, max_size=9),
        min_size=2,
        max_size=10,
    ),
    d=st.integers(min_value=0, max_value=3),
    q=st.integers(min_value=1, max_value=3),
)
def test_edit_distance_pairs_matches_brute_force(spark, texts, d, q):
    """The Ed-Join prefix-filtered candidate path must return EXACTLY
    the brute-force levenshtein <= d pair set — including empty/short
    strings (the all-pairs short stratum) and duplicate texts."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        dedup,
    )

    def lev(s1, s2):
        m, n = len(s1), len(s2)
        prev = list(range(n + 1))
        for i in range(1, m + 1):
            cur = [i] + [0] * n
            for j in range(1, n + 1):
                cur[j] = min(
                    prev[j] + 1,
                    cur[j - 1] + 1,
                    prev[j - 1] + (s1[i - 1] != s2[j - 1]),
                )
            prev = cur
        return prev[n]

    rows = [(i, s) for i, s in enumerate(texts)]
    expected = {
        (i, j): lev(a, b)
        for (i, a) in rows
        for (j, b) in rows
        if i < j and lev(a, b) <= d
    }
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): r.edit_dist
        for r in dedup.edit_distance_pairs(df, max_dist=d, q=q).collect()
    }
    assert got == expected


def test_edit_distance_short_stratum_default_params(spark):
    """The DEFAULT-config (d=8, q=3) short stratum — strings of length
    ≤ d·q+q−1 = 26, empty on the documents corpus (min length 44) —
    must pair through the length-bucket equi-join path: sub-27-char
    docs, the 26-char boundary, the empty string, and a long-stratum
    control pair, all against brute force."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        dedup,
    )

    def lev(s1, s2):
        prev = list(range(len(s2) + 1))
        for i, c1 in enumerate(s1, 1):
            cur = [i] + [0] * len(s2)
            for j, c2 in enumerate(s2, 1):
                cur[j] = min(
                    prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (c1 != c2)
                )
            prev = cur
        return prev[-1]

    texts = [
        "kitten",
        "sitten",
        "sittin",
        "",
        "abcdefgh",
        "abcdefghijklmnopqrstuvwxyz",  # 26 = short_max boundary
        "a" * 26,
        "a" * 20,
        "x" * 40 + "y",  # long-stratum control pair (gram path)
        "x" * 40 + "z",
    ]
    d = 8
    rows = [(i, s) for i, s in enumerate(texts)]
    expected = {
        (i, j): lev(a, b)
        for (i, a) in rows
        for (j, b) in rows
        if i < j and lev(a, b) <= d
    }
    assert expected, "fixture must produce at least one short-path pair"
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): r.edit_dist
        for r in dedup.edit_distance_pairs(df, max_dist=d, q=3).collect()
    }
    assert got == expected


@settings(**_SETTINGS)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),
            st.integers(min_value=0, max_value=5),
        ),
        min_size=1,
        max_size=15,
    )
)
def test_personalized_pagerank_with_all_seeds_equals_uniform(spark, edges):
    """seeds = every node ⇒ seed_base = (base·n) div n = base, so the
    personalized variant must reproduce the uniform ranks EXACTLY —
    the degenerate-case contract pinning the base-column plumbing."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        graph,
    )

    pairs = {(a, b) for a, b in edges if a != b}
    if not pairs:
        return
    sym = list(pairs | {(b, a) for a, b in pairs})
    df = spark.createDataFrame(sym, "src long, dst long")
    uniform = {
        r.node: r.rank_e12
        for r in graph.pagerank(df, iters=2, validate=False).collect()
    }
    seeds = spark.createDataFrame(
        [(n,) for n in {x for e in sym for x in e}], "node long"
    )
    seeded = {
        r.node: r.rank_e12
        for r in graph.pagerank(
            df, iters=2, validate=False, seeds=seeds
        ).collect()
    }
    assert seeded == uniform


@settings(**_SETTINGS)
@given(
    keys=st.lists(
        st.integers(min_value=0, max_value=30), min_size=1, max_size=40
    ),
    width=st.sampled_from([4, 16, 64]),
)
def test_cms_upper_bound_and_merge_identity(spark, keys, width):
    """Count-Min invariants on arbitrary key multisets: (a) every point
    estimate >= the true count (one-sided error), (b) cell-wise merge
    of any 2-way split reproduces the global build's estimates exactly,
    (c) with width > max_key and depth rows seeing no collisions the
    estimate can still only overestimate, never under."""
    import collections

    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        sketches,
    )

    truth = collections.Counter(keys)
    facts = spark.createDataFrame([(k,) for k in keys], "k long")
    sk = sketches.cms_build(facts, "k", width=width)
    half_a = facts.filter("k % 2 = 0")
    half_b = facts.filter("k % 2 = 1")
    merged = sketches.cms_merge(
        sketches.cms_build(half_a, "k", width=width),
        sketches.cms_build(half_b, "k", width=width),
    )
    probe = facts.distinct()
    est = {
        r.k: r.cms_est
        for r in sketches.cms_estimate(sk, probe, "k", width=width).collect()
    }
    est_m = {
        r.k: r.cms_est
        for r in sketches.cms_estimate(
            merged, probe, "k", width=width
        ).collect()
    }
    assert est == est_m  # merge identity
    for k, n in truth.items():
        assert est[k] >= n  # one-sided error


@settings(**_SETTINGS)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=7),
            st.integers(min_value=0, max_value=7),
        ),
        min_size=1,
        max_size=20,
    ),
    iters=st.integers(min_value=1, max_value=4),
)
def test_label_propagation_matches_brute_force(spark, edges, iters):
    """Synchronous LPA replay: neighbor+self vote multiset, winner =
    (votes DESC, label ASC), fixed rounds — the distributed rounds must
    equal a sequential simulation on the same canonical simple graph."""
    import collections

    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        graph,
    )

    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    if not und:
        return
    nbrs = collections.defaultdict(set)
    for u, v in und:
        nbrs[u].add(v)
        nbrs[v].add(u)
    lbl = {n: n for n in nbrs}
    for _ in range(iters):
        new = {}
        for n in nbrs:
            votes = collections.Counter(lbl[m] for m in nbrs[n])
            votes[lbl[n]] += 1  # self-vote
            new[n] = min(votes, key=lambda c: (-votes[c], c))
        lbl = new
    df = spark.createDataFrame(list(edges), "src long, dst long")
    got = {
        r.node: r.community
        for r in graph.label_propagation(df, iters=iters).collect()
    }
    assert got == lbl


@settings(**_SETTINGS)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=7),
            st.integers(min_value=0, max_value=7),
        ),
        min_size=1,
        max_size=20,
    ),
    seeds=st.sets(
        st.integers(min_value=0, max_value=7), min_size=1, max_size=3
    ),
    directed=st.booleans(),
)
def test_bfs_distances_matches_brute_force(spark, edges, seeds, directed):
    """Frontier expansion == textbook queue BFS: min hops from any seed,
    seeds at 0 even when isolated, unreachable nodes absent — in both
    directed and symmetrized mode."""
    import collections

    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        graph,
    )

    adj = collections.defaultdict(set)
    for a, b in edges:
        if a == b:
            continue
        adj[a].add(b)
        if not directed:
            adj[b].add(a)
    expected = {s: 0 for s in seeds}
    queue = collections.deque(seeds)
    while queue:
        n = queue.popleft()
        for m in adj[n]:
            if m not in expected:
                expected[m] = expected[n] + 1
                queue.append(m)
    df = spark.createDataFrame(list(edges), "src long, dst long")
    sdf = spark.createDataFrame([(s,) for s in seeds], "node long")
    got = {
        r.node: r.dist
        for r in graph.bfs_distances(df, sdf, directed=directed).collect()
    }
    assert got == expected


def _sq8_replay(rows, queries, k, shortlist):
    """Pure-Python integer replay of operators/similarity.sq8_topk's
    APPROXIMATE stage (quantize -> per-dim [mn,mx] train -> code ->
    midpoint reconstruct -> int64 dot -> shortlist): an independent
    implementation of the same exact-integer formulas.  Python's `//`
    is floor division; every operand below is non-negative, so it
    agrees with Spark's truncating `div` exactly.  Returns the
    shortlist candidate set {(query_id, vec_id)}."""
    dim = len(rows[0][1])
    xe = {vid: [round(x * 1_000_000) for x in v] for vid, v in rows}
    mn = [min(e[i] for e in xe.values()) for i in range(dim)]
    mx = [max(e[i] for e in xe.values()) for i in range(dim)]

    def recon(e):
        out = []
        for i in range(dim):
            if mx[i] == mn[i]:
                out.append(mn[i])
            else:
                code = (e[i] - mn[i]) * 255 // (mx[i] - mn[i])
                out.append(mn[i] + (2 * code + 1) * (mx[i] - mn[i]) // 510)
        return out

    rv = {vid: recon(e) for vid, e in xe.items()}
    short = set()
    for qid, qv in queries:
        qe = [round(x * 1_000_000) for x in qv]
        scored = [
            (sum(qe[i] * rv[vid][i] for i in range(dim)), vid)
            for vid in rv
            if vid != qid
        ]
        scored.sort(key=lambda t: (-t[0], t[1]))
        short.update((qid, vid) for _, vid in scored[:shortlist])
    return short


@settings(**_SETTINGS)
@given(
    seed=st.integers(min_value=0, max_value=10_000),
    n=st.integers(min_value=8, max_value=24),
)
def test_sq8_shortlist_matches_integer_replay(spark, seed, n):
    """With shortlist == k, sq8_topk's output rows are exactly the
    approximate stage's survivors — so the (query_id, vec_id) set must
    equal an independent pure-Python replay of the quantize/
    reconstruct/score formulas.  Dim 0 is held constant to exercise
    the mx == mn degenerate branch."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        similarity,
    )

    dim = 8
    rows = [
        (
            i,
            [0.5]
            + [
                float(((i * 37 + j * 11 + seed) % 19) - 9) / 9.0
                for j in range(1, dim)
            ],
        )
        for i in range(n)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = similarity.queries_by_modulus(emb, 7)
    k = 3
    got = {
        (r.query_id, r.vec_id)
        for r in similarity.sq8_topk(emb, q, k=k, shortlist=k).collect()
    }
    queries = [(i, v) for i, v in rows if i % 7 == 0]
    assert got == _sq8_replay(rows, queries, k, k)


@settings(**_SETTINGS)
@given(
    seed=st.integers(min_value=0, max_value=10_000),
    parts=st.integers(min_value=1, max_value=7),
)
def test_sq8_topk_partition_invariant(spark, seed, parts):
    """SQ8 ranking is deterministic under any physical layout: the
    [mn, mx] train is a global min/max, scores are exact int64 sums,
    and every tie-break is total."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        similarity,
    )

    rows = [
        (i, [float(((i * 41 + j * 13 + seed) % 17) - 8) / 8.0 for j in range(8)])
        for i in range(20)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = similarity.queries_by_modulus(emb, 10)
    base = sorted(
        (r.query_id, r.vec_id, r.rank)
        for r in similarity.sq8_topk(emb, q, k=4, shortlist=8).collect()
    )
    shuf = sorted(
        (r.query_id, r.vec_id, r.rank)
        for r in similarity.sq8_topk(
            emb.repartition(parts), q, k=4, shortlist=8
        ).collect()
    )
    assert base == shuf


def test_sq8_full_shortlist_equals_brute_force(spark):
    """With the shortlist covering the whole corpus, the exact re-rank
    sees every vector, so sq8_topk degenerates to brute_force_topk —
    the recall ceiling the registered ann_sq8_recall eval measures
    against."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        similarity,
    )

    rows = [
        (i, [float(((i * 29 + j * 7) % 23) - 11) / 11.0 for j in range(8)])
        for i in range(18)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = similarity.queries_by_modulus(emb, 9)
    bf = sorted(
        (r.query_id, r.vec_id, r.cos_sim, r.rank)
        for r in similarity.brute_force_topk(emb, q, k=5).collect()
    )
    sq = sorted(
        (r.query_id, r.vec_id, r.cos_sim, r.rank)
        for r in similarity.sq8_topk(emb, q, k=5, shortlist=18).collect()
    )
    assert sq == bf


@settings(**_SETTINGS)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=1, max_value=10),
        ),
        min_size=1,
        max_size=25,
    ),
    seeds=st.lists(
        st.integers(min_value=0, max_value=9), min_size=1, max_size=3,
        unique=True,
    ),
    directed=st.booleans(),
)
def test_shortest_paths_matches_dijkstra(spark, edges, seeds, directed):
    """Bellman-Ford frontier relaxation == textbook Dijkstra: minimum
    total cost from any seed, seeds at 0 even when isolated,
    unreachable nodes absent, parallel edges collapsed to their
    cheapest — in both directed and symmetrized mode."""
    import heapq

    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        graph,
    )

    adj = {}
    for a, b, w in edges:
        if a == b:
            continue
        pairs = [(a, b)] if directed else [(a, b), (b, a)]
        for s, t in pairs:
            cur = adj.setdefault(s, {})
            cur[t] = min(cur.get(t, w), w)
    expected = {s: 0 for s in seeds}
    heap = [(0, s) for s in seeds]
    heapq.heapify(heap)
    while heap:
        d, n = heapq.heappop(heap)
        if d > expected.get(n, d):
            continue
        for m, w in adj.get(n, {}).items():
            nd = d + w
            if nd < expected.get(m, nd + 1):
                expected[m] = nd
                heapq.heappush(heap, (nd, m))
    df = spark.createDataFrame(list(edges), "src long, dst long, w long")
    sdf = spark.createDataFrame([(s,) for s in seeds], "node long")
    got = {
        r.node: r.dist
        for r in graph.shortest_paths(df, sdf, directed=directed).collect()
    }
    assert got == expected


def test_shortest_paths_raises_past_max_iter_and_validates(spark):
    import pytest as _pytest

    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        graph,
    )

    chain = spark.createDataFrame(
        [(0, 1, 5), (1, 2, 5), (2, 3, 5)], "src long, dst long, w long"
    )
    seeds = spark.createDataFrame([(0,)], "node long")
    with _pytest.raises(RuntimeError, match="max_iter"):
        graph.shortest_paths(chain, seeds, max_iter=2)
    # a 3-hop chain needs exactly 3 relaxation rounds (+1 to observe
    # the empty frontier): max_iter=4 converges
    got = {
        r.node: r.dist
        for r in graph.shortest_paths(chain, seeds, max_iter=4).collect()
    }
    assert got == {0: 0, 1: 5, 2: 10, 3: 15}
    bad = spark.createDataFrame([(0, 1, 0)], "src long, dst long, w long")
    with _pytest.raises(ValueError, match="positive integer weights"):
        graph.shortest_paths(bad, seeds)


def test_label_propagation_telemetry_converges_on_two_cliques(spark):
    """On two disjoint triangles every node adopts its clique's minimum
    id in round 1 and nothing moves afterwards — the telemetry list
    must show exactly that ([>0, 0, 0, 0]), so a caller can detect
    (non-)convergence instead of trusting the fixed round count."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        graph,
    )

    cliques = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12)],
        "src long, dst long",
    )
    moved: list = []
    out = {
        r.node: r.community
        for r in graph.label_propagation(cliques, iters=4, telemetry=moved).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}
    assert len(moved) == 4
    assert moved[0] > 0 and moved[1:] == [0, 0, 0]


def _blockhash_replay(data: bytes, bits: int = 64) -> list[int]:
    """Pure-Python integer replay of operators/multimodal.blockhash:
    bit j = 1 iff block-j sum · n > total · block-j length, blocks are
    the 64 equal splits [j·n div 64, (j+1)·n div 64).  Returns the four
    16-bit chunk values."""
    n = len(data)
    total = sum(data)
    out_bits = []
    for j in range(bits):
        s, e = (j * n) // bits, ((j + 1) * n) // bits
        out_bits.append(1 if sum(data[s:e]) * n > total * (e - s) else 0)
    return [
        sum(out_bits[16 * m + t] << t for t in range(16)) for m in range(4)
    ]


@settings(**_SETTINGS)
@given(
    blobs=st.lists(
        st.binary(min_size=0, max_size=200), min_size=1, max_size=12
    )
)
def test_blockhash_matches_integer_replay(spark, blobs):
    """blockhash's whole-batch numpy prefix-sum path == an independent
    pure-Python replay of the same integer formulas, empty blobs
    dropped, n_bytes exact."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        multimodal,
    )

    df = spark.createDataFrame(
        [(i, bytearray(b)) for i, b in enumerate(blobs)],
        "doc_id long, blob binary",
    )
    got = {
        r.doc_id: (r.n_bytes, [r.c0, r.c1, r.c2, r.c3])
        for r in multimodal.blockhash(df).collect()
    }
    expected = {
        i: (len(b), _blockhash_replay(b))
        for i, b in enumerate(blobs)
        if len(b) > 0
    }
    assert got == expected


@settings(**_SETTINGS)
@given(
    seed=st.integers(min_value=0, max_value=10_000),
    d=st.integers(min_value=0, max_value=3),
)
def test_phash_pairs_pigeonhole_complete(spark, seed, d):
    """The 4-chunk pigeonhole join finds EXACTLY the brute-force
    Hamming ball at every d <= 3 — on a corpus of base blobs plus
    same-length single-byte perturbations (the near-dup shape)."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        multimodal,
    )

    base = [
        bytes(((seed + i * 7 + k * 13) % 251) for k in range(40 + i))
        for i in range(5)
    ]
    corpus = list(enumerate(base))
    # same-length perturbations of each base blob
    for i, b in enumerate(base):
        mutated = bytearray(b)
        mutated[seed % len(b)] = (mutated[seed % len(b)] + 40) % 256
        corpus.append((100 + i, bytes(mutated)))
    fps = {i: _blockhash_replay(b) for i, b in corpus}
    ids = sorted(fps)
    expected = set()
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            ham = sum(
                bin(fa ^ fb).count("1")
                for fa, fb in zip(fps[a], fps[b])
            )
            if ham <= d:
                expected.add((a, b, ham))
    df = spark.createDataFrame(
        [(i, bytearray(b)) for i, b in corpus], "doc_id long, blob binary"
    )
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in multimodal.phash_near_dup_pairs(df, max_hamming=d).collect()
    }
    assert got == expected


def test_phash_pairs_rejects_oversized_radius(spark):
    import pytest as _pytest

    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        multimodal,
    )

    df = spark.createDataFrame([(1, bytearray(b"xy"))], "doc_id long, blob binary")
    with _pytest.raises(ValueError, match="pigeonhole"):
        multimodal.phash_near_dup_pairs(df, max_hamming=4)


@settings(**_SETTINGS)
@given(seed=st.integers(min_value=0, max_value=10_000))
def test_ivfsq_with_all_probes_equals_sq8(spark, seed):
    """Probing every coarse bucket makes the IVF restriction vacuous:
    ivfsq_topk must then equal the full-scan sq8_topk exactly — the
    composition's only approximation over SQ8 is the probe set."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        similarity,
    )

    rows = [
        (i, [float(((i * 31 + j * 17 + seed) % 21) - 10) / 10.0 for j in range(8)])
        for i in range(20)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = similarity.queries_by_modulus(emb, 10)
    full = sorted(
        (r.query_id, r.vec_id, r.cos_sim, r.rank)
        for r in similarity.sq8_topk(emb, q, k=4, shortlist=8).collect()
    )
    ivfsq = sorted(
        (r.query_id, r.vec_id, r.cos_sim, r.rank)
        for r in similarity.ivfsq_topk(
            emb, q, k=4, centroid_modulus=5, nprobe=4, shortlist=8
        ).collect()
    )
    assert ivfsq == full


def test_semantic_decontaminate_flags_and_monotone(spark):
    """A corpus vector identical to a benchmark vector scores
    max_cos = 1.0 and flags; lowering the threshold only ADDS flags
    (gate monotonicity); every corpus vector gets exactly one row."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        similarity,
    )

    ref_v = [float(((j * 5 + 1) % 11) - 5) / 5.0 for j in range(8)]
    rows = [
        (1, ref_v),  # exact leak
        (2, [-x for x in ref_v]),  # anti-correlated
        (3, [float(((j * 7 + 3) % 13) - 6) / 6.0 for j in range(8)]),
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    refs = spark.createDataFrame(
        [(100, ref_v)], "vec_id long, v array<double>"
    )
    strict = {
        r.vec_id: (r.max_cos, r.contaminated)
        for r in similarity.semantic_decontaminate(
            corpus, refs, threshold=0.99
        ).collect()
    }
    assert set(strict) == {1, 2, 3}
    assert strict[1] == (1.0, True)
    assert not strict[2][1]
    loose_flags = {
        r.vec_id
        for r in similarity.semantic_decontaminate(
            corpus, refs, threshold=-1.0
        ).collect()
        if r.contaminated
    }
    strict_flags = {k for k, (_, c) in strict.items() if c}
    assert strict_flags <= loose_flags
    assert loose_flags == {1, 2, 3}


def test_semantic_decontaminate_empty_refs_keeps_corpus(spark):
    """ADVICE r10: an EMPTY eval set must yield one (null, false) row
    per corpus vector — not an empty frame that makes a misconfigured
    refs source indistinguishable from a vanished corpus."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        similarity,
    )

    rows = [
        (i, [float(((i * 3 + j) % 7) - 3) / 3.0 for j in range(8)])
        for i in range(5)
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    refs = spark.createDataFrame([], "vec_id long, v array<double>")
    got = {
        r.vec_id: (r.max_cos, r.contaminated)
        for r in similarity.semantic_decontaminate(
            corpus, refs, threshold=0.5
        ).collect()
    }
    assert got == {i: (None, False) for i in range(5)}


def _scc_kosaraju(edges):
    """Reference SCC partition via Kosaraju's two-pass DFS, labeling
    each component by its minimum node id."""
    import collections

    fwd, bwd = collections.defaultdict(list), collections.defaultdict(list)
    nodes = set()
    for a, b in edges:
        if a == b:
            continue
        fwd[a].append(b)
        bwd[b].append(a)
        nodes.update((a, b))
    order, seen = [], set()
    for s in sorted(nodes):
        if s in seen:
            continue
        stack = [(s, iter(fwd[s]))]
        seen.add(s)
        while stack:
            n, it = stack[-1]
            advanced = False
            for m in it:
                if m not in seen:
                    seen.add(m)
                    stack.append((m, iter(fwd[m])))
                    advanced = True
                    break
            if not advanced:
                order.append(n)
                stack.pop()
    comp = {}
    for s in reversed(order):
        if s in comp:
            continue
        members, stack = [], [s]
        comp[s] = None
        while stack:
            n = stack.pop()
            members.append(n)
            for m in bwd[n]:
                if m not in comp:
                    comp[m] = None
                    stack.append(m)
        label = min(members)
        for m in members:
            comp[m] = label
    return comp


@settings(**_SETTINGS)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=-3, max_value=7),
            st.integers(min_value=-3, max_value=7),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_scc_matches_kosaraju(spark, edges):
    """Trim + forward-backward pivot peeling == textbook Kosaraju:
    identical component partition with min-id labels, self-loop-only
    nodes absent (no surviving edges), on arbitrary random digraphs —
    including NEGATIVE node ids (ADVICE r10: the direction-tag decode
    must be two's-complement, not sign-following % / div)."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        graph,
    )

    expected = _scc_kosaraju(edges)
    df = spark.createDataFrame(list(edges), "src long, dst long")
    got = {
        r.node: r.scc
        for r in graph.strongly_connected_components(df).collect()
    }
    assert got == expected


def test_scc_negative_ids_both_engines(spark):
    """Two 2-cycles over negative ids, bridged one-way: both engines
    label {-5,-3} by -5 and {-1,4} by -1.  Exercises the tagged-BFS
    decode (fwbw) and the min-color closure (coloring) on ids where
    Spark's % yields negative remainders."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        graph,
    )

    edges = [(-3, -5), (-5, -3), (-1, 4), (4, -1), (-5, 4)]
    expected = _scc_kosaraju(edges)
    df = spark.createDataFrame(edges, "src long, dst long")
    for algo in ("fwbw", "coloring"):
        got = {
            r.node: r.scc
            for r in graph.strongly_connected_components(
                df, algorithm=algo
            ).collect()
        }
        assert got == expected, algo


def test_scc_many_small_components_bounded_rounds(spark):
    """VERDICT r10 #3: a many-small-SCC graph (120 disjoint 2-cycles)
    must resolve in O(1) OUTER rounds under the default auto engine —
    one fwbw probe round, then a single coloring round retires every
    remaining root SCC at once.  Pure fwbw needs one driver round per
    component and must RAISE at the same max_iter."""
    import pytest

    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        graph,
    )

    n = 120
    edges = []
    for i in range(n):
        edges += [(2 * i, 2 * i + 1), (2 * i + 1, 2 * i)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.node: r.scc
        for r in graph.strongly_connected_components(
            df, max_iter=6
        ).collect()
    }
    assert got == {2 * i + j: 2 * i for i in range(n) for j in (0, 1)}
    with pytest.raises(RuntimeError, match="coloring"):
        graph.strongly_connected_components(
            df, max_iter=6, algorithm="fwbw"
        ).collect()


def test_scc_deep_graph_uses_bfs_bound_not_outer_bound(spark):
    """ADVICE r10: reach depth must be bounded by bfs_max_iter, not by
    the outer trim+peel budget — a single 12-cycle (one SCC, depth 12)
    must succeed at max_iter=3 with the default inner bound, and the
    inner bound's failure message must name bfs_max_iter."""
    import pytest

    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        graph,
    )

    cyc = [(i, (i + 1) % 12) for i in range(12)]
    df = spark.createDataFrame(cyc, "src long, dst long")
    got = {
        r.node: r.scc
        for r in graph.strongly_connected_components(
            df, max_iter=3
        ).collect()
    }
    assert got == {i: 0 for i in range(12)}
    # the failure message must name the CALLER's knob (bfs_max_iter),
    # not the inner bfs_distances max_iter parameter (ADVICE r11: a
    # bare match='max_iter' passed on the wrong message by substring)
    with pytest.raises(RuntimeError, match="bfs_max_iter"):
        graph.strongly_connected_components(
            df, max_iter=3, bfs_max_iter=4
        ).collect()


def _affinity_reference(incidence, minsup):
    """Pure-python replay of basket_affinity: exact counts, truncating
    integer division, Apriori item prune before the pair count."""
    from itertools import combinations

    base = set(incidence)
    n_baskets = len({b for b, _ in base})
    n_item = {}
    for _, it in base:
        n_item[it] = n_item.get(it, 0) + 1
    keep = {it for it, n in n_item.items() if n >= minsup}
    per_basket = {}
    for b, it in base:
        if it in keep:
            per_basket.setdefault(b, set()).add(it)
    n_both = {}
    for its in per_basket.values():
        for x, y in combinations(sorted(its), 2):
            n_both[(x, y)] = n_both.get((x, y), 0) + 1
    out = {}
    for (x, y), nb in n_both.items():
        if nb < minsup:
            continue
        na, nbb = n_item[x], n_item[y]
        out[(x, y)] = (
            na, nbb, nb, n_baskets,
            nb * 1_000_000 // na,
            nb * 1_000_000 // nbb,
            nb * n_baskets * 1_000_000 // (na * nbb),
        )
    return out


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),    # basket
            st.sampled_from(["a", "b", "c", "d"]),    # item
        ),
        min_size=1,
        max_size=40,
    ),
    minsup=st.integers(min_value=1, max_value=3),
)
def test_basket_affinity_matches_reference(spark, rows, minsup):
    """basket_affinity == the pure-python Apriori replay on arbitrary
    duplicate-bearing incidence lists: identical pair set and identical
    exact-integer support/confidence/lift at every min_support."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        associations,
    )

    df = spark.createDataFrame(list(rows), "basket long, item string")
    got = {
        (r.item_a, r.item_b): (
            r.n_a, r.n_b, r.n_both, r.n_baskets,
            r.conf_ab_e6, r.conf_ba_e6, r.lift_e6,
        )
        for r in associations.basket_affinity(
            df, min_support=minsup
        ).collect()
    }
    assert got == _affinity_reference(rows, minsup)


def test_basket_affinity_width_guard_raises_loud(spark):
    """The opt-in mega-basket guard must RAISE at the declared bound
    (never silently drop or crawl) and stay silent when every basket
    fits — including when the wide basket's items prune away under a
    higher min_support (the documented remediation)."""
    import pytest

    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        associations,
    )

    rows = [(0, f"i{k}") for k in range(6)] + [(1, "i0"), (1, "i1"), (2, "i0"), (2, "i1")]
    df = spark.createDataFrame(rows, "basket long, item string")
    with pytest.raises(RuntimeError, match="max_basket_width"):
        associations.basket_affinity(
            df, min_support=1, max_basket_width=5
        ).collect()
    ok = associations.basket_affinity(
        df, min_support=1, max_basket_width=6
    )
    assert ok.count() >= 1
    # min_support=3 prunes the singleton items of basket 0 -> width 2
    pruned = associations.basket_affinity(
        df, min_support=3, max_basket_width=5
    )
    assert {(r.item_a, r.item_b) for r in pruned.collect()} == {("i0", "i1")}


def test_scc_mixed_shape_switches_engine_after_giant(spark):
    """A one-shot auto probe would strand this shape on FW-BW: one
    10-cycle (retired first — covers most remaining nodes) feeding 40
    disjoint 2-cycles.  Per-round probing must switch to coloring
    after the first small pivot, resolving within a small outer
    budget; labels equal Kosaraju."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        graph,
    )

    edges = [(i, (i + 1) % 10) for i in range(10)]  # giant core 0..9
    n2 = 40
    for i in range(n2):
        a, b = 100 + 2 * i, 101 + 2 * i
        edges += [(a, b), (b, a), (5, a)]  # bridged from the giant
    expected = _scc_kosaraju(edges)
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.node: r.scc
        for r in graph.strongly_connected_components(
            df, max_iter=8
        ).collect()
    }
    assert got == expected


@settings(max_examples=3, deadline=None)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=-3, max_value=7),
            st.integers(min_value=-3, max_value=7),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_scc_coloring_engine_matches_kosaraju(spark, edges):
    """The coloring engine standalone (not just via auto's switch) ==
    Kosaraju on arbitrary random digraphs incl. negative ids — the
    min-color closure, root detection, and within-class backward reach
    must compose to exact SCCs regardless of shape."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        graph,
    )

    expected = _scc_kosaraju(edges)
    df = spark.createDataFrame(list(edges), "src long, dst long")
    got = {
        r.node: r.scc
        for r in graph.strongly_connected_components(
            df, algorithm="coloring"
        ).collect()
    }
    assert got == expected


def test_basket_affinity_empty_input(spark):
    """An empty incidence list yields an empty rule table with the full
    output schema (downstream unions/writers never see a shape change)."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        associations,
    )

    df = spark.createDataFrame([], "basket long, item string")
    out = associations.basket_affinity(df, min_support=1)
    assert out.count() == 0
    assert out.columns == [
        "item_a", "item_b", "n_a", "n_b", "n_both", "n_baskets",
        "conf_ab_e6", "conf_ba_e6", "lift_e6",
    ]


def _seq_kgrams_reference(rows, ks, minsup):
    """Pure-python replay of sequence_kgrams: per-key (order, tiebreak)
    total-order sort, contiguous k-grams, per-sequence containment
    support + corpus occurrence counts."""
    seqs = {}
    for key, order, tb, item in rows:
        seqs.setdefault(key, []).append((order, tb, item))
    out = {}
    for key, evs in seqs.items():
        items = [it for _, _, it in sorted(evs)]
        for k in ks:
            for i in range(len(items) - k + 1):
                gram = ">".join(items[i : i + k])
                users, nocc = out.setdefault((k, gram), (set(), 0))
                out[(k, gram)] = (users | {key}, nocc + 1)
    return {
        kg: (len(users), nocc)
        for kg, (users, nocc) in out.items()
        if len(users) >= minsup
    }


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),    # sequence key
            st.integers(min_value=0, max_value=9),    # order value (ties!)
            st.integers(min_value=0, max_value=999),  # tiebreak
            st.sampled_from(["a", "b", "c"]),         # item
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda r: (r[0], r[1], r[2]),       # total order per key
    ),
    minsup=st.integers(min_value=1, max_value=3),
)
def test_sequence_kgrams_matches_reference(spark, rows, minsup):
    """sequence_kgrams == the pure-python replay on arbitrary keyed
    sequences with colliding order values broken by the tiebreak:
    identical gram set, containment support, and occurrence counts at
    every min_support, for k=2 and k=3 mined together."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        associations,
    )

    df = spark.createDataFrame(
        list(rows), "seq long, ord long, tb long, item string"
    )
    got = {
        (r.k, r.gram): (r.n_seqs, r.n_occ)
        for r in associations.sequence_kgrams(
            df,
            ks=(2, 3),
            min_support=minsup,
            seq_col="seq",
            item_col="item",
            order_cols=("ord", "tb"),
        ).collect()
    }
    assert got == _seq_kgrams_reference(rows, (2, 3), minsup)


def _mad_reference(rows, k):
    """Pure-python replay of mad_outliers: lower medians as rank
    (n+1)//2 elements under the (value, id) total order, strict k·MAD
    flag, exact ints."""
    groups = {}
    for g, i, v in rows:
        if v is not None:
            groups.setdefault(g, []).append((v, i))
    out = {}
    for g, vs in groups.items():
        n = len(vs)
        med = sorted(vs)[(n + 1) // 2 - 1][0]
        devs = sorted((abs(v - med), i) for v, i in vs)
        mad = devs[(n + 1) // 2 - 1][0]
        out[g] = (
            n, med, mad,
            sum(1 for v, _ in vs if abs(v - med) > k * mad),
        )
    return out


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),      # group
            st.integers(min_value=0, max_value=999),    # id (tiebreak)
            st.integers(min_value=-1000, max_value=1000),  # value (ties!)
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda r: (r[0], r[1]),
    ),
    k=st.integers(min_value=0, max_value=6),
)
def test_mad_outliers_matches_reference(spark, rows, k):
    """mad_outliers == the pure-python order-statistic replay on
    arbitrary grouped integer values with duplicates: identical lower
    median, lower MAD, and strict k·MAD outlier count — including the
    degenerate MAD=0 regime (every off-median value flags) and
    negative values."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        profiling,
    )

    df = spark.createDataFrame(list(rows), "g long, id long, v long")
    got = {
        r.g: (r.n, r.med, r.mad, r.n_outliers)
        for r in profiling.mad_outliers(
            df, value_col="v", group_col="g", id_col="id", k=k
        ).collect()
    }
    assert got == _mad_reference(rows, k)


# --------------------------------------------------------------------------
# round 13: per-key weighted reservoir (A-ES min-of-uniforms) + SRP-LSH
# --------------------------------------------------------------------------


def _reservoir_reference(rows, k):
    """Pure-python replay of weighted_reservoir_per_key: per row, w
    md5-derived 60-bit draws, priority = min; per key keep the k
    smallest (priority, id)."""
    import hashlib

    by_key = {}
    for key, rid, w in rows:
        p = min(
            int(hashlib.md5(f"{rid}-{i}".encode()).hexdigest()[:15], 16)
            for i in range(1, w + 1)
        )
        by_key.setdefault(key, []).append((p, rid))
    return {
        (key, rid): p
        for key, lst in by_key.items()
        for p, rid in sorted(lst)[:k]
    }


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),    # key
            st.integers(min_value=0, max_value=999),  # id
            st.integers(min_value=1, max_value=8),    # weight
        ),
        min_size=1,
        max_size=30,
        unique_by=lambda r: r[1],
    ),
    k=st.integers(min_value=1, max_value=5),
)
def test_weighted_reservoir_matches_reference(spark, rows, k):
    """weighted_reservoir_per_key == the pure-python md5 min-of-uniforms
    replay: identical kept set AND identical winning priorities per
    (key, id), at every k."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.curation import (
        weighted_reservoir_per_key,
    )

    df = spark.createDataFrame(list(rows), "key long, id long, w long")
    got = {
        (r.key, r.id): r.priority
        for r in weighted_reservoir_per_key(
            df, k, key_col="key", weight_col="w", id_col="id"
        ).collect()
    }
    assert got == _reservoir_reference(rows, k)


def test_weighted_reservoir_rejects_out_of_range_weight(spark):
    """The draw count IS the weight, so out-of-range weights must raise
    row-side (never silently plan an unbounded sequence())."""
    import pytest as _pytest

    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.curation import (
        weighted_reservoir_per_key,
    )

    for bad in (0, 65, None):
        df = spark.createDataFrame([(1, 1, bad)], "key long, id long, w long")
        with _pytest.raises(Exception, match="weighted_reservoir_per_key"):
            weighted_reservoir_per_key(
                df, 1, key_col="key", weight_col="w", id_col="id"
            ).collect()


def _srp_candidate_reference(vecs, num_hyperplanes, bands, quant=1_000_000):
    """Pure-python replay of the SRP signature/banding stage: exact
    integer dots of round(v*quant) against the literal hyperplanes, band
    keys as bit-sets, candidates = pairs colliding in >= 1 band."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.dedup import (
        srp_weights,
    )

    dim = len(next(iter(vecs.values())))
    ws = srp_weights(num_hyperplanes, dim)
    r = num_hyperplanes // bands
    keys = {}
    for vid, v in vecs.items():
        vq = [int(round(x * quant)) for x in v]
        bits = [
            sum(q * w for q, w in zip(vq, ws[h])) >= 0
            for h in range(num_hyperplanes)
        ]
        keys[vid] = [
            sum(1 << (h - b * r) for h in range(b * r, (b + 1) * r) if bits[h])
            for b in range(bands)
        ]
    ids = sorted(vecs)
    return {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if any(ka == kb for ka, kb in zip(keys[a], keys[b]))
    }


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=99),  # vec_id
            st.lists(
                # components i/64: binary-exact in float AND double, and
                # x*1e6 = i*15625 exactly, so the quantization is
                # round-mode-independent across python/Spark/DuckDB
                st.integers(min_value=-64, max_value=64),
                min_size=4,
                max_size=4,
            ),
        ),
        min_size=2,
        max_size=12,
        unique_by=lambda r: r[0],
    ),
)
def test_srp_pairs_match_candidate_reference(spark, rows):
    """srp_lsh_pairs with a never-filtering threshold == the pure-python
    signature/band replay: the emitted pair set is EXACTLY the set of
    pairs colliding in at least one band (band-completeness: no
    candidate lost, none invented)."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.dedup import (
        srp_lsh_pairs,
    )

    vecs = {vid: [i / 64.0 for i in comps] for vid, comps in rows}
    df = spark.createDataFrame(
        [(vid, v) for vid, v in vecs.items()],
        "vec_id long, embedding array<float>",
    )
    got = {
        (r.vec_a, r.vec_b)
        for r in srp_lsh_pairs(
            df, threshold=-1.01, num_hyperplanes=8, bands=4
        ).collect()
    }
    assert got == _srp_candidate_reference(vecs, 8, 4)


def test_srp_registered_config_recall_floor(spark, sf_dir):
    """The REGISTERED dedup_srp_recall config (32 hyperplanes x 8
    bands) must keep recall >= 0.75 against the brute-force 0.4-cosine
    truth at sf0.001 — the computation is fully deterministic
    (md5-derived hyperplanes, fixed testdata), measured 52/66 = 0.788,
    so any drop below the floor means the signature/banding semantics
    changed, not noise.  Guards against a silent hyperplane regression
    (e.g. a weights or quantization change) that the bit-replay oracle
    would happily follow."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.plans.extras import (
        dedup_srp_recall,
    )

    row = dedup_srp_recall(spark, sf_dir).collect()[0]
    assert row.n_exact > 0
    assert row.n_overlap / row.n_exact >= 0.75, (
        f"SRP recall regressed: {row.n_overlap}/{row.n_exact}"
    )


def test_srp_rejects_uneven_bands(spark):
    import pytest as _pytest

    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.dedup import (
        srp_lsh_pairs,
    )

    df = spark.createDataFrame(
        [(1, [0.5, 0.5])], "vec_id long, embedding array<float>"
    )
    with _pytest.raises(ValueError, match="divide evenly"):
        srp_lsh_pairs(df, threshold=0.0, num_hyperplanes=10, bands=4)


def test_scc_coloring_reach_bound_names_bfs_max_iter(spark):
    """ADVICE r12: the COLORING engine's root backward-reach pass is
    also bounded by bfs_max_iter, so its frontier exhaustion must name
    that knob (not bfs_distances' inner max_iter) — and must not fire
    while the bound is adequate.  Graph: a 12-cycle plus 0→k shortcuts,
    so min-label coloring converges in ~2 rounds (0 feeds every node
    directly) while the backward reach to root 0 needs the full
    12-deep cycle walk — isolating the reach bound from the coloring
    fixpoint bound."""
    import pytest

    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        graph,
    )

    edges = [(i, (i + 1) % 12) for i in range(12)] + [
        (0, k) for k in range(2, 11)
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.node: r.scc
        for r in graph.strongly_connected_components(
            df, algorithm="coloring", bfs_max_iter=20
        ).collect()
    }
    assert got == {i: 0 for i in range(12)}
    with pytest.raises(RuntimeError, match="backward-reach"):
        graph.strongly_connected_components(
            df, algorithm="coloring", bfs_max_iter=5
        ).collect()


def test_sequence_kgrams_rejects_duplicate_ks(spark):
    """ADVICE r12: ks=(2, 2) would silently double n_occ — reject."""
    import pytest

    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        associations,
    )

    df = spark.createDataFrame(
        [(1, 1, "a"), (1, 2, "b")], "seq long, ord long, item string"
    )
    with pytest.raises(ValueError, match="duplicates"):
        associations.sequence_kgrams(
            df, ks=(2, 2), seq_col="seq", item_col="item",
            order_cols=("ord",),
        )


def test_sequence_kgrams_null_items_and_keys_excluded(spark):
    """ADVICE r12: a null item must not let concat_ws emit a shortened
    gram (oracle '||' would null it), and a null sequence key must not
    count in n_occ while missing from n_seqs.  Nulls are filtered up
    front: the non-null subsequence is mined, identically on both
    engines."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        associations,
    )

    rows = [
        # seq 1: a, NULL, b  -> filtered to (a, b): gram a>b
        (1, 1, "a"), (1, 2, None), (1, 3, "b"),
        # null seq key: must contribute to NOTHING
        (None, 1, "a"), (None, 2, "b"),
    ]
    df = spark.createDataFrame(rows, "seq long, ord long, item string")
    got = {
        (r.k, r.gram): (r.n_seqs, r.n_occ)
        for r in associations.sequence_kgrams(
            df, ks=(2,), seq_col="seq", item_col="item",
            order_cols=("ord",),
        ).collect()
    }
    assert got == {(2, "a>b"): (1, 1)}


def _followed_by_reference(rows, minsup):
    """Pure-python replay of followed_by_pairs: exists-i<j gapped
    containment via the first/last reduction, truncating-div e6
    confidence."""
    seqs = {}
    for seq, o1, o2, item in rows:
        if seq is not None and item is not None:
            seqs.setdefault(seq, []).append(((o1, o2), item))
    si = {}
    for seq, evs in seqs.items():
        order = [it for _, it in sorted(evs)]
        for pos, it in enumerate(order):
            f, l = si.get((seq, it), (None, None))
            si[(seq, it)] = (
                pos if f is None else f,
                pos,
            )
    n_ante = {}
    for (seq, it) in si:
        n_ante[it] = n_ante.get(it, 0) + 1
    n_both = {}
    by_seq = {}
    for (seq, it), (f, l) in si.items():
        by_seq.setdefault(seq, []).append((it, f, l))
    for items in by_seq.values():
        for a, fa, _ in items:
            for b, _, lb in items:
                if fa < lb:
                    n_both[(a, b)] = n_both.get((a, b), 0) + 1
    return {
        (a, b): (n_ante[a], n, n * 1_000_000 // n_ante[a])
        for (a, b), n in n_both.items()
        if n >= minsup
    }


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),    # seq key
            st.integers(min_value=0, max_value=9),    # order major (ties!)
            st.integers(min_value=0, max_value=999),  # order tiebreak
            st.sampled_from(["a", "b", "c"]),         # item
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda r: (r[0], r[2]),
    ),
    minsup=st.integers(min_value=1, max_value=3),
)
def test_followed_by_matches_reference(spark, rows, minsup):
    """followed_by_pairs == the pure-python gapped-containment replay
    on arbitrary keyed sequences with colliding order values broken by
    the tiebreak: identical pair set, supports, antecedent counts, and
    e6 confidences at every min_support — including a == b pairs
    (two-occurrence rule)."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        associations,
    )

    df = spark.createDataFrame(
        list(rows), "seq long, o1 long, o2 long, item string"
    )
    got = {
        (r.antecedent, r.consequent): (r.n_ante, r.n_both, r.conf_e6)
        for r in associations.followed_by_pairs(
            df,
            min_support=minsup,
            seq_col="seq",
            item_col="item",
            order_cols=("o1", "o2"),
        ).collect()
    }
    assert got == _followed_by_reference(rows, minsup)


def _stress_reference(edges, sources):
    """Pure-python stress centrality: all-pairs BFS sigma, then
    stress(v) = sum over s in sources, t in nodes of
    sigma_s(v) * sigma_v(t) where d(s,v) + d(v,t) = d(s,t), v not in
    {s, t}.  Emits every v reachable from at least one OTHER source
    (score 0 included)."""
    from collections import deque

    adj = {}
    for a, b in edges:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    nodes = set(adj)

    def bfs(s):
        dist, sigma = {s: 0}, {s: 1}
        q = deque([s])
        while q:
            u = q.popleft()
            for w in adj.get(u, ()):
                if w not in dist:
                    dist[w] = dist[u] + 1
                    sigma[w] = 0
                    q.append(w)
                if dist[w] == dist[u] + 1:
                    sigma[w] += sigma[u]
        return dist, sigma

    runs = {u: bfs(u) for u in nodes | set(sources)}
    out = {}
    for s in sources:
        ds, ss = runs[s]
        for v in ds:
            if v == s:
                continue
            out.setdefault(v, 0)
            dv, sv = runs[v]
            for t in dv:
                if t in (v, s):
                    continue
                if t in ds and ds[v] + dv[t] == ds[t]:
                    out[v] += ss[v] * sv[t]
    return out


@settings(**_SETTINGS)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=7),
            st.integers(min_value=0, max_value=7),
        ),
        min_size=1,
        max_size=16,
    ),
    n_src=st.integers(min_value=1, max_value=3),
)
def test_stress_centrality_matches_reference(spark, edges, n_src):
    """stress_centrality == the pure-python all-pairs-BFS replay on
    arbitrary small graphs (self-loops dropped, parallel edges deduped,
    multi-source overlap): identical node set and exact integer path
    counts through every interior vertex."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        graph,
    )

    sources = sorted({a for a, _ in edges})[:n_src]
    df = spark.createDataFrame(edges, "src long, dst long")
    sdf = spark.createDataFrame([(s,) for s in sources], "node long")
    got = {
        r.node: r.stress
        for r in graph.stress_centrality(df, sdf).collect()
    }
    assert got == _stress_reference(edges, sources)


def test_stress_centrality_raises_past_max_iter(spark):
    """Non-convergence raises loudly (truncated path counts are wrong
    answers, not approximations) — a 6-chain needs 5 rounds."""
    import pytest

    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        graph,
    )

    chain = [(i, i + 1) for i in range(6)]
    df = spark.createDataFrame(chain, "src long, dst long")
    sdf = spark.createDataFrame([(0,)], "node long")
    with pytest.raises(RuntimeError, match="max_iter"):
        graph.stress_centrality(df, sdf, max_iter=3).collect()


def test_stress_centrality_directed_chain_and_diamond(spark):
    """Directed mode: on the diamond 0→{1,2}→3→4, node 3 carries both
    0→4 paths plus its own continuations as interior vertex of 1→4 /
    2→4 when those are sources — pinned by hand-computed exact counts
    (sigma(3)=2 from source 0: h(3)=1 via 4 → stress contribution 2;
    nodes 1,2 each sigma 1 · h 2)."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        graph,
    )

    edges = [(0, 1), (0, 2), (1, 3), (2, 3), (3, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    sdf = spark.createDataFrame([(0,)], "node long")
    got = {
        r.node: r.stress
        for r in graph.stress_centrality(df, sdf, directed=True).collect()
    }
    # from source 0: sigma = {1:1, 2:1, 3:2, 4:2}; h = {1:2, 2:2, 3:1, 4:0}
    assert got == {1: 2, 2: 2, 3: 2, 4: 0}
    # reversed direction: nothing reachable from 0 -> empty
    rev = spark.createDataFrame([(b, a) for a, b in edges], "src long, dst long")
    assert graph.stress_centrality(rev, sdf, directed=True).count() == 0


def _brute_maximal_runs(docs: dict, k: int) -> set:
    """Brute-force maximal common token runs of length >= k for every
    doc pair: scan each diagonal of the token match matrix, record
    (doc_a, doc_b, a_start, b_start, length) per maximal run."""
    out = set()
    ids = sorted(docs)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            da, db = ids[x], ids[y]
            ta, tb = docs[da], docs[db]
            for diag in range(-len(tb) + 1, len(ta)):
                i = max(0, diag)
                j = i - diag
                run = 0
                while i <= len(ta) and j <= len(tb):
                    if i < len(ta) and j < len(tb) and ta[i] == tb[j]:
                        run += 1
                    else:
                        if run >= k:
                            out.add((da, db, i - run, j - run, run))
                        run = 0
                    i += 1
                    j += 1
    return out


@settings(**_SETTINGS)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c"]), min_size=0, max_size=24
        ),
        min_size=2,
        max_size=6,
    )
)
def test_substring_runs_match_brute_force(spark, token_lists):
    """substring_run_pairs (cap never biting) == the brute-force
    diagonal scan of every pair's token match matrix: the k-gram
    island construction finds EXACTLY the maximal common runs >= k,
    wherever they start.  Tiny 3-token alphabet so overlaps are
    dense and runs collide/abut in adversarial ways."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.dedup import (
        substring_run_pairs,
    )

    k = 3
    docs = {i: toks for i, toks in enumerate(token_lists)}
    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in docs.items()],
        "doc_id long, text string",
    )
    got = {
        (r.doc_a, r.doc_b, r.a_start, r.b_start, r.match_tokens)
        for r in substring_run_pairs(
            df, k=k, max_gram_occ=10_000_000
        ).collect()
    }
    # empty token lists serialize as "" -> tokens() yields [""] not [];
    # both sides must see the same corpus, so replay what Spark parses
    parsed = {i: ("" if not t else " ".join(t)).split(" ") for i, t in docs.items()}
    assert got == _brute_maximal_runs(parsed, k)


def test_substring_runs_gram_cap_drops_boilerplate(spark):
    """The corpus-wide per-gram occurrence cap: a gram occurring in
    more docs than the cap allows is excluded BEFORE the pair join
    (the boilerplate guard), deterministically shortening/dropping the
    affected runs — here the 3-gram shared by three docs vanishes at
    cap 2 (3 occurrences > 2) and the rarer longer run survives."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.dedup import (
        substring_run_pairs,
    )

    boiler = "the quick fox"
    df = spark.createDataFrame(
        [
            (1, boiler + " alpha beta gamma delta"),
            (2, boiler + " epsilon zeta"),
            (3, boiler + " eta theta"),
            (4, "unrelated words then alpha beta gamma delta ends"),
        ],
        "doc_id long, text string",
    )
    uncapped = {
        (r.doc_a, r.doc_b, r.match_tokens)
        for r in substring_run_pairs(df, k=3, max_gram_occ=200).collect()
    }
    capped = {
        (r.doc_a, r.doc_b, r.match_tokens)
        for r in substring_run_pairs(df, k=3, max_gram_occ=2).collect()
    }
    # uncapped: every pair of 1/2/3 shares the boilerplate 3-gram, and
    # 1-4 share 'alpha beta gamma delta' (4 tokens)
    assert (1, 2, 3) in uncapped and (1, 3, 3) in uncapped
    assert (2, 3, 3) in uncapped and (1, 4, 4) in uncapped
    # capped at 2: the boilerplate gram occurs 3 times -> excluded;
    # the 1-4 run is built from two 3-grams each occurring twice
    assert capped == {(1, 4, 4)}


@settings(**_SETTINGS)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc"]),
            min_size=0,
            max_size=20,
        ),
        min_size=1,
        max_size=4,
    ),
    st.integers(min_value=2, max_value=4),
)
def test_substring_self_runs_match_brute_force(spark, doc_tokens, k):
    """substring_self_run_pairs == the brute-force per-document
    diagonal scan: for every offset d >= 1, every maximal run of
    consecutive positions i with t[i:i+k] == t[i+d:i+d+k] — including
    overlapping (period < k) self-matches — and nothing else.  Cap
    disabled (10_000) so the scan needs no cap replay; the >= 2
    occurrence floor is vacuous for self-pairs (a self-matching gram
    occurs >= 2 times by definition)."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.dedup import (
        substring_self_run_pairs,
    )

    exp = set()
    for doc_id, t in enumerate(doc_tokens):
        n = len(t)
        for d in range(1, n):
            run_start = None
            for i in range(0, n - d - k + 2):
                hit = i <= n - d - k and t[i : i + k] == t[i + d : i + d + k]
                if hit and run_start is None:
                    run_start = i
                elif not hit and run_start is not None:
                    exp.add(
                        (doc_id, run_start, run_start + d, i - 1 - run_start + k)
                    )
                    run_start = None

    df = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(doc_tokens)],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.a_start, r.b_start, r.match_tokens)
        for r in substring_self_run_pairs(
            df, k=k, max_gram_occ=10_000
        ).collect()
    }
    assert got == exp


def test_substring_self_runs_rejects_bad_params(spark):
    import pytest as _pytest

    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.dedup import (
        substring_self_run_pairs,
    )

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="min_tokens"):
        substring_self_run_pairs(df, k=5, min_tokens=4)
    with _pytest.raises(ValueError, match="k must be"):
        substring_self_run_pairs(df, k=1)
    with _pytest.raises(ValueError, match="max_gram_occ"):
        substring_self_run_pairs(df, k=3, max_gram_occ=1)


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.lists(
                st.sampled_from(["aa", "bb", "cc"]),
                min_size=0,
                max_size=15,
            ),
            st.lists(
                st.tuples(
                    st.integers(min_value=0, max_value=18),
                    st.integers(min_value=1, max_value=8),
                ),
                min_size=0,
                max_size=4,
            ),
        ),
        min_size=1,
        max_size=4,
    )
)
def test_apply_substring_cuts_matches_python_splice(spark, doc_specs):
    """apply_substring_cuts == the pure-python positional splice: kept
    tokens are exactly those whose 0-based position is covered by NO
    interval (overlapping/out-of-range intervals included — the
    positional filter is idempotent and clips naturally), text is the
    kept stream space-joined, n_tokens/n_removed exact."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.dedup import (
        apply_substring_cuts,
    )

    docs, cut_rows = [], []
    exp = {}
    for doc_id, (toks, ivs) in enumerate(doc_specs):
        docs.append((doc_id, " ".join(toks) if toks else None))
        covered = set()
        for s, ln in ivs:
            cut_rows.append((doc_id, s, s + ln))
            covered |= set(range(s, s + ln))
        if toks:
            kept = [t for i, t in enumerate(toks) if i not in covered]
            exp[doc_id] = (
                " ".join(kept), len(toks), len(toks) - len(kept)
            )
        else:
            # "" tokenizes to [''] — one empty token, cuttable like any
            kept0 = 0 not in covered
            exp[doc_id] = ("" if kept0 else "", 1, 0 if kept0 else 1)

    ddf = spark.createDataFrame(docs, "doc_id long, text string")
    cdf = spark.createDataFrame(
        cut_rows or [(None, None, None)],
        "doc_id long, cut_start long, cut_end long",
    ).filter(F.col("doc_id").isNotNull())
    got = {
        r.doc_id: (r.text, r.n_tokens, r.n_removed)
        for r in apply_substring_cuts(ddf, cdf).collect()
    }
    for doc_id, (toks, _) in enumerate(doc_specs):
        if docs[doc_id][1] is None:
            assert got[doc_id] == (None, 0, 0)
        else:
            assert got[doc_id] == exp[doc_id]


def test_substring_apply_fixpoint_on_testdata(spark):
    """The Lee et al. fixpoint property, end-to-end on the real corpus
    at sf0.001: after mine → cut → apply, re-mining the CLEANED corpus
    at the same k finds ZERO cross-document runs (keep-first leaves
    exactly one copy of every duplicated span), and the removal
    accounting ties out (tokens_removed == Σ cut_tokens; every doc
    emitted exactly once)."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.dedup import (
        apply_substring_cuts,
        substring_cut_spans,
        substring_removal_summary,
        substring_run_pairs,
    )
    from stedi_human_balance_redis_kafka_spark_streaming_spark.sources.files import (
        load_table,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    runs = substring_run_pairs(docs, k=20, max_gram_occ=200)
    cuts = substring_cut_spans(runs).persist()
    cleaned = apply_substring_cuts(docs, cuts).persist()

    assert cleaned.count() == docs.count()
    cut_total = cuts.agg(F.sum("cut_tokens")).first()[0]
    summ = substring_removal_summary(cleaned).first()
    assert summ.tokens_removed == cut_total
    assert summ.docs_touched == cuts.select("doc_id").distinct().count()
    assert 0 < summ.tokens_removed < summ.tokens_total

    # fixpoint: the cleaned corpus has no >= 20-token cross-doc run
    remined = substring_run_pairs(
        cleaned.select("doc_id", "text"), k=20, max_gram_occ=200
    )
    assert remined.count() == 0
    cuts.unpersist()
    cleaned.unpersist()


def test_substring_incremental_equals_restricted_rebuild(spark):
    """The incremental miner's equality contract (VERDICT r17
    next-round #5, pinned on the real corpus): mining a drop
    (doc_id % 10 == 7) against the established corpus's gram index
    equals substring_run_pairs over the FULL corpus restricted to
    runs with >= 1 drop endpoint — bit for bit, including positions
    and lengths (the combined floor/cap construction).  Checked at
    sf0.001 AND sf0.01: the drop-internal (new×new) leg is non-empty
    only at sf0.01, so both legs get a non-trivial pin, and the leg
    booleans must classify every run correctly."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.dedup import (
        substring_gram_index,
        substring_incremental_runs,
        substring_run_pairs,
    )
    from stedi_human_balance_redis_kafka_spark_streaming_spark.sources.files import (
        load_table,
    )

    drop_leg_seen = 0
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        docs = load_table(spark, sf, "documents")
        arrivals = docs.filter(F.col("doc_id") % 10 == 7).select(
            "doc_id", "text"
        )
        corpus = docs.filter(F.col("doc_id") % 10 != 7).select(
            "doc_id", "text"
        )
        index = substring_gram_index(corpus, k=20, max_gram_occ=200)
        inc = substring_incremental_runs(
            arrivals, index, k=20, max_gram_occ=200
        ).collect()
        inc_runs = {
            (r.doc_a, r.doc_b, r.a_start, r.b_start, r.match_tokens)
            for r in inc
        }
        # the leg booleans match actual membership
        for r in inc:
            assert r.a_is_new == (r.doc_a % 10 == 7)
            assert r.b_is_new == (r.doc_b % 10 == 7)
            assert r.a_is_new or r.b_is_new
        drop_leg_seen += sum(1 for r in inc if r.a_is_new and r.b_is_new)
        full = substring_run_pairs(docs, k=20, max_gram_occ=200)
        restricted = {
            (r.doc_a, r.doc_b, r.a_start, r.b_start, r.match_tokens)
            for r in full.collect()
            if r.doc_a % 10 == 7 or r.doc_b % 10 == 7
        }
        assert inc_runs == restricted
        assert len(inc_runs) > 0
    assert drop_leg_seen > 0  # the new×new leg exercised for real


def test_substring_gram_counts_sidecar_equivalence(spark):
    """The count-sidecar fast path (r18 optimization): the sidecar
    substring_gram_counts(index) equals re-aggregating the index row
    for row (the index stores every surviving occurrence, so groupBy
    counts ARE the build-time corpus-wide counts), and the incremental
    miner fed the sidecar via index_counts= returns bit-identical runs
    to the re-aggregating default — on the real sf0.001 corpus, both
    legs present in the run set."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.dedup import (
        substring_gram_counts,
        substring_gram_index,
        substring_incremental_runs,
    )
    from stedi_human_balance_redis_kafka_spark_streaming_spark.sources.files import (
        load_table,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    arrivals = docs.filter(F.col("doc_id") % 10 == 7).select(
        "doc_id", "text"
    )
    corpus = docs.filter(F.col("doc_id") % 10 != 7).select(
        "doc_id", "text"
    )
    index = substring_gram_index(corpus, k=20, max_gram_occ=200)
    sidecar = substring_gram_counts(index)
    # (a) sidecar == independent re-aggregation of the index
    reagg = {
        r.g: r.n
        for r in index.groupBy("g")
        .agg(F.count("*").cast("long").alias("n"))
        .collect()
    }
    side = {r.g: r.n_occ for r in sidecar.collect()}
    assert side == reagg and len(side) > 0
    # (b) miner(index_counts=sidecar) == miner() bit for bit
    key = lambda r: (  # noqa: E731
        r.doc_a, r.doc_b, r.a_start, r.b_start, r.match_tokens,
        r.a_is_new, r.b_is_new,
    )
    base = sorted(
        map(key, substring_incremental_runs(
            arrivals, index, k=20, max_gram_occ=200
        ).collect())
    )
    fast = sorted(
        map(key, substring_incremental_runs(
            arrivals, index, k=20, max_gram_occ=200,
            index_counts=sidecar,
        ).collect())
    )
    assert fast == base and len(base) > 0


def test_substring_self_cut_apply_composition(spark):
    """The INTRA-document removal pipeline composes from the same
    parts: substring_cut_spans is doc/start-column parameterized, so
    feeding it the SELF-run frame (doc_col='doc_id',
    start_col='b_start' — keep the FIRST occurrence, cut the later
    one) and applying the merged intervals removes every intra-doc
    repeat: re-mining self-runs on the cleaned docs finds nothing,
    and the first occurrence survives verbatim."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.dedup import (
        apply_substring_cuts,
        substring_cut_spans,
        substring_self_run_pairs,
    )

    para = "alpha bravo charlie delta echo foxtrot"
    docs = spark.createDataFrame(
        [
            (1, "intro " + para + " middle words " + para + " outro"),
            (2, "x x x x x x"),
            (3, "clean text with no repeats at all"),
        ],
        "doc_id long, text string",
    )
    self_runs = substring_self_run_pairs(docs, k=3)
    cuts = substring_cut_spans(
        self_runs, doc_col="doc_id", start_col="b_start"
    )
    cleaned = apply_substring_cuts(docs, cuts)
    got = {r.doc_id: (r.text, r.n_removed) for r in cleaned.collect()}
    # doc 1: second copy of the 6-token paragraph removed, first kept
    assert got[1] == (
        "intro " + para + " middle words outro", 6
    )
    # doc 2: period-1 repetition collapses to its first token (the
    # diag-1 maximal run is (0, 1, 5) ⇒ cut [1, 6))
    assert got[2] == ("x", 5)
    assert got[3][1] == 0
    # fixpoint: no intra-doc repeats remain in the cleaned corpus
    assert substring_self_run_pairs(
        cleaned.select("doc_id", "text"), k=3
    ).count() == 0


@settings(**_SETTINGS)
@given(
    st.lists(
        st.lists(
            st.sampled_from("abc"), min_size=0, max_size=12
        ),
        min_size=1,
        max_size=4,
    ),
    st.lists(
        st.lists(
            st.sampled_from("abc"), min_size=0, max_size=12
        ),
        min_size=1,
        max_size=4,
    ),
)
def test_stitch_flag_runs_equivalence_hypothesis(
    spark, stream_toks, index_toks
):
    """stitch_flag_runs' equivalence contract as a hypothesis
    invariant over random tiny-alphabet corpora (heavy accidental
    repetition — the adversarial case for diagonal stitching): with
    non-binding caps, stitching the probe's gram-collision flags
    equals substring_run_pairs over stream ∪ index restricted to
    stream×index pairs, orientation-normalized, for ANY pair of
    corpora."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        dedup,
    )
    from stedi_human_balance_redis_kafka_spark_streaming_spark.streaming import (
        stateful,
    )

    k = 2
    # stream ids 1..n, index ids 100..: disjoint; also exercise a
    # stream id ABOVE the index range for orientation coverage
    stream_rows = [
        (1000 + i if i == 0 else i + 1, " ".join(t))
        for i, t in enumerate(stream_toks)
    ]
    index_rows = [(100 + i, " ".join(t)) for i, t in enumerate(index_toks)]
    sdf = spark.createDataFrame(stream_rows, "doc_id long, text string")
    idf = spark.createDataFrame(index_rows, "doc_id long, text string")
    flags = stateful.streaming_substring_flags(
        sdf, idf, k=k, max_gram_occ=10_000
    )
    got = {
        (r.doc_id, r.index_doc_id, r.a_start, r.b_start, r.match_tokens)
        for r in dedup.stitch_flag_runs(flags, k=k).collect()
    }
    stream_ids = {d for d, _ in stream_rows}
    exp = set()
    for r in dedup.substring_run_pairs(
        idf.unionByName(sdf), k=k, max_gram_occ=10_000
    ).collect():
        a_s = r.doc_a in stream_ids
        if a_s == (r.doc_b in stream_ids):
            continue
        if a_s:
            exp.add(
                (r.doc_a, r.doc_b, r.a_start, r.b_start, r.match_tokens)
            )
        else:
            exp.add(
                (r.doc_b, r.doc_a, r.b_start, r.a_start, r.match_tokens)
            )
    assert got == exp


def test_registered_self_apply_fixpoint_on_real_corpus(spark):
    """The REGISTERED intra-document cleaned corpus
    (dedup_substring_self_apply, r16 — Lee et al.'s first removal step
    driver-verified end-to-end) satisfies the fixpoint property on the
    real sf0.001 corpus: re-mining self-runs on the cleaned output at
    the registration's k finds ZERO intra-document runs, every planted
    document was touched (it lost at least its re-appended 40-token
    paragraph), and the removal accounting is exact."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.dedup import (
        substring_self_run_pairs,
    )
    from stedi_human_balance_redis_kafka_spark_streaming_spark.plans.extras import (
        _SUBSTR_K,
        _SUBSTR_MAX_OCC,
        _SUBSTR_SELF_LEN,
        dedup_substring_self_apply,
    )

    SF = "/root/testdata/sf0.001"
    cleaned = dedup_substring_self_apply(spark, SF).persist()
    touched = cleaned.filter(F.col("n_removed") > 0)
    n_touched = touched.count()
    assert n_touched > 0
    # keep-first within the doc: every touched doc loses >= the
    # planted paragraph, never its whole stream
    assert touched.filter(
        (F.col("n_removed") < _SUBSTR_SELF_LEN)
        | (F.col("n_removed") >= F.col("n_tokens"))
    ).count() == 0
    remined = substring_self_run_pairs(
        cleaned.select("doc_id", "text"),
        k=_SUBSTR_K,
        max_gram_occ=_SUBSTR_MAX_OCC,
    )
    assert remined.count() == 0
    cleaned.unpersist()


def test_registered_pipeline_double_fixpoint_on_real_corpus(spark):
    """The REGISTERED composed Lee-et-al. pipeline
    (dedup_substring_pipeline, r17 — intra-clean FIRST, then cross-
    dedup THE CLEANED corpus, the reference order) satisfies the DOUBLE
    fixpoint on the real sf0.001 corpus: re-mining the FINAL output at
    the registration's k finds ZERO intra-document AND ZERO cross-
    document runs.  Accounting ties out stage-by-stage: n_tokens is the
    planted-view count, n_removed_intra equals the registered
    self-apply's per-doc removal (stage 1 IS that query's plan), both
    planted and cross-contaminated docs are actually touched, and the
    final token count is n_tokens − n_removed_intra − n_removed_cross
    (disjoint-stage removal)."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.functions.hashing import (
        tokens,
    )
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.dedup import (
        substring_run_pairs,
        substring_self_run_pairs,
    )
    from stedi_human_balance_redis_kafka_spark_streaming_spark.plans.extras import (
        _SUBSTR_K,
        _SUBSTR_MAX_OCC,
        dedup_substring_pipeline,
        dedup_substring_self_apply,
    )

    SF = "/root/testdata/sf0.001"
    final = dedup_substring_pipeline(spark, SF).persist()
    assert final.filter(F.col("n_removed_intra") > 0).count() > 0
    assert final.filter(F.col("n_removed_cross") > 0).count() > 0
    # stage-1 accounting == the registered self-apply query's, per doc
    intra = {
        r.doc_id: (r.n_tokens, r.n_removed)
        for r in dedup_substring_self_apply(spark, SF)
        .select("doc_id", "n_tokens", "n_removed")
        .collect()
    }
    for r in final.collect():
        assert intra[r.doc_id] == (r.n_tokens, r.n_removed_intra)
    # final token count = planted count minus both stages' removals
    # (FULLY-cut docs — whole-document duplicates of an earlier doc —
    # emit text '' whose re-split is [''], so count them as 0 tokens)
    n_final = F.when(F.col("text") == "", F.lit(0)).otherwise(
        F.size(tokens(F.col("text")))
    )
    bad = final.filter(
        F.col("text").isNotNull()
        & (
            n_final
            != F.col("n_tokens")
            - F.col("n_removed_intra")
            - F.col("n_removed_cross")
        )
    )
    assert bad.count() == 0
    # the DOUBLE fixpoint (Lee et al.): nothing left to mine, in
    # either direction, on the composed output
    out = final.select("doc_id", "text")
    assert substring_self_run_pairs(
        out, k=_SUBSTR_K, max_gram_occ=_SUBSTR_MAX_OCC
    ).count() == 0
    assert substring_run_pairs(
        out, k=_SUBSTR_K, max_gram_occ=_SUBSTR_MAX_OCC
    ).count() == 0
    final.unpersist()


def test_substring_runs_rejects_bad_params(spark):
    import pytest as _pytest

    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.dedup import (
        substring_run_pairs,
    )

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="min_tokens"):
        substring_run_pairs(df, k=5, min_tokens=4)
    with _pytest.raises(ValueError, match="k must be"):
        substring_run_pairs(df, k=1)
    with _pytest.raises(ValueError, match="max_gram_occ"):
        substring_run_pairs(df, k=3, max_gram_occ=1)


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=7),
            st.integers(min_value=0, max_value=7),
        ),
        min_size=1,
        max_size=24,
    ),
    st.integers(min_value=1, max_value=3),
)
def test_modularity_matches_pure_python(spark, raw_edges, n_comm):
    """modularity_score == the pure-python integer replay of
    Q's exact numerator/denominator on the canonicalized simple graph:
    per-community (n_nodes, in_edges, deg_sum, 4·m·in_c − d_c²) and the
    sign-safe truncated q_e6.  Communities assigned node % n_comm so
    every node is covered (the total-partition contract)."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.graph import (
        modularity_score,
    )

    und = {
        (min(s, d), max(s, d)) for s, d in raw_edges if s != d
    }
    if not und:
        return  # empty simple graph: no rows either way
    nodes = sorted({n for e in und for n in e})
    comm = {n: n % n_comm for n in nodes}
    m = len(und)
    deg = {n: 0 for n in nodes}
    for u, v in und:
        deg[u] += 1
        deg[v] += 1
    exp = {}
    for c in sorted(set(comm.values())):
        members = [n for n in nodes if comm[n] == c]
        in_c = sum(1 for u, v in und if comm[u] == c and comm[v] == c)
        d_c = sum(deg[n] for n in members)
        exp[c] = (len(members), in_c, d_c, 4 * m * in_c - d_c * d_c)
    tot = sum(v[3] for v in exp.values())
    q_e6 = (
        (tot * 1_000_000) // (4 * m * m)
        if tot >= 0
        else -((-tot * 1_000_000) // (4 * m * m))
    )

    edf = spark.createDataFrame(
        [(s, d) for s, d in raw_edges], "src long, dst long"
    )
    cdf = spark.createDataFrame(
        list(comm.items()), "node long, community long"
    )
    got = {
        r.community: (
            r.n_nodes,
            r.in_edges,
            r.deg_sum,
            r.contrib_num,
            r.q_e6,
        )
        for r in modularity_score(edf, cdf).collect()
    }
    assert got == {c: (*v, q_e6) for c, v in exp.items()}


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),   # doc_b
            st.integers(min_value=0, max_value=30),  # b_start
            st.integers(min_value=1, max_value=12),  # match_tokens
        ),
        min_size=1,
        max_size=30,
    )
)
def test_substring_cut_spans_match_interval_merge(spark, raw):
    """substring_cut_spans == the pure-python sweep merge of each doc's
    [start, start+len) intervals (touching intervals merge): the
    gaps-and-islands windows reproduce the classic sorted sweep for
    any overlap pattern, duplicates included."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.dedup import (
        substring_cut_spans,
    )

    runs = spark.createDataFrame(
        [(0, d, 0, s, ln) for d, s, ln in raw],
        "doc_a long, doc_b long, a_start long, b_start long,"
        " match_tokens long",
    )
    got = {
        (r.doc_id, r.cut_start, r.cut_end, r.cut_tokens)
        for r in substring_cut_spans(runs).collect()
    }
    exp = set()
    by_doc: dict = {}
    for d, s, ln in raw:
        by_doc.setdefault(d, []).append((s, s + ln))
    for d, spans in by_doc.items():
        spans.sort()
        cur_s, cur_e = spans[0]
        for s, e in spans[1:]:
            if s > cur_e:
                exp.add((d, cur_s, cur_e, cur_e - cur_s))
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        exp.add((d, cur_s, cur_e, cur_e - cur_s))
    assert got == exp


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_modularity_of_cc_partition_invariants(spark, raw_edges):
    """Cross-operator consistency (the coreness/scc verification style):
    scoring the CONNECTED-COMPONENTS partition with modularity_score
    must satisfy the exact identities a components partition implies —
    every edge is internal to exactly one component (Σ in_edges = m,
    per-component in_edges = that component's edge count, deg_sum =
    2·in_edges), and Q >= 0 (Q = 1 − Σ(d_c/2m)², with Σd_c = 2m)."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.curation import (
        connected_components,
    )
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.graph import (
        modularity_score,
    )

    und = {(min(s, d), max(s, d)) for s, d in raw_edges if s != d}
    if not und:
        return
    m = len(und)
    edf = spark.createDataFrame(sorted(und), "doc_a long, doc_b long")
    cc = connected_components(edf)  # referenced until the action below
    comm = cc.select(
        F.col("doc_id").alias("node"), F.col("cluster_id").alias("community")
    )
    rows = modularity_score(
        edf.select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        ),
        comm,
    ).collect()
    assert sum(r.in_edges for r in rows) == m
    for r in rows:
        assert r.deg_sum == 2 * r.in_edges  # components close over edges
        assert r.contrib_num == 4 * m * r.in_edges - r.deg_sum**2
        assert r.q_e6 >= 0


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=7),
            st.integers(min_value=0, max_value=7),
        ),
        min_size=1,
        max_size=24,
    ),
    st.integers(min_value=1, max_value=3),
)
def test_modularity_refine_matches_pure_python(spark, raw_edges, n_comm):
    """modularity_refine_step == the pure-python integer replay of one
    synchronous greedy sweep: per node, T(c) = 2m·k_{i,c} − k_i·(d_c −
    k_i·[c = own]) over neighbor communities + own, argmax with
    (T DESC, c ASC) tie-break, move iff strictly better than staying —
    all moves applied simultaneously against the old assignment."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.graph import (
        modularity_refine_step,
    )

    und = {(min(s, d), max(s, d)) for s, d in raw_edges if s != d}
    if not und:
        return
    nodes = sorted({n for e in und for n in e})
    comm = {n: n % n_comm for n in nodes}
    m = len(und)
    deg = {n: 0 for n in nodes}
    adj = {n: [] for n in nodes}
    for u, v in und:
        deg[u] += 1
        deg[v] += 1
        adj[u].append(v)
        adj[v].append(u)
    d_c: dict = {}
    for n in nodes:
        d_c[comm[n]] = d_c.get(comm[n], 0) + deg[n]
    exp = {}
    for i in nodes:
        k_ic: dict = {}
        for j in adj[i]:
            k_ic[comm[j]] = k_ic.get(comm[j], 0) + 1
        cand = set(k_ic) | {comm[i]}
        scores = {
            c: 2 * m * k_ic.get(c, 0)
            - deg[i] * (d_c[c] - (deg[i] if c == comm[i] else 0))
            for c in cand
        }
        best = min(cand, key=lambda c: (-scores[c], c))
        exp[i] = best if scores[best] > scores[comm[i]] else comm[i]

    edf = spark.createDataFrame(
        [(s, d) for s, d in raw_edges], "src long, dst long"
    )
    cdf = spark.createDataFrame(
        list(comm.items()), "node long, community long"
    )
    got = {
        r.node: r.community
        for r in modularity_refine_step(edf, cdf).collect()
    }
    assert got == exp


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=7),
            st.integers(min_value=0, max_value=7),
        ),
        min_size=1,
        max_size=24,
    ),
    st.integers(min_value=1, max_value=6),
)
def test_modularity_merge_matches_python_and_never_decreases_q(
    spark, raw_edges, n_comm
):
    """modularity_merge_step == the pure-python replay of one
    mutual-best positive-gain community merge pass (gain 2m·e_ab −
    d_a·d_b, best partner by (gain DESC, id ASC), merge iff mutual,
    min id wins), AND the operator's theorem holds as a hypothesis
    invariant: Q(merged) >= Q(before) on EVERY graph and partition —
    mutual-best pairs form a matching and Q is additive over
    communities, so there are no cross terms to overshoot on."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.graph import (
        modularity_merge_step,
        modularity_score,
    )

    und = {(min(s, d), max(s, d)) for s, d in raw_edges if s != d}
    if not und:
        return
    nodes = sorted({n for e in und for n in e})
    comm = {n: n % n_comm for n in nodes}
    m = len(und)
    deg = {n: 0 for n in nodes}
    for u, v in und:
        deg[u] += 1
        deg[v] += 1
    d_c: dict = {}
    for n in nodes:
        d_c[comm[n]] = d_c.get(comm[n], 0) + deg[n]
    e_ab: dict = {}
    for u, v in und:
        a_, b_ = comm[u], comm[v]
        if a_ != b_:
            key = (min(a_, b_), max(a_, b_))
            e_ab[key] = e_ab.get(key, 0) + 1
    gains = {
        pair: 2 * m * e - d_c[pair[0]] * d_c[pair[1]]
        for pair, e in e_ab.items()
    }
    best: dict = {}
    for (a_, b_), g in gains.items():
        if g <= 0:
            continue
        for c, p in ((a_, b_), (b_, a_)):
            cur = best.get(c)
            if cur is None or (g, -p) > (cur[0], -cur[1]):
                best[c] = (g, p)
    mapping = {}
    for c, (_, p) in best.items():
        if best.get(p, (None, None))[1] == c and c > p:
            mapping[c] = p
    exp = {n: mapping.get(comm[n], comm[n]) for n in nodes}

    edf = spark.createDataFrame(
        [(s, d) for s, d in raw_edges], "src long, dst long"
    )
    cdf = spark.createDataFrame(
        list(comm.items()), "node long, community long"
    )
    merged = modularity_merge_step(edf, cdf)
    got = {r.node: r.community for r in merged.collect()}
    assert got == exp
    q0 = modularity_score(edf, cdf).select("q_e6").first()[0]
    q1 = modularity_score(edf, merged).select("q_e6").first()[0]
    assert q1 >= q0
    if mapping:
        assert q1 > q0


def test_modularity_merge_loop_converges_monotonically(spark):
    """The coarsening LOOP story (SCALING.md): iterating
    modularity_merge_step from singletons converges — Q is
    non-decreasing at EVERY pass (the matching theorem, applied
    repeatedly), the community count is non-increasing, and a
    fixpoint (no mutual positive-gain pair) is reached in a few
    passes on a two-cluster graph."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.graph import (
        modularity_merge_step,
        modularity_score,
    )

    # two K4 cliques joined by one bridge edge
    k4a = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    k4b = [(i + 10, j + 10) for i, j in k4a]
    edges = spark.createDataFrame(
        k4a + k4b + [(3, 10)], "src long, dst long"
    )
    comm = spark.createDataFrame(
        [(n, n) for n in list(range(4)) + list(range(10, 14))],
        "node long, community long",
    )
    qs = [modularity_score(edges, comm).select("q_e6").first()[0]]
    n_comm = [8]
    for _ in range(6):
        # localCheckpoint truncates the per-pass lineage (the graph
        # operators' own iteration pattern) — without it each pass
        # re-optimizes the whole deepening chain
        nxt = modularity_merge_step(edges, comm).localCheckpoint()
        if (
            nxt.alias("a")
            .join(comm.alias("b"), F.col("a.node") == F.col("b.node"))
            .filter(F.col("a.community") != F.col("b.community"))
            .count()
            == 0
        ):
            break
        comm = nxt
        qs.append(modularity_score(edges, comm).select("q_e6").first()[0])
        n_comm.append(comm.select("community").distinct().count())
    assert all(b >= a for a, b in zip(qs, qs[1:]))  # monotone
    assert all(b <= a for a, b in zip(n_comm, n_comm[1:]))
    assert n_comm[-1] <= 2  # coarsened to (at most) the two cliques
    assert qs[-1] > qs[0]


def test_coarsen_passes_monotone_on_purchase_graph(spark):
    """The registered 3-pass coarsening pipeline, pass by pass on the
    real sf0.001 purchase graph: Q non-decreasing at EVERY pass (the
    matching theorem applied repeatedly), community count
    non-increasing, and the loop beats the single pass (passes 2-3 do
    real work on this data — 16 → 14 → 11 → 10 shards measured)."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.graph import (
        modularity_merge_step,
        modularity_score,
    )
    from stedi_human_balance_redis_kafka_spark_streaming_spark.sources.files import (
        load_table,
    )

    SF = "/root/testdata/sf0.001"
    orders = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, SF, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    edges = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).cast("long").alias("src"),
            (F.col("l_suppkey") * 2 + 1).cast("long").alias("dst"),
        )
        .distinct()
        .persist()
    )
    comm = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .select("node", (F.col("node") % 16).alias("community"))
    )
    qs = [
        modularity_score(edges, comm, assume_canonical=True)
        .select("q_e6").first()[0]
    ]
    ncs = [16]
    for _ in range(3):
        comm = modularity_merge_step(
            edges, comm, assume_canonical=True
        ).localCheckpoint()
        qs.append(
            modularity_score(edges, comm, assume_canonical=True)
            .select("q_e6").first()[0]
        )
        ncs.append(comm.select("community").distinct().count())
    assert all(b >= a for a, b in zip(qs, qs[1:]))
    assert all(b <= a for a, b in zip(ncs, ncs[1:]))
    assert qs[-1] > qs[1] > qs[0]  # passes beyond the first still help
    edges.unpersist()


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=7),
            st.integers(min_value=0, max_value=7),
        ),
        min_size=1,
        max_size=24,
    ),
    st.integers(min_value=1, max_value=6),
)
def test_contract_graph_invariance_lemma(spark, raw_edges, n_comm):
    """The CONTRACTION-INVARIANCE lemma (Louvain phase 2, Blondel et
    al. 2008 §2), as a hypothesis invariant over arbitrary graphs and
    partitions: contract_graph preserves total weight (every edge
    lands in exactly one inter row or self-loop, so m' = m) and
    telescopes degrees (2·w_cc + Σ w_cd = community degree sum), so
    ONE weighted merge pass on the contracted graph with the IDENTITY
    partition returns exactly the community relabeling the unit-weight
    pass computes on the original graph — the theorem that lets the
    coarsening loop recurse on super-graphs instead of re-joining the
    full edge list every pass."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.graph import (
        contract_graph,
        modularity_merge_step,
        modularity_score,
    )

    und = {(min(s, d), max(s, d)) for s, d in raw_edges if s != d}
    if not und:
        return
    nodes = sorted({n for e in und for n in e})
    comm = {n: n % n_comm for n in nodes}
    edf = spark.createDataFrame(
        [(s, d) for s, d in raw_edges], "src long, dst long"
    )
    cdf = spark.createDataFrame(
        list(comm.items()), "node long, community long"
    )

    g = contract_graph(edf, cdf)
    grows = {(r.src, r.dst): r.weight for r in g.collect()}
    # weight preservation: m' == m, and every row is canonical
    assert sum(grows.values()) == len(und)
    assert all(s <= d for s, d in grows)
    # degree telescoping: 2*self + inter == the community's degree sum
    deg = {n: 0 for n in nodes}
    for u, v in und:
        deg[u] += 1
        deg[v] += 1
    d_c: dict = {}
    for n in nodes:
        d_c[comm[n]] = d_c.get(comm[n], 0) + deg[n]
    for c, dsum in d_c.items():
        got = 2 * grows.get((c, c), 0) + sum(
            w for (s, d), w in grows.items() if s != d and c in (s, d)
        )
        assert got == dsum

    direct = {
        (r.node, r.community)
        for r in modularity_merge_step(edf, cdf).collect()
    }
    ident = (
        g.select(F.col("src").alias("node"))
        .unionByName(g.select(F.col("dst").alias("node")))
        .distinct()
        .select("node", F.col("node").alias("community"))
    )
    relab = {
        r.node: r.community
        for r in modularity_merge_step(
            g, ident, weight_col="weight", assume_canonical=True
        ).collect()
    }
    composed = {(n, relab[c]) for n, c in comm.items()}
    assert composed == direct

    # weighted SCORE lemma (r16): scoring the contracted graph under
    # the identity partition reproduces the original score exactly —
    # in_edges/deg_sum/contrib_num/q_e6 per community; only n_nodes
    # differs by design (super-nodes, not members)
    orig = {
        r.community: (r.in_edges, r.deg_sum, r.contrib_num, r.q_e6)
        for r in modularity_score(edf, cdf).collect()
    }
    contracted = {
        r.community: (r.in_edges, r.deg_sum, r.contrib_num, r.q_e6)
        for r in modularity_score(
            g, ident, weight_col="weight", assume_canonical=True
        ).collect()
    }
    assert contracted == orig


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=7),
            st.integers(min_value=0, max_value=7),
        ),
        min_size=1,
        max_size=20,
    ),
    st.integers(min_value=1, max_value=5),
    st.integers(min_value=1, max_value=3),
)
def test_contract_graph_recursion_lemma(spark, raw_edges, n_comm, n_sup):
    """The RECURSION lemma the multi-pass coarsen loop rests on:
    contracting a contracted graph under a further community-level
    relabeling R equals contracting the ORIGINAL graph under the
    composed node assignment R∘P — weights, self-loops and all — for
    any graph, partition, and relabeling.  (The invariance lemma makes
    one contracted pass exact; THIS lemma makes pass t+1 on the
    re-contracted super-graph equal to pass t+1 on the full graph.)"""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.graph import (
        contract_graph,
    )

    und = {(min(s, d), max(s, d)) for s, d in raw_edges if s != d}
    if not und:
        return
    nodes = sorted({n for e in und for n in e})
    comm = {n: n % n_comm for n in nodes}
    relab = {c: c % n_sup for c in set(comm.values())}

    edf = spark.createDataFrame(
        [(s, d) for s, d in raw_edges], "src long, dst long"
    )
    cdf = spark.createDataFrame(
        list(comm.items()), "node long, community long"
    )
    g1 = contract_graph(edf, cdf).persist()
    rdf = spark.createDataFrame(
        list(relab.items()), "node long, community long"
    )
    twice = {
        (r.src, r.dst): r.weight
        for r in contract_graph(
            g1, rdf, weight_col="weight", assume_canonical=True
        ).collect()
    }
    composed = spark.createDataFrame(
        [(n, relab[c]) for n, c in comm.items()],
        "node long, community long",
    )
    direct = {
        (r.src, r.dst): r.weight
        for r in contract_graph(edf, composed).collect()
    }
    assert twice == direct
    g1.unpersist()


def test_louvain_coarsen_operator_matches_iterated_merge(spark):
    """The user-facing louvain_coarsen operator (r16): with singleton
    seeding (communities=None) and N passes it returns exactly the
    partition of iterating modularity_merge_step N times from
    singletons on the raw edge list (the contraction-invariance lemma
    composed across passes), and passes=0 returns the seed unchanged."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.graph import (
        louvain_coarsen,
        modularity_merge_step,
    )

    k4a = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    k4b = [(i + 10, j + 10) for i, j in k4a]
    edges = spark.createDataFrame(
        k4a + k4b + [(3, 10)], "src long, dst long"
    )
    nodes = list(range(4)) + list(range(10, 14))
    comm = spark.createDataFrame(
        [(n, n) for n in nodes], "node long, community long"
    )
    for _ in range(4):
        comm = modularity_merge_step(edges, comm).localCheckpoint()
    exp = {(r.node, r.community) for r in comm.collect()}

    got = {
        (r.node, r.community)
        for r in louvain_coarsen(edges, passes=4).collect()
    }
    assert got == exp

    seeded = {
        (r.node, r.community)
        for r in louvain_coarsen(edges, passes=0).collect()
    }
    assert seeded == {(n, n) for n in nodes}

    # EARLY STOP: a generous pass bound converges to the same
    # partition without paying post-fixpoint contractions (the no-op
    # pass check) — and finishes promptly
    deep = {
        (r.node, r.community)
        for r in louvain_coarsen(edges, passes=50).collect()
    }
    assert deep == {
        (r.node, r.community)
        for r in louvain_coarsen(edges, passes=6).collect()
    }
    # first-pass fixpoint: seeding with the optimal two-clique
    # partition leaves no positive-gain pair (bridge gain
    # 2m·1 − 13·13 < 0), so the seed returns unchanged
    opt = spark.createDataFrame(
        [(n, 0) for n in range(4)] + [(n, 10) for n in range(10, 14)],
        "node long, community long",
    )
    assert {
        (r.node, r.community)
        for r in louvain_coarsen(edges, opt, passes=3).collect()
    } == {(n, 0) for n in range(4)} | {(n, 10) for n in range(10, 14)}


def test_contracted_coarsen_equals_uncontracted_on_purchase_graph(spark):
    """The registered contract-then-merge pipeline (r16) is
    BIT-IDENTICAL to the r15 uncontracted loop at equal passes on the
    real sf0.001 purchase graph — the lemma instantiated end-to-end:
    relabel-composition over the recursively contracted super-graph
    reproduces the full-edge-list merge chain exactly (which is also
    why the unrolled DuckDB oracle needed no change), while paying the
    |E|-sized assignment join ONCE instead of once per pass.  The
    per-pass Q-monotonicity pin transfers by equality (the r15 pin,
    test_coarsen_passes_monotone_on_purchase_graph, asserts it on the
    same chain)."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.graph import (
        contract_graph,
        modularity_merge_step,
    )
    from stedi_human_balance_redis_kafka_spark_streaming_spark.plans.registry import (
        queries,
    )
    from stedi_human_balance_redis_kafka_spark_streaming_spark.sources.files import (
        load_table,
    )

    SF = "/root/testdata/sf0.001"
    got = {
        (r.node_type, r.entity_id, r.community)
        for r in queries()["graph_louvain_coarsen"](spark, SF).collect()
    }

    orders = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, SF, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    edges = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).cast("long").alias("src"),
            (F.col("l_suppkey") * 2 + 1).cast("long").alias("dst"),
        )
        .distinct()
        .persist()
    )
    comm = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .select("node", (F.col("node") % 16).alias("community"))
    )
    held = []
    for _ in range(3):
        comm = modularity_merge_step(
            edges, comm, assume_canonical=True
        ).localCheckpoint()
        held.append(comm)
    exp = {
        (
            "customer" if r.node % 2 == 0 else "supplier",
            r.node // 2,
            r.community,
        )
        for r in comm.collect()
    }
    assert got == exp
    edges.unpersist()
    for h in held:
        h.unpersist()

    # contract_graph recursion composes: contract(contract(E, P), R)
    # == contract(E, R∘P) would be the next lemma; here pin the cheap
    # guard instead — weighted input demands the canonical contract
    import pytest as _pytest

    wdf = spark.createDataFrame(
        [(1, 2, 3)], "src long, dst long, weight long"
    )
    cdf = spark.createDataFrame([(1, 1), (2, 1)], "node long, community long")
    with _pytest.raises(ValueError, match="assume_canonical"):
        modularity_merge_step(wdf, cdf, weight_col="weight")
    # contract_graph enforces the SAME convention (ADVICE r16: it used
    # to accept the combination its own docstring forbade, drifting
    # from its two weighted siblings)
    with _pytest.raises(ValueError, match="assume_canonical"):
        contract_graph(wdf, cdf, weight_col="weight")


def test_coarsen_mapping_cache_reconstructs_exactly(
    spark, tmp_path, monkeypatch
):
    """The r17 coarsen build-cache entry (VERDICT r16 next-round #2):
    what is cached is the <= 16-row composed shard->community relabel,
    not the O(|V|) node partition, and the cache-HIT path (seed
    broadcast-join + coalesce) reconstructs the node-level partition
    EXACTLY — merge passes relabel whole communities and never split
    them, so the final label is a pure function of the seed shard.

    The disk tier is pointed at a scratch dir and only the louvain
    keys are dropped from the memory tier — a bare invalidate() here
    would wipe the REAL warehouse (ANN/SQ8/pair-graph artifacts) on
    every suite run and silently un-warm the official bench."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        buildcache,
    )
    from stedi_human_balance_redis_kafka_spark_streaming_spark.plans.registry import (
        queries,
    )

    SF = "/root/testdata/sf0.001"
    monkeypatch.setenv("SPARK_GRAFT_BUILDCACHE_DIR", str(tmp_path))
    for k in [
        k for k in buildcache.INDEX_BUILD_CACHE
        if k[0] == "louvain_coarsen_map_v1"
    ]:
        del buildcache.INDEX_BUILD_CACHE[k]
    q = queries()["graph_louvain_coarsen"]
    cold = {
        (r.node_type, r.entity_id, r.community)
        for r in q(spark, SF).collect()
    }
    stored = [
        k for k in buildcache.INDEX_BUILD_CACHE
        if k[0] == "louvain_coarsen_map_v1"
    ]
    assert len(stored) == 1
    rows = buildcache.INDEX_BUILD_CACHE[stored[0]]
    assert 0 < len(rows) <= 16
    assert len({f for f, _ in rows}) == len(rows)  # functional mapping
    hit = {
        (r.node_type, r.entity_id, r.community)
        for r in q(spark, SF).collect()
    }
    assert hit == cold
    # the sibling scorer consumes the same entry; it must stay green
    # through the cache path (driver-hash parity is checked every
    # round; here pin just the non-degenerate shape)
    scored = queries()["graph_louvain_scored"](spark, SF)
    assert scored.count() == len({c for _, _, c in cold})


def test_intra_clean_frame_cache_roundtrips_exactly(
    spark, tmp_path, monkeypatch
):
    """The r18 buildcache FRAME tier on the substring stage-1 artifact
    (VERDICT r17 next-round #4): the intra-cleaned planted corpus is
    materialized by a SPARK parquet write (no driver collect — it is
    corpus-shaped), the storing query itself serves from the re-read
    artifact, a warm run returns row-identical results, and the
    composed pipeline consumes the SAME entry (one frame dir for both
    queries).  The tier is pointed at a scratch dir — a bare
    invalidate() would wipe the real warehouse."""
    import os

    from stedi_human_balance_redis_kafka_spark_streaming_spark.plans.registry import (
        queries,
    )

    SF = "/root/testdata/sf0.001"
    monkeypatch.setenv("SPARK_GRAFT_BUILDCACHE_DIR", str(tmp_path))
    q = queries()["dedup_substring_self_apply"]
    cold = {tuple(r) for r in q(spark, SF).collect()}
    frames = os.path.join(str(tmp_path), "frames")
    assert os.path.isdir(frames) and len(os.listdir(frames)) == 1
    warm = {tuple(r) for r in q(spark, SF).collect()}
    assert warm == cold
    # the composed pipeline's stage 1 reads the SAME artifact: no new
    # frame dir appears, and its intra accounting matches the cached
    # stage-1 rows
    pipe = queries()["dedup_substring_pipeline"](spark, SF).collect()
    assert len(os.listdir(frames)) == 1
    intra_removed = {r[0]: r[3] for r in cold}
    assert {r.doc_id: r.n_removed_intra for r in pipe} == intra_removed


def test_frame_tier_key_mismatch_is_a_miss(spark, tmp_path, monkeypatch):
    """lookup_frame verifies the stored key repr: a hash-colliding or
    corrupted entry is treated as a miss, never served; a disabled
    tier (empty env) makes store/lookup no-ops returning None."""
    import json
    import os

    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        buildcache,
    )

    monkeypatch.setenv("SPARK_GRAFT_BUILDCACHE_DIR", str(tmp_path))
    df = spark.createDataFrame([(1, "a")], "id long, s string")
    key = ("frame_test_v1", "corpus", 7)
    stored = buildcache.store_frame(key, df)
    assert stored is not None and stored.collect() == df.collect()
    hit = buildcache.lookup_frame(spark, key, "id long, s string")
    assert hit is not None and hit.collect() == df.collect()
    # corrupt the sidecar -> miss
    d = buildcache._frame_dir(str(tmp_path), key)
    with open(os.path.join(d, "_KEY"), "w") as f:
        json.dump({"key": "something_else", "corpus": "x"}, f)
    assert buildcache.lookup_frame(spark, key, "id long, s string") is None
    # prefix-scoped invalidate removes the frame dir
    with open(os.path.join(d, "_KEY"), "w") as f:
        json.dump({"key": repr(key), "corpus": repr(key[1])}, f)
    assert buildcache.invalidate("corpus") >= 1
    assert buildcache.lookup_frame(spark, key, "id long, s string") is None
    monkeypatch.setenv("SPARK_GRAFT_BUILDCACHE_DIR", "")
    assert buildcache.store_frame(key, df) is None
    assert buildcache.lookup_frame(spark, key, "id long, s string") is None


def test_modularity_merge_improves_purchase_graph_q(spark):
    """The registered merge pipeline's value, pinned as data: one
    mutual-best merge pass over the hash-sharded purchase graph at
    sf0.001 STRICTLY improves the exact partition modularity and
    actually merges shards (a no-op pass would make the registered
    query a re-badged sharding)."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.graph import (
        modularity_merge_step,
        modularity_score,
    )
    from stedi_human_balance_redis_kafka_spark_streaming_spark.session import owned
    from stedi_human_balance_redis_kafka_spark_streaming_spark.sources.files import (
        load_table,
    )

    SF = "/root/testdata/sf0.001"
    orders = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, SF, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    edges = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).cast("long").alias("src"),
            (F.col("l_suppkey") * 2 + 1).cast("long").alias("dst"),
        )
        .distinct()
        .persist()
    )
    held: list = [edges]
    seed = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .select("node", (F.col("node") % 16).alias("community"))
        .persist()
    )
    held.append(seed)
    with owned() as step_blocks:
        merged = modularity_merge_step(
            edges, seed, assume_canonical=True
        ).persist()
    held += [*step_blocks, merged]
    q0 = modularity_score(
        edges, seed, assume_canonical=True
    ).select("q_e6").first()[0]
    q1 = modularity_score(
        edges, merged, assume_canonical=True
    ).select("q_e6").first()[0]
    assert q1 > q0
    n_nodes = seed.count()
    assert merged.count() == n_nodes
    n_comm_before = seed.select("community").distinct().count()
    n_comm_after = merged.select("community").distinct().count()
    assert n_comm_after < n_comm_before
    for h in held:
        h.unpersist()


def test_modularity_isolated_members_and_canonical_flag(spark):
    """ADVICE r14 closures on modularity_score: (1) community members
    with NO incident edge still produce/extend their community's row —
    n_nodes counts all members, deg_sum/in_edges coalesce to 0 (an
    all-isolated community contributes exactly 0 to Q); (2)
    assume_canonical=True on an already least/greatest+distinct'd edge
    list returns bit-identical rows to the default path."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.graph import (
        modularity_score,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3)], "src long, dst long"
    )
    # community 10: nodes 1-3 (edge-incident); community 20: nodes 4-5
    # (fully isolated); node 3's sibling 6 is isolated INSIDE 10
    comm = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (6, 10), (4, 20), (5, 20)],
        "node long, community long",
    )
    rows = {
        r.community: (r.n_nodes, r.in_edges, r.deg_sum, r.contrib_num)
        for r in modularity_score(edges, comm).collect()
    }
    # m = 2: community 10 contrib = 4*2*2 - 4^2 = 0; community 20 all 0
    assert rows == {10: (4, 2, 4, 0), 20: (2, 0, 0, 0)}

    canon = modularity_score(
        edges, comm, assume_canonical=True
    ).collect()
    assert {
        r.community: (r.n_nodes, r.in_edges, r.deg_sum, r.contrib_num)
        for r in canon
    } == rows
    assert all(r.q_e6 == 0 for r in canon)


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=7),
            st.integers(min_value=0, max_value=7),
        ),
        min_size=1,
        max_size=20,
    ),
    st.integers(min_value=1, max_value=6),
)
def test_refine_guarded_never_decreases_q(spark, raw_edges, n_comm):
    """modularity_refine_guarded's theorem, as a hypothesis invariant:
    Q(returned) = max(Q(input), Q(swept)) >= Q(input) for ANY graph and
    partition — the wrapper restores the guarantee the raw synchronous
    sweep lacks, and the returned frame is always one of the two
    candidate assignments over the same node set."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.graph import (
        modularity_refine_guarded,
        modularity_refine_step,
        modularity_score,
    )

    und = {(min(s, d), max(s, d)) for s, d in raw_edges if s != d}
    if not und:
        return
    nodes = sorted({n for e in und for n in e})
    comm = {n: n % n_comm for n in nodes}
    edf = spark.createDataFrame(
        [(s, d) for s, d in raw_edges], "src long, dst long"
    )
    cdf = spark.createDataFrame(
        list(comm.items()), "node long, community long"
    )
    got = {
        (r.node, r.community)
        for r in modularity_refine_guarded(edf, cdf).collect()
    }
    swept = {
        (r.node, r.community)
        for r in modularity_refine_step(edf, cdf).collect()
    }
    assert got in (set(comm.items()), swept)
    gdf = spark.createDataFrame(list(got), "node long, community long")
    q_in = modularity_score(edf, cdf).select("q_e6").first()[0]
    q_out = modularity_score(edf, gdf).select("q_e6").first()[0]
    assert q_out >= q_in


def test_refine_guarded_adopts_and_rejects(spark):
    """Both branches of the guard, pinned on concrete graphs: (1) a
    mis-assigned clique member is adopted (the sweep strictly improves
    Q, the swept partition returns); (2) on the hub-heavy sf0.001
    purchase graph — where the raw sweep measurably OVERSHOOTS
    (SCALING.md) — the guard returns the INPUT partition unchanged."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.graph import (
        modularity_refine_guarded,
        modularity_score,
    )
    from stedi_human_balance_redis_kafka_spark_streaming_spark.sources.files import (
        load_table,
    )

    # two K4 cliques + bridge; node 3 seeded into the WRONG clique
    k4a = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    k4b = [(i + 10, j + 10) for i, j in k4a]
    edges = spark.createDataFrame(
        k4a + k4b + [(3, 10)], "src long, dst long"
    )
    comm = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0), (3, 10)]
        + [(n, 10) for n in range(10, 14)],
        "node long, community long",
    )
    got = {
        r.node: r.community
        for r in modularity_refine_guarded(edges, comm).collect()
    }
    assert got[3] == 0  # adopted: the sweep fixed the mis-assignment
    q0 = modularity_score(edges, comm).select("q_e6").first()[0]
    gdf = spark.createDataFrame(
        list(got.items()), "node long, community long"
    )
    q1 = modularity_score(edges, gdf).select("q_e6").first()[0]
    assert q1 > q0

    SF = "/root/testdata/sf0.001"
    orders = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, SF, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    pedges = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).cast("long").alias("src"),
            (F.col("l_suppkey") * 2 + 1).cast("long").alias("dst"),
        )
        .distinct()
        .persist()
    )
    seed = (
        pedges.select(F.col("src").alias("node"))
        .unionByName(pedges.select(F.col("dst").alias("node")))
        .distinct()
        .select("node", (F.col("node") % 16).alias("community"))
        .persist()
    )
    guarded = {
        (r.node, r.community)
        for r in modularity_refine_guarded(
            pedges, seed, assume_canonical=True
        ).collect()
    }
    assert guarded == {(r.node, r.community) for r in seed.collect()}
    pedges.unpersist()
    seed.unpersist()


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),
            st.integers(min_value=0, max_value=5),
            st.integers(min_value=1, max_value=5),
        ),
        min_size=1,
        max_size=16,
    ),
    st.integers(min_value=1, max_value=3),
)
def test_modularity_refine_weighted_matches_pure_python(
    spark, raw_edges, n_comm
):
    """The WEIGHTED sweep (r17 — the form louvain_coarsen's guarded
    refine runs on the contracted super-graph) == the pure-python
    integer replay with Blondel et al.'s phase-1 bookkeeping: m and
    k_{i,c} are weight sums, degrees count self-loops TWICE, k_{i,c}
    excludes the node's own self-loop (it moves with the node, so it
    cancels from every candidate's gain).  Random canonical weighted
    graphs WITH self-loops (exactly contract_graph's output shape)."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.graph import (
        modularity_refine_step,
    )

    wmap: dict = {}
    for s, d, w in raw_edges:
        key = (min(s, d), max(s, d))
        wmap[key] = wmap.get(key, 0) + w
    nodes = sorted({n for e in wmap for n in e})
    comm = {n: n % n_comm for n in nodes}
    m = sum(wmap.values())
    deg = {n: 0 for n in nodes}
    nbr: dict = {n: {} for n in nodes}
    for (u, v), w in wmap.items():
        if u == v:
            deg[u] += 2 * w
        else:
            deg[u] += w
            deg[v] += w
            nbr[u][v] = nbr[u].get(v, 0) + w
            nbr[v][u] = nbr[v].get(u, 0) + w
    d_c: dict = {}
    for n in nodes:
        d_c[comm[n]] = d_c.get(comm[n], 0) + deg[n]
    exp = {}
    for i in nodes:
        k_ic: dict = {}
        for j, w in nbr[i].items():
            k_ic[comm[j]] = k_ic.get(comm[j], 0) + w
        cand = set(k_ic) | {comm[i]}
        scores = {
            c: 2 * m * k_ic.get(c, 0)
            - deg[i] * (d_c[c] - (deg[i] if c == comm[i] else 0))
            for c in cand
        }
        best = min(cand, key=lambda c: (-scores[c], c))
        exp[i] = best if scores[best] > scores[comm[i]] else comm[i]

    edf = spark.createDataFrame(
        [(u, v, w) for (u, v), w in sorted(wmap.items())],
        "src long, dst long, weight long",
    )
    cdf = spark.createDataFrame(
        list(comm.items()), "node long, community long"
    )
    got = {
        r.node: r.community
        for r in modularity_refine_step(
            edf, cdf, weight_col="weight", assume_canonical=True
        ).collect()
    }
    assert got == exp


def test_refine_guarded_weighted_adopts_and_rejects(spark):
    """The guarded WEIGHTED sweep both ways, deterministic cases:

    * ADOPT — weighted triangle (1-2 w5, 2-3 w5, 1-3 w1) under
      {1}{2,3}: only node 1 moves (node 2's tie keeps it put under the
      strict gate), giving one community with Q = 0 > Q(input) < 0, so
      the sweep is adopted — proof the weighted guard path can accept.
    * REJECT — path (1-2 w10, 2-3 w1) under {1}{2,3}: the synchronous
      sweep swaps 1 and 2 (each scored against old sizes — the
      overshoot), leaving NO in-community weight; Q decreases, the
      guard keeps the input bit-for-bit.
    """
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.graph import (
        modularity_refine_guarded,
    )

    tri = spark.createDataFrame(
        [(1, 2, 5), (2, 3, 5), (1, 3, 1)],
        "src long, dst long, weight long",
    )
    comm = spark.createDataFrame(
        [(1, 100), (2, 200), (3, 200)], "node long, community long"
    )
    adopted = {
        r.node: r.community
        for r in modularity_refine_guarded(
            tri, comm, weight_col="weight", assume_canonical=True
        ).collect()
    }
    assert adopted == {1: 200, 2: 200, 3: 200}

    path = spark.createDataFrame(
        [(1, 2, 10), (2, 3, 1)], "src long, dst long, weight long"
    )
    rejected = {
        r.node: r.community
        for r in modularity_refine_guarded(
            path, comm, weight_col="weight", assume_canonical=True
        ).collect()
    }
    assert rejected == {1: 100, 2: 200, 3: 200}


def test_refine_guarded_evidence_out_param(spark):
    """r18 optimization: ``modularity_refine_guarded(evidence=ev)``
    must hand back EXACTLY what it already computed eagerly — the
    swept assignment and both exact Q values — so the registered
    evidence queries (graph_refine_adopt/pass/loop) can emit them
    without re-running the sweep and scorings.  Checked on both guard
    branches against independent recomputation via the public
    operators."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.graph import (
        modularity_refine_guarded,
        modularity_refine_step,
        modularity_score,
    )

    comm = spark.createDataFrame(
        [(1, 100), (2, 200), (3, 200)], "node long, community long"
    )
    for rows, expect_adopt in (
        ([(1, 2, 5), (2, 3, 5), (1, 3, 1)], True),   # triangle: ADOPT
        ([(1, 2, 10), (2, 3, 1)], False),            # path: REJECT
    ):
        edges = spark.createDataFrame(
            rows, "src long, dst long, weight long"
        )
        ev: dict = {}
        guarded = {
            r.node: r.community
            for r in modularity_refine_guarded(
                edges, comm, weight_col="weight", assume_canonical=True,
                evidence=ev,
            ).collect()
        }
        swept_direct = {
            r.node: r.community
            for r in modularity_refine_step(
                edges, comm, weight_col="weight", assume_canonical=True
            ).collect()
        }
        swept_ev = {r.node: r.community for r in ev["swept"].collect()}
        assert swept_ev == swept_direct
        q_in = (
            modularity_score(
                edges, comm, weight_col="weight", assume_canonical=True
            ).agg(F.max("q_e6")).first()[0]
        )
        q_swept = (
            modularity_score(
                edges,
                ev["swept"],
                weight_col="weight",
                assume_canonical=True,
            ).agg(F.max("q_e6")).first()[0]
        )
        assert ev["q_in_e6"] == q_in
        assert ev["q_swept_e6"] == q_swept
        adopted = ev["q_swept_e6"] > ev["q_in_e6"]
        assert adopted == expect_adopt
        assert guarded == (swept_ev if adopted else {1: 100, 2: 200, 3: 200})


def test_modularity_stats_threading_is_bit_identical(spark):
    """r19 optimization (VERDICT r18 next-round #3): precomputed
    ``deg``/``m`` stats (modularity_stats) threaded through
    modularity_score / modularity_refine_step / modularity_merge_step /
    modularity_refine_guarded must leave every output row bit-identical
    to the stat-free form — weighted (self-loops included) AND
    unweighted, plus the canonical-only enforcement and the empty-graph
    NULL-m case."""
    import pytest

    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.graph import (
        _m_lit,
        modularity_merge_step,
        modularity_refine_guarded,
        modularity_refine_step,
        modularity_score,
        modularity_stats,
    )
    from stedi_human_balance_redis_kafka_spark_streaming_spark.session import (
        owned,
    )

    comm = spark.createDataFrame(
        [(1, 100), (2, 200), (3, 200), (9, 900)],
        "node long, community long",
    )
    weighted = spark.createDataFrame(
        [(1, 2, 5), (2, 3, 5), (1, 3, 1), (2, 2, 4)],
        "src long, dst long, weight long",
    )
    unweighted = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "src long, dst long"
    )
    for edges, wc in ((weighted, "weight"), (unweighted, None)):
        with owned():
            deg, m = modularity_stats(edges, weight_col=wc)
        # the stats themselves match the in-plan formulas
        sym = {}
        for r in edges.collect():
            w = r["weight"] if wc else 1
            sym[r.src] = sym.get(r.src, 0) + w
            sym[r.dst] = sym.get(r.dst, 0) + w
        assert {r.n: r.k for r in deg.collect()} == sym
        assert int(m.first()["__m"]) == sum(
            (r["weight"] if wc else 1) for r in edges.collect()
        )
        for op in (modularity_score, modularity_refine_step,
                   modularity_merge_step):
            plain = sorted(
                map(str, op(edges, comm, weight_col=wc,
                            assume_canonical=True).collect())
            )
            with_stats = sorted(
                map(str, op(edges, comm, weight_col=wc,
                            assume_canonical=True, deg=deg, m=m).collect())
            )
            assert plain == with_stats, op.__name__
        ev_a: dict = {}
        ev_b: dict = {}
        g_plain = sorted(map(str, modularity_refine_guarded(
            edges, comm, weight_col=wc, assume_canonical=True,
            evidence=ev_a,
        ).collect()))
        g_stats = sorted(map(str, modularity_refine_guarded(
            edges, comm, weight_col=wc, assume_canonical=True,
            evidence=ev_b, deg=deg, m=m,
        ).collect()))
        assert g_plain == g_stats
        assert (ev_a["q_in_e6"], ev_a["q_swept_e6"]) == (
            ev_b["q_in_e6"], ev_b["q_swept_e6"]
        )
        deg.unpersist()
    # canonical-only enforcement: stats with assume_canonical=False raise
    with owned():
        deg, m = modularity_stats(unweighted)
    for op in (modularity_score, modularity_refine_step,
               modularity_merge_step, modularity_refine_guarded):
        with pytest.raises(ValueError, match="assume_canonical"):
            op(unweighted, comm, deg=deg, m=m)
    deg.unpersist()
    # empty graph: collected m is NULL, exactly like the in-plan agg
    empty = spark.createDataFrame([], "src long, dst long")
    with owned():
        deg, m = modularity_stats(empty)
    assert m.first()["__m"] is None
    assert sorted(map(str, modularity_score(
        empty, comm, assume_canonical=True, deg=deg, m=m
    ).collect())) == sorted(map(str, modularity_score(
        empty, comm, assume_canonical=True
    ).collect()))
    assert _m_lit(spark, None).first()["__m"] is None
    deg.unpersist()


def test_refine_weighted_query_matches_guarded_operator(spark):
    """The registered evidence query (graph_refine_weighted, birth r17)
    and the guarded operator must agree on the decision: on the
    shard-contracted purchase super-graph from the n % 3 seed, the
    query's `adopted` column is the guard's verdict, so
    modularity_refine_guarded must return exactly the seed when the
    query says adopted == false (and the swept partition when true).
    Also pins that the sweep actually MOVES nodes here (the overshoot
    is real evidence, not a no-op sweep) and that Q values are
    consistent with the verdict."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.graph import (
        contract_graph,
        modularity_refine_guarded,
    )
    from stedi_human_balance_redis_kafka_spark_streaming_spark.plans.extras import (
        _MERGE_SHARDS,
        _REFINE_SEED_MOD,
        graph_refine_weighted,
    )
    from stedi_human_balance_redis_kafka_spark_streaming_spark.sources.files import (
        load_table,
    )

    SF = "/root/testdata/sf0.001"
    rows = graph_refine_weighted(spark, SF).collect()
    assert len(rows) == _MERGE_SHARDS
    adopted = {r.adopted for r in rows}
    assert len(adopted) == 1  # one partition-level verdict
    adopted = adopted.pop()
    q_seed = {r.q_seed_e6 for r in rows}.pop()
    q_swept = {r.q_swept_e6 for r in rows}.pop()
    assert adopted == (q_swept > q_seed)
    # the sweep moves nodes (evidence, not a no-op)
    assert any(r.seed_community != r.swept_community for r in rows)

    orders = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, SF, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    edges = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).cast("long").alias("src"),
            (F.col("l_suppkey") * 2 + 1).cast("long").alias("dst"),
        )
        .distinct()
        .persist()
    )
    shard = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .select(
            "node", (F.col("node") % _MERGE_SHARDS).alias("community")
        )
    )
    g = contract_graph(
        edges, shard, assume_canonical=True
    ).localCheckpoint()
    seed = (
        g.select(F.col("src").alias("node"))
        .unionByName(g.select(F.col("dst").alias("node")))
        .distinct()
        .select(
            "node",
            (F.col("node") % _REFINE_SEED_MOD).cast("long").alias(
                "community"
            ),
        )
    )
    guarded = {
        (r.node, r.community)
        for r in modularity_refine_guarded(
            g, seed, weight_col="weight", assume_canonical=True
        ).collect()
    }
    expect = {
        (r.shard, r.swept_community if adopted else r.seed_community)
        for r in rows
    }
    assert guarded == expect
    edges.unpersist()


def test_refine_adopt_query_fires_on_trade_backbone(spark):
    """The registered ADOPT evidence (graph_refine_adopt, birth r18 —
    VERDICT r17 next-round #2): on the WEIGHTED strongest-partner
    trade backbone the affine ((8n+7)%25)%3 seed's single weighted
    sweep STRICTLY improves exact weighted Q, the verdict column is
    ADOPT, and the guarded operator's returned partition — hashed as
    guarded_community — IS the swept one.  Complements
    test_refine_weighted_query_matches_guarded_operator, which pins
    the REJECT branch on the purchase super-graph; together the two
    registered queries drive both sides of the guard's decision
    boundary through real data."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.plans.extras import (
        graph_refine_adopt,
    )

    rows = graph_refine_adopt(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) > 0
    assert all(r.adopted for r in rows)
    q_seed = {r.q_seed_e6 for r in rows}.pop()
    q_swept = {r.q_swept_e6 for r in rows}.pop()
    assert q_swept > q_seed
    # the guard ADOPTED: its returned partition is the swept one,
    # which actually moved nodes (a no-op sweep cannot strictly
    # improve Q, but pin it explicitly)
    assert all(r.guarded_community == r.swept_community for r in rows)
    assert any(r.seed_community != r.swept_community for r in rows)
    # the seed is genuinely mixed (>= 2 communities), so the adoption
    # is a real local-move result, not a degenerate all-one seed
    assert len({r.seed_community for r in rows}) >= 2


def test_refine_pass_sweep_escapes_the_matchings_stall(spark):
    """The registered pass-body evidence (graph_refine_pass, birth
    r18): on the weighted trade backbone, ONE mutual-best merge pass
    from singletons genuinely coarsens (>= 1 merged pair), and the
    guarded weighted sweep seeded with THAT MERGE OUTPUT still
    strictly improves exact weighted Q — the in-loop composition
    a merge → guarded-sweep coarsening pass runs, with the sweep
    escaping the stall point of the matching itself rather than of an
    artificial affine seed (graph_refine_adopt's shape).  The guard
    ADOPTS: its returned partition is the swept one."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.plans.extras import (
        graph_refine_pass,
    )

    rows = graph_refine_pass(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) > 0
    # the merge pass did real work: fewer communities than nodes
    assert len({r.merged_community for r in rows}) < len(rows)
    # ... and still left Q strictly improvable by one local-move sweep
    q_merged = {r.q_merged_e6 for r in rows}.pop()
    q_swept = {r.q_swept_e6 for r in rows}.pop()
    assert q_swept > q_merged
    assert all(r.adopted for r in rows)
    assert all(r.guarded_community == r.swept_community for r in rows)
    assert any(r.merged_community != r.swept_community for r in rows)
    # the probed q_e6 pair cited in the docstring stays pinned
    assert (q_merged, q_swept) == (215754, 515750)


def test_refine_loop_trace_is_monotone_and_invariant(spark):
    """The registered two-pass refined-loop trace (graph_refine_loop,
    birth r18): the Q chain is MONOTONE non-decreasing across the
    whole trace (merge pass 1 <= guarded pass 1 <= merge pass 2 <=
    guarded pass 2 — merges never decrease Q by the matching theorem,
    the guard never adopts a regression by construction), pass 1's
    sweep ADOPTS on the trade backbone (the refine thread doing real
    work in-loop), and q_final_e6 — the final partition re-scored on
    the ORIGINAL graph — equals q_p2_guarded_e6, scored on the
    super-graph: the contraction-invariance lemma as row data.  At
    sf0.001 pass 2 is the loop's fixpoint (merge a no-op, sweep
    rejected), pinning the early-stop boundary too."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.plans.extras import (
        graph_refine_loop,
    )

    rows = graph_refine_loop(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) > 0
    r = rows[0]
    assert (
        r.q_p1_merged_e6
        <= r.q_p1_guarded_e6
        <= r.q_p2_merged_e6
        <= r.q_p2_guarded_e6
    )
    assert all(x.p1_adopted for x in rows)
    assert any(
        x.p1_merged_community != x.p1_guarded_community for x in rows
    )
    # contraction invariance, hash-grade: super-graph score == original
    assert all(x.q_final_e6 == x.q_p2_guarded_e6 for x in rows)
    # sf0.001's pass 2 is the fixpoint: nothing merged, sweep rejected
    assert not r.p2_adopted
    assert all(
        x.final_community == x.p1_guarded_community for x in rows
    )
    # the probed q_e6 chain cited in the docstring stays pinned
    assert (r.q_p1_merged_e6, r.q_p1_guarded_e6, r.q_p2_guarded_e6) == (
        215754,
        515750,
        515750,
    )


def test_refine_isolated_members_pass_through(spark):
    """ADVICE r15 closure on modularity_refine_step: assignment members
    with NO incident edge must pass through unchanged (T = 0 for their
    only candidate — their own community — so they stay put), not be
    silently dropped by an inner deg join; a community whose members
    are ALL isolated likewise keeps every row (no d_c row to inner-join
    away).  The returned assignment is the same SIZE and node set as
    the input, the refine-step output contract."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.graph import (
        modularity_refine_step,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3)], "src long, dst long"
    )
    # node 6 is isolated inside edge-incident community 10; community
    # 20 is entirely isolated (nodes 4, 5)
    comm = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (6, 10), (4, 20), (5, 20)],
        "node long, community long",
    )
    got = {
        r.node: r.community
        for r in modularity_refine_step(edges, comm).collect()
    }
    assert set(got) == {1, 2, 3, 4, 5, 6}
    assert got[6] == 10 and got[4] == 20 and got[5] == 20
    # edge-incident nodes keep a valid community from the input label
    # set (the sweep may move them, never invent labels)
    assert all(c in {10, 20} for c in got.values())


def test_louvain_coarsen_isolated_community_pass_through(spark):
    """ADVICE r16 closure on louvain_coarsen: the final relabel only
    covers communities that reached the contracted graph (>= one edge
    among assignment members), so a caller-supplied seed community
    whose members are ALL edge-free must pass through unchanged via
    the left-join + coalesce — not be silently dropped (the refine-step
    defect class, mirrored at the loop's output).  The returned
    assignment has the seed's exact node set; edge-incident nodes merge
    as the weighted loop dictates."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.graph import (
        louvain_coarsen,
    )

    # two triangles bridged once — mergeable structure for the loop
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "src long, dst long",
    )
    # community 30's members (7, 8) have no incident edge at all, and
    # node 9 is an isolated member of edge-incident community 10
    seed = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (9, 10), (4, 20), (5, 20), (6, 20),
         (7, 30), (8, 30)],
        "node long, community long",
    )
    got = {
        r.node: r.community
        for r in louvain_coarsen(edges, seed, passes=2).collect()
    }
    assert set(got) == {1, 2, 3, 4, 5, 6, 7, 8, 9}
    # the edge-free community passes through under its own label
    assert got[7] == 30 and got[8] == 30
    # isolated member of an edge-incident community follows wherever
    # its community's relabeling goes — same label as its peers
    assert got[9] == got[1] == got[2] == got[3]
    # labels never invented: every output label is a seed community id
    assert all(c in {10, 20, 30} for c in got.values())
