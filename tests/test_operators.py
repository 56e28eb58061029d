"""Unit tests for extension operators on handcrafted inputs.

The oracle-parity suite proves Spark==DuckDB on the driver tables; these
prove the operators' *semantics* on inputs designed to trigger them
(actual duplicates, known-similar docs, known vectors).
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from stedi_human_balance_redis_kafka_spark_streaming_spark.functions.hashing import (
    minhash_signature,
    token_shingles,
)
from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
    buildcache,
    dedup,
    multimodal,
    similarity,
    text as text_ops,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    (2, "the quick brown fox leaps over the lazy dog"),  # near dup of 0
    (3, "completely different content about spark engines"),
    (4, "der schnelle braune fuchs und das faule hund"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_dedup_exact_finds_duplicates(docs):
    out = {r.doc_id: r.n_dups for r in dedup.dedup_exact(docs).collect()}
    assert out[0] == 2  # docs 0 and 1 collapse, min id kept
    assert 1 not in out
    assert out[3] == 1


def test_ngram_jaccard_pairs(docs):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5, n=1).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and 0.5 <= pairs[(0, 2)] < 1.0
    assert (0, 3) not in pairs


def test_minhash_signature_seeds_differ(spark):
    """Regression: seeds must produce distinct hash families (a default-arg
    lambda capture silently collapsed all seeds to one)."""
    df = spark.createDataFrame([("a b c d e f",)], "text string")
    sig = df.select(
        minhash_signature(token_shingles("text", 3), 8).alias("sig")
    ).collect()[0].sig
    assert len(sig) == 8
    assert len(set(sig)) > 1


def test_minhash_lsh_finds_duplicates(docs):
    pairs = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    assert (0, 1) in pairs  # identical docs always collide in every band


def test_simhash_semantics(docs):
    fp = {r.doc_id: r.simhash for r in dedup.simhash_fingerprints(docs).collect()}
    assert fp[0] == fp[1]
    assert 0 <= fp[0] < 2**16
    ham_near = bin(fp[0] ^ fp[2]).count("1")
    ham_far = bin(fp[0] ^ fp[4]).count("1")
    assert ham_near < ham_far


def test_simhash_pairs_finds_duplicates(docs):
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in dedup.simhash_pairs(docs).collect()}
    assert pairs[(0, 1)] == 0


def test_embedding_cosine_pairs(spark):
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [1.0, 0.0, 0.0]),   # identical to 0
            (2, [0.9, 0.1, 0.0]),   # close to 0
            (3, [0.0, 0.0, 1.0]),   # orthogonal
        ],
        "vec_id long, embedding array<float>",
    )
    pairs = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in dedup.embedding_cosine_pairs(emb, threshold=0.9).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs
    assert (0, 3) not in pairs and (1, 3) not in pairs


def test_embedding_cosine_pairs_row_cap(spark):
    """The brute-force baseline is gated: above max_rows it refuses to
    plan the O(n²) job instead of silently scheduling it."""
    import pytest as _pytest

    emb = spark.range(5).selectExpr(
        "id AS vec_id", "array(CAST(id AS float), 1.0f) AS embedding"
    )
    with _pytest.raises(ValueError, match="gated at 3"):
        dedup.embedding_cosine_pairs(emb, threshold=0.5, max_rows=3)
    # at or below the cap it plans normally
    assert dedup.embedding_cosine_pairs(emb, threshold=-1.0, max_rows=5).count() == 10


def test_brute_force_topk(spark):
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.99, 0.14]),
            (2, [0.0, 1.0]),
            (3, [-1.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    q = similarity.queries_by_modulus(emb, 4)  # query = vec 0
    out = similarity.brute_force_topk(emb, q, k=2).collect()
    assert [(r.query_id, r.vec_id, r.rank) for r in out] == [(0, 1, 1), (0, 2, 2)]


def test_text_stats_known_values(spark):
    df = spark.createDataFrame([(0, "the cat sat")], "doc_id long, text string")
    r = text_ops.text_stats(df).collect()[0]
    assert r.n_chars == 11
    assert r.n_tokens == 3
    assert r.avg_token_len == 3.0
    assert r.stopword_ratio == pytest.approx(1 / 3, abs=1e-6)


def test_token_counts(spark):
    df = spark.createDataFrame(
        [(0, "hello world42 it's x")], "doc_id long, text string"
    )
    r = text_ops.token_counts(df).collect()[0]
    assert r.ws_tokens == 4
    # hello | world | 42 | it | ' | s | x
    assert r.bpe_tokens == 7
    assert r.est_llm_tokens == 5  # ceil(20/4)


def test_language_id(spark):
    df = spark.createDataFrame(
        [
            (0, "the cat and the dog of the house"),
            (1, "der hund und die katze ist von hier"),
            (2, "xyzzy qwerty plugh"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.lang_pred for r in text_ops.language_id(df).collect()}
    assert out[0] == "en"
    assert out[1] == "de"
    assert out[2] == "und"


def test_fingerprints_deterministic(docs):
    a = sorted(map(tuple, text_ops.fingerprints(docs).collect()))
    b = sorted(map(tuple, text_ops.fingerprints(docs).collect()))
    assert a == b
    # identical docs → identical fingerprint sets
    by_doc = {}
    for doc_id, fp in a:
        by_doc.setdefault(doc_id, set()).add(fp)
    if 0 in by_doc or 1 in by_doc:
        assert by_doc.get(0, set()) == by_doc.get(1, set())


def test_multimodal_metadata_and_features(docs):
    blobs = multimodal.attach_binary(docs)
    meta = {r.doc_id: r.meta for r in blobs.collect()}
    text0 = DOCS[0][1].encode()
    assert meta[0].n_bytes == len(text0)
    assert meta[0].sha256 == hashlib.sha256(text0).hexdigest()

    feats = {r.doc_id: r for r in multimodal.extract_byte_features(blobs).collect()}
    assert feats[0].n_bytes == len(text0)
    assert len(feats[0].byte_hist) == multimodal.N_HIST_BINS
    assert sum(feats[0].byte_hist) == pytest.approx(1.0, abs=1e-9)
    assert feats[0].byte_hist == feats[1].byte_hist  # identical blobs


def test_decode_media_is_stubbed():
    with pytest.raises(NotImplementedError):
        multimodal.decode_media(iter([]))


# ---------------------------------------------------------------------------
# curation operators
# ---------------------------------------------------------------------------

from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import curation


def test_connected_components_known_graph(spark):
    # two components: {1,2,3,7} (chain + extra edge) and {5,6}
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 7), (5, 6)], "doc_a long, doc_b long"
    )
    got = {
        r.doc_id: r.cluster_id
        for r in curation.connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 7: 1, 5: 5, 6: 5}


def test_connected_components_long_chain_converges(spark):
    # a 10-node path needs several propagation rounds (diameter 9)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "doc_a long, doc_b long"
    )
    got = {
        r.doc_id: r.cluster_id
        for r in curation.connected_components(edges).collect()
    }
    assert set(got.values()) == {0} and len(got) == 11


def test_bucketed_range_join_known_intervals(spark):
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.asof import (
        bucketed_range_join,
    )

    ev = spark.createDataFrame(
        [
            (0, "2024-01-01 10:00:00"),
            (1, "2024-01-02 23:59:59"),  # inside A (multi-day interval)
            (2, "2024-01-03 00:00:00"),  # exactly at A's end → excluded
            (3, "2024-01-05 12:00:00"),  # inside B only
        ],
        "event_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    iv = spark.createDataFrame(
        [
            ("A", "2024-01-01 00:00:00", "2024-01-03 00:00:00"),
            ("B", "2024-01-05 00:00:00", "2024-01-06 00:00:00"),
            ("Z", "2024-01-09 00:00:00", "2024-01-09 00:00:00"),  # empty
        ],
        "name string, s string, e string",
    ).select(
        "name",
        F.col("s").cast("timestamp").alias("s"),
        F.col("e").cast("timestamp").alias("e"),
    )
    got = {
        (r.event_id, r.name)
        for r in bucketed_range_join(
            ev, iv, time_col="ts", start_col="s", end_col="e", bucket="1 day"
        ).collect()
    }
    # [start, end): event 2 at A's exact end is out; empty interval Z
    # matches nothing; no double count across A's two day-cells
    assert got == {(0, "A"), (1, "A"), (3, "B")}


def test_connected_components_raises_when_not_converged(spark):
    # diameter 9 > max_iter 2 → must refuse to return wrong labels
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="fixpoint"):
        curation.connected_components(edges, max_iter=2)


def test_hex_threshold_near_one_keeps_all():
    # rates in [255.5/256, 1.0) round to bucket 256 — must map to the
    # keep-all sentinel, not the 3-char '100' that lexicographically
    # keeps only the '0x' buckets
    assert curation._hex_threshold(0.999) == "zz"
    assert curation._hex_threshold(1.0) == "zz"
    assert curation._hex_threshold(255.0 / 256) == "ff"
    assert curation._hex_threshold(0.5) == "80"
    assert curation._hex_threshold(0.0) == "00"


def test_sample_by_hash_deterministic_and_stratified(spark):
    df = spark.createDataFrame(
        [(i, "en" if i % 2 else "zh") for i in range(1000)],
        "doc_id long, lang string",
    )
    rates = {"en": 1.0, "zh": 0.25}
    a = sorted(r.doc_id for r in curation.sample_by_hash(df, rates).collect())
    b = sorted(r.doc_id for r in curation.sample_by_hash(df, rates).collect())
    assert a == b  # pure function of (salt, id) — no RNG
    en = [i for i in a if i % 2 == 1]
    zh = [i for i in a if i % 2 == 0]
    assert len(en) == 500  # rate 1.0 keeps every row
    assert 50 <= len(zh) <= 200  # ~25% of 500, hash-binomial spread
    # unknown stratum → dropped
    extra = spark.createDataFrame([(10_000, "xx")], "doc_id long, lang string")
    assert curation.sample_by_hash(extra, rates).count() == 0


def test_pack_sequences_chunk_layout(spark):
    # 5 docs of 4 tokens each in one stratum, budget 8 → packs [0,0,1,1,2]
    rows = [(i, "en", "s", "a b c d") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, source string, text string")
    got = {
        r.doc_id: (r.n_tokens, r.pack_id)
        for r in curation.pack_sequences(df, budget=8).collect()
    }
    assert got == {0: (4, 0), 1: (4, 0), 2: (4, 1), 3: (4, 1), 4: (4, 2)}


def test_repetition_stats_known_values(spark):
    df = spark.createDataFrame(
        [
            (0, "a b a b c"),   # bigrams: ab, ba, ab, bc → top=2, rep=2/4
            (1, "x y z"),       # xy, yz → no repeats
            (2, "solo"),        # no bigrams → zeros
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_bigrams, r.top_bigram_count, r.rep_bigram_e6)
        for r in text_ops.repetition_stats(df).collect()
    }
    assert got == {0: (4, 2, 500_000), 1: (2, 1, 0), 2: (0, 0, 0)}


def test_domain_mixture_known_values(spark):
    # src a: 6 tokens, src b: 2 tokens → total 8, k=2, level = 4 each
    df = spark.createDataFrame(
        [(0, "a", "t1 t2 t3"), (1, "a", "t4 t5 t6"), (2, "b", "u1 u2")],
        "doc_id long, source string, text string",
    )
    got = {
        r.source: (r.n_docs, r.sum_tokens, r.share_e6, r.uniform_rate_e6)
        for r in text_ops.domain_mixture(df).collect()
    }
    # a: share 6/8, rate 4/6 (downsample); b: share 2/8, rate capped at 1.0
    assert got == {
        "a": (2, 6, 750_000, 666_666),
        "b": (1, 2, 250_000, 1_000_000),
    }


def test_tfidf_top_terms_ranking_and_ties(spark):
    # 3 docs; "rare" appears twice in doc 0 only (tf=2, df=1 → top);
    # "the" is in every doc (df=3 → idf floor(1e6*3/3)=1e6, low score).
    df = spark.createDataFrame(
        [
            (0, "rare rare the cat"),
            (1, "the cat sat"),
            (2, "the dog sat"),
        ],
        "doc_id long, text string",
    )
    out = text_ops.tfidf_top_terms(df, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    top0 = sorted(by_doc[0], key=lambda r: r.rank)[0]
    assert top0.term == "rare" and top0.tf == 2 and top0.df == 1
    # idf surrogate is exact integer division: (1e6 * 3) div 1 = 3e6
    assert top0.tfidf_e6 == 2 * 3_000_000
    # ties (equal tf, df) break lexicographically by term
    d1 = sorted(by_doc[1], key=lambda r: r.rank)
    assert [r.rank for r in d1] == [1, 2]
    assert d1[0].term < d1[1].term or d1[0].tfidf_e6 > d1[1].tfidf_e6


def test_decontaminate_flags_overlap_only(spark):
    # doc 0 is the "benchmark" (0 % 97 == 0); doc 1 shares its trigram,
    # doc 2 shares nothing.  Benchmark docs never appear in the output.
    df = spark.createDataFrame(
        [
            (0, "alpha beta gamma"),
            (1, "alpha beta gamma delta"),
            (2, "one two three four"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r.n_hits for r in curation.decontaminate(df).collect()}
    assert rows == {1: 1}  # only "alpha beta gamma" is shared


def test_sample_frames_fanout_and_short_doc_collapse(spark):
    # 250-byte doc → 3 frames, indices {0*3//4, 1*3//4, 2*3//4, 3*3//4}
    # = {0, 0, 1, 2} → 3 distinct frames; 5-byte doc → 1 frame → all
    # indices collapse to 0.
    long_text = "x" * 250
    df = spark.createDataFrame(
        [(1, long_text), (2, "tiny!")], "doc_id long, text string"
    )
    out = multimodal.sample_frames(multimodal.attach_binary(df)).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert sorted(r.frame_idx for r in by_doc[1]) == [0, 1, 2]
    assert [r.frame_idx for r in by_doc[2]] == [0]
    sig0 = next(r for r in by_doc[1] if r.frame_idx == 0)
    assert sig0.frame_off == 0
    assert sig0.frame_sig == long_text.encode()[:16].hex()
    frame2 = next(r for r in by_doc[1] if r.frame_idx == 2)
    # frame 2 starts at byte 200; only 50 bytes remain → truncated slice
    assert frame2.frame_sig == long_text.encode()[200:216].hex()


from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.skew import salted_join


def test_salted_join_matches_plain_join(spark):
    # 1000 rows all sharing one hot key + a uniform tail; salted result
    # must be row-identical to the plain join.
    skewed = spark.createDataFrame(
        [(1, f"v{i}") for i in range(1000)] + [(k, f"t{k}") for k in range(2, 12)],
        "k long, payload string",
    )
    dim = spark.createDataFrame(
        [(k, f"d{k}") for k in range(1, 12)], "k long, attr string"
    )
    plain = {tuple(r) for r in skewed.join(dim, ["k"]).collect()}
    salted = {tuple(r) for r in salted_join(skewed, dim, on=["k"], salt=4).collect()}
    assert salted == plain


def test_salted_join_left_keeps_unmatched(spark):
    skewed = spark.createDataFrame(
        [(1, "a"), (99, "orphan")], "k long, payload string"
    )
    dim = spark.createDataFrame([(1, "d1")], "k long, attr string")
    rows = {
        (r.k, r.payload, r.attr)
        for r in salted_join(skewed, dim, on=["k"], salt=4, how="left").collect()
    }
    assert rows == {(1, "a", "d1"), (99, "orphan", None)}


def test_salted_join_spreads_hot_key(spark):
    # the per-row salt must actually scatter a hot key across buckets
    skewed = spark.createDataFrame(
        [(1, f"v{i}") for i in range(64)], "k long, payload string"
    )
    salts = (
        skewed.select(
            F.pmod(F.xxhash64("payload"), F.lit(4)).cast("int").alias("s")
        )
        .distinct()
        .count()
    )
    assert salts > 1


def test_write_curated_partitioned_roundtrip(spark, tmp_path):
    from stedi_human_balance_redis_kafka_spark_streaming_spark.sources.files import write_curated

    df = spark.createDataFrame(
        [(i, "en" if i % 2 else "de", f"doc {i}") for i in range(20)],
        "doc_id long, lang string, text string",
    )
    out = str(tmp_path / "curated")
    write_curated(df, out)
    import os

    dirs = {d for d in os.listdir(out) if d.startswith("lang=")}
    assert dirs == {"lang=en", "lang=de"}
    back = spark.read.parquet(out)
    assert {tuple(r) for r in back.select("doc_id", "lang", "text").collect()} == {
        tuple(r) for r in df.collect()
    }


def test_resize_box_filter_means(spark):
    # 32 bytes → 2 grid rows.  Output rows 0,1 both cover grid row 0
    # (short grid: at-least-one-row rule), rows 2,3 cover grid row 1;
    # each column box is 4 consecutive bytes → pixel = mean of 4 bytes.
    data = bytes(range(32))
    df = spark.createDataFrame([(1, data), (2, b""), (3, b"Q")],
                               "doc_id long, blob binary")
    rows = {r.doc_id: r for r in multimodal.resize_box(df).collect()}
    assert 2 not in rows  # empty blob emits nothing
    r1 = rows[1]
    assert (r1.n_bytes, r1.grid_h) == (32, 2)
    # row 0: means of (0..3),(4..7),(8..11),(12..15) = 1,5,9,13
    expect = bytes(
        [1, 5, 9, 13] * 2 + [17, 21, 25, 29] * 2
    ).hex()
    assert r1.resized_hex == expect
    # single byte: box (0,0) averages the one real byte; boxes past the
    # ragged end clamp to the last byte — all pixels 'Q'
    assert rows[3].resized_hex == (b"Q" * 16).hex()


def test_resize_box_ragged_last_row(spark):
    # 20 bytes → grid 2 rows, second row ragged (bytes 16..19 only).
    data = bytes(range(20))
    df = spark.createDataFrame([(1, data)], "doc_id long, blob binary")
    r = multimodal.resize_box(df).collect()[0]
    assert (r.n_bytes, r.grid_h) == (20, 2)
    px = bytes.fromhex(r.resized_hex)
    # row-1 boxes: cols 0-3 exist (mean 17); cols 4+ past the end → clamp 19
    assert list(px) == [1, 5, 9, 13] * 2 + [17, 19, 19, 19] * 2


# ---------------------------------------------------------------------------
# k-means centroid training + spill multi-assignment (similarity)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def vec_corpus(spark):
    # Two well-separated direction clusters around e0 and e1 (dim 4), ids
    # arranged so the modulus seeds (vec_id % 2 == 0) start one per cluster.
    rows = []
    for i in range(20):
        base = [1.0, 0.05 * (i % 5), 0.0, 0.0] if i % 2 == 0 else [
            0.05 * (i % 5), 1.0, 0.0, 0.0]
        rows.append((i, [float(x) for x in base]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _flat_corpus(df):
    dim = similarity.embedding_dim(df)
    return similarity._flat(df, "vec_id", "d", dim), dim


def test_kmeans_centroids_partition_invariant(vec_corpus):
    """Integer-quantized updates make training independent of physical
    partitioning (a float mean would drift with partial-agg order)."""
    e, dim = _flat_corpus(vec_corpus)
    a = similarity.kmeans_centroids(e, dim, seed_modulus=2, iters=2)
    b = similarity.kmeans_centroids(e.repartition(7), dim, seed_modulus=2, iters=2)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_kmeans_centroids_land_on_cluster_means(vec_corpus):
    """On two separated direction clusters, one trained centroid points
    dominantly along each axis."""
    e, dim = _flat_corpus(vec_corpus)
    cents = similarity.kmeans_centroids(e, dim, seed_modulus=2, iters=2).collect()
    dirs = set()
    for r in cents:
        comps = [r[f"c{i}"] for i in range(dim)]
        dirs.add(max(range(dim), key=lambda i: comps[i]))
    assert {0, 1} <= dirs


def test_spill_assignment_supersets_single(vec_corpus):
    """spill=2 assigns each vector to 2 distinct buckets, the first being
    exactly the single-assignment bucket."""
    e, dim = _flat_corpus(vec_corpus)
    cents = e.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("cid"),
        F.col("nrm").alias("cnrm"),
        *[F.col(f"d{i}").alias(f"c{i}") for i in range(dim)],
    )
    single = {
        r.vec_id: r.cid
        for r in similarity.assign_nearest_centroid(e, cents, dim).collect()
    }
    multi = {}
    for r in similarity.assign_spill_centroids(e, cents, dim, spill=2).collect():
        multi.setdefault(r.vec_id, set()).add(r.cid)
    assert set(multi) == set(single)
    for vid, cids in multi.items():
        assert len(cids) == 2
        assert single[vid] in cids


def test_ivf_topk_spill_recall_not_worse(vec_corpus):
    """On the handcrafted corpus, spill=2 candidates are a superset of
    spill=1 candidates for every query, so recall can only improve."""
    q = similarity.queries_by_modulus(vec_corpus, 10)
    r1 = similarity.ivf_topk(vec_corpus, q, k=5, centroid_modulus=2, nprobe=1)
    r2 = similarity.ivf_topk(
        vec_corpus, q, k=5, centroid_modulus=2, nprobe=1, spill=2
    )
    bf = similarity.brute_force_topk(vec_corpus, q, k=5)
    key = lambda df: {(r.query_id, r.vec_id) for r in df.collect()}
    assert len(key(r2) & key(bf)) >= len(key(r1) & key(bf))


def test_shared_span_stats_known_docs(docs):
    """Docs 0/1 are identical (every 5-gram span shared); doc 3 shares
    nothing; doc 4 (different language, no overlap) shares nothing."""
    out = {r.doc_id: r for r in text_ops.shared_span_stats(docs, n=5).collect()}
    # 9-token docs -> 5 spans each
    assert out[0].n_spans == 5 and out[1].n_spans == 5
    assert out[0].n_shared_spans == 5 and out[1].n_shared_spans == 5
    assert out[0].boilerplate_e6 == 1_000_000
    # doc 2 differs from 0/1 by the middle token (index 4 of 9): every
    # 5-gram span covers it, so nothing is shared at n=5...
    assert out[2].n_shared_spans == 0
    assert out[3].n_shared_spans == 0 and out[4].n_shared_spans == 0
    assert out[3].boilerplate_e6 == 0
    # ...but at n=3 the flanks clear the changed token and ARE shared
    out3 = {r.doc_id: r for r in text_ops.shared_span_stats(docs, n=3).collect()}
    assert 0 < out3[2].n_shared_spans < out3[2].n_spans


def test_rebalance_by_rate_boundaries_and_determinism(spark):
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.curation import (
        rebalance_by_rate,
    )

    rows = [(i, "a" if i % 2 == 0 else "b") for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    rates = spark.createDataFrame(
        [("a", 1_000_000), ("b", 500_000)], "source string, rate_e6 long"
    )
    kept = rebalance_by_rate(df, rates).select("doc_id", "source")
    out = kept.collect()
    a = [r.doc_id for r in out if r.source == "a"]
    b = [r.doc_id for r in out if r.source == "b"]
    assert len(a) == 200  # rate 1.0 keeps every 'a' row
    assert 40 <= len(b) <= 160  # ~50% of 200, deterministic hash not RNG
    # partition-invariant: same membership under a different layout
    out2 = rebalance_by_rate(df.repartition(13), rates).select("doc_id").collect()
    assert sorted(r.doc_id for r in out2) == sorted(r.doc_id for r in out)
    # zero rate drops the stratum entirely; unknown stratum dropped too
    rates0 = spark.createDataFrame(
        [("a", 0)], "source string, rate_e6 long"
    )
    assert rebalance_by_rate(df, rates0).count() == 0


def test_pii_scrub_counts_and_redaction(spark):
    rows = [
        (1, "write to alice.smith+x@mail-host.co.uk or call 555-123-4567"),
        (2, "ssn 123-45-6789 from 192.168.1.10 twice 10.0.0.1"),
        (3, "no pii here at all"),
        (4, "two mails a@b.io c@d.org"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in text_ops.pii_scrub(df).collect()}
    assert (out[1].n_emails, out[1].n_phones) == (1, 1)
    assert (out[2].n_ids, out[2].n_ips) == (1, 2)
    assert out[3].pii_total == 0
    assert out[4].n_emails == 2
    # redaction is verified through the hash of the replaced text
    exp = "write to <EMAIL> or call <PHONE>"
    assert out[1].clean_md5 == hashlib.md5(exp.encode()).hexdigest()
    assert out[1].clean_len == len(exp)
    exp2 = "ssn <ID> from <IP> twice <IP>"
    assert out[2].clean_md5 == hashlib.md5(exp2.encode()).hexdigest()


def test_pii_patterns_disjoint_on_mixed_text(spark):
    # a phone is NOT counted as an id and vice versa (3-3-4 vs 3-2-4)
    df = spark.createDataFrame(
        [(1, "call 555-123-4567 ref 123-45-6789")], "doc_id long, text string"
    )
    r = text_ops.pii_scrub(df).collect()[0]
    assert (r.n_phones, r.n_ids, r.pii_total) == (1, 1, 2)


def test_lm_score_known_bigram_model(spark):
    # corpus bigrams: "a b" x2, "a c" x1, "b a" x1, "c a" x1
    # c(a,.)=3 -> p(a b)=666666, p(a c)=333333; c(b,.)=1 -> p(b a)=1e6
    # doc 1 "a b a c" bigrams: a b, b a, a c
    #   score = (666666 + 1000000 + 333333) div 3 = 666666
    # doc 2 "c a b": c a (1e6), a b (666666) -> 833333
    rows = [(1, "a b a c"), (2, "c a b"), (3, "solo")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in text_ops.lm_score(df).collect()}
    assert out[1].n_bigrams == 3 and out[1].lm_score_e6 == 666666
    assert out[2].n_bigrams == 2 and out[2].lm_score_e6 == 833333
    assert out[3].n_bigrams == 0 and out[3].lm_score_e6 == 0


def test_events_funnel_ordering_invariants(spark, sf_dir):
    from stedi_human_balance_redis_kafka_spark_streaming_spark.plans.extras import (
        events_funnel,
    )

    rows = events_funnel(spark, sf_dir).collect()
    assert rows, "funnel produced no users"
    for r in rows:
        if r.reached_stage >= 2:
            assert r.t2_us > r.t1_us
        else:
            assert r.t2_us is None
        if r.reached_stage == 3:
            assert r.t3_us > r.t2_us
        else:
            assert r.t3_us is None


def test_events_gapfill_dense_axis_and_totals(spark, sf_dir):
    from stedi_human_balance_redis_kafka_spark_streaming_spark.plans.extras import (
        events_gapfill_rollup,
    )
    from stedi_human_balance_redis_kafka_spark_streaming_spark.sources.files import (
        load_table,
    )

    out = events_gapfill_rollup(spark, sf_dir)
    rows = out.collect()
    buckets = {r.hour_bucket for r in rows}
    types = {r.event_type for r in rows}
    # dense: every (type, bucket) cell exactly once over the full range
    assert buckets == set(range(min(buckets), max(buckets) + 1))
    assert len(rows) == len(buckets) * len(types)
    # zero-filled cells exist and totals reconcile with the raw table
    assert any(r.n_events == 0 for r in rows)
    n_raw = load_table(spark, sf_dir, "events").count()
    assert sum(r.n_events for r in rows) == n_raw


def test_index_build_cache_bit_identical_and_scoped(vec_corpus):
    """The ingest-time build cache returns rows bit-identical to a fresh
    training run, only for the exact (key, params) tuple, and never
    engages without a cache_key."""
    e, dim = _flat_corpus(vec_corpus)
    key = "test-corpus-A"
    for k in [k for k in buildcache.INDEX_BUILD_CACHE if k[1] == key]:
        del buildcache.INDEX_BUILD_CACHE[k]
    fresh = sorted(
        map(tuple, similarity.kmeans_centroids(
            e, dim, seed_modulus=2, iters=2, cache_key=key).collect())
    )
    assert any(k[1] == key for k in buildcache.INDEX_BUILD_CACHE)
    cached = sorted(
        map(tuple, similarity.kmeans_centroids(
            e, dim, seed_modulus=2, iters=2, cache_key=key).collect())
    )
    assert cached == fresh
    # different params -> different cache slot (no false sharing)
    other = similarity.kmeans_centroids(
        e, dim, seed_modulus=2, iters=1, cache_key=key
    )
    keys = [k for k in buildcache.INDEX_BUILD_CACHE if k[1] == key]
    assert len(keys) == 2 and other is not None


def test_sq8_build_artifacts_ride_the_cache(vec_corpus):
    """VERDICT r10 #2: the SQ8 stored artifact is the 1-byte code table
    + the [mn, mx] row — with a cache_key both land in the build cache
    on first use and the cached pass returns bit-identical top-k
    (ann_sq8_recall's hash must not move)."""
    key = "test-sq8-corpus"
    for k in [k for k in buildcache.INDEX_BUILD_CACHE if k[1] == key]:
        del buildcache.INDEX_BUILD_CACHE[k]
    q = similarity.queries_by_modulus(vec_corpus, 7)
    fresh = sorted(map(tuple, similarity.sq8_topk(
        vec_corpus, q, k=5, shortlist=8, cache_key=key).collect()))
    kinds = {k[0] for k in buildcache.INDEX_BUILD_CACHE if k[1] == key}
    # r13 adds the reconstruction VIEW as a third entry (a pure
    # deterministic function of the first two — serving it skips the
    # per-call dim-wide CASE/div re-plan)
    assert kinds == {"sq8_codes", "sq8_minmax", "sq8_recon"}
    cached = sorted(map(tuple, similarity.sq8_topk(
        vec_corpus, q, k=5, shortlist=8, cache_key=key).collect()))
    assert cached == fresh
    # no cache_key -> no cache engagement (ad-hoc frames always retrain)
    nokey = sorted(map(tuple, similarity.sq8_topk(
        vec_corpus, q, k=5, shortlist=8).collect()))
    assert nokey == fresh
    assert len([k for k in buildcache.INDEX_BUILD_CACHE if k[1] == key]) == 3


def test_index_build_cache_lru_eviction(monkeypatch):
    """The MEMORY tier is LRU-bounded: overfilling past MAX_ENTRIES
    evicts the least-recently-used key; touching a key refreshes it.
    (Disk tier disabled so eviction is observable as a miss.)"""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        buildcache,
    )

    monkeypatch.setenv("SPARK_GRAFT_BUILDCACHE_DIR", "")
    saved = dict(buildcache.INDEX_BUILD_CACHE)
    buildcache.INDEX_BUILD_CACHE.clear()
    try:
        for i in range(buildcache.MAX_ENTRIES):
            buildcache.store(("t", f"corpus-{i}"), [(i,)])
        assert len(buildcache.INDEX_BUILD_CACHE) == buildcache.MAX_ENTRIES
        # touch the oldest so it becomes most-recent
        assert buildcache.lookup(("t", "corpus-0")) == [(0,)]
        buildcache.store(("t", "corpus-new"), [(99,)])
        assert len(buildcache.INDEX_BUILD_CACHE) == buildcache.MAX_ENTRIES
        # corpus-1 (now the LRU) was evicted; corpus-0 survived its touch
        assert buildcache.lookup(("t", "corpus-1")) is None
        assert buildcache.lookup(("t", "corpus-0")) == [(0,)]
        assert buildcache.invalidate("corpus-0") == 1
        assert buildcache.lookup(("t", "corpus-0")) is None
    finally:
        buildcache.INDEX_BUILD_CACHE.clear()
        buildcache.INDEX_BUILD_CACHE.update(saved)


def test_build_cache_disk_tier_survives_cold_session(tmp_path, monkeypatch):
    """The warehouse Parquet tier is the cross-JOB contract: a cold
    process (empty memory LRU) must serve the ingest-built artifact from
    disk, bit-identical, instead of retraining."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        buildcache,
    )

    monkeypatch.setenv("SPARK_GRAFT_BUILDCACHE_DIR", str(tmp_path))
    saved = dict(buildcache.INDEX_BUILD_CACHE)
    buildcache.INDEX_BUILD_CACHE.clear()
    try:
        rows = [(1, "lo w", 0.75), (2, "hi", -3.0)]
        buildcache.store(("pq", "fp-abc", 8, 2), rows)
        # simulate a cold session: memory gone, disk remains
        buildcache.INDEX_BUILD_CACHE.clear()
        assert buildcache.lookup(("pq", "fp-abc", 8, 2)) == rows
        # the disk hit was promoted back into the memory LRU
        assert ("pq", "fp-abc", 8, 2) in buildcache.INDEX_BUILD_CACHE
        # a different key (regenerated-corpus fingerprint) is a miss
        assert buildcache.lookup(("pq", "fp-XYZ", 8, 2)) is None
        # empty row lists round-trip too (e.g. a no-duplicates corpus)
        buildcache.store(("dup_pairs", "fp-abc"), [])
        buildcache.INDEX_BUILD_CACHE.clear()
        assert buildcache.lookup(("dup_pairs", "fp-abc")) == []
    finally:
        buildcache.INDEX_BUILD_CACHE.clear()
        buildcache.INDEX_BUILD_CACHE.update(saved)


def test_build_cache_disk_tier_fingerprint_invalidation(tmp_path, monkeypatch):
    """invalidate(prefix) removes matching entries from BOTH tiers and
    leaves other corpora's artifacts in place; corrupt files read as
    misses, never as errors or wrong artifacts."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        buildcache,
    )

    monkeypatch.setenv("SPARK_GRAFT_BUILDCACHE_DIR", str(tmp_path))
    saved = dict(buildcache.INDEX_BUILD_CACHE)
    buildcache.INDEX_BUILD_CACHE.clear()
    try:
        buildcache.store(("ann_truth", "fp-A", 10), [(1, 2)])
        buildcache.store(("dup_pairs", "fp-A"), [(3, 4, 0.9)])
        buildcache.store(("ann_truth", "fp-B", 10), [(5, 6)])
        assert buildcache.invalidate("fp-A") == 2
        buildcache.INDEX_BUILD_CACHE.clear()  # prove disk removal too
        assert buildcache.lookup(("ann_truth", "fp-A", 10)) is None
        assert buildcache.lookup(("dup_pairs", "fp-A")) is None
        assert buildcache.lookup(("ann_truth", "fp-B", 10)) == [(5, 6)]
        # corrupt entry == miss
        key = ("ann_truth", "fp-B", 10)
        path = buildcache._path(str(tmp_path), key)
        with open(path, "wb") as f:
            f.write(b"not a parquet file")
        buildcache.INDEX_BUILD_CACHE.clear()
        assert buildcache.lookup(key) is None
    finally:
        buildcache.INDEX_BUILD_CACHE.clear()
        buildcache.INDEX_BUILD_CACHE.update(saved)


def test_table_fingerprint_tracks_data_changes(tmp_path):
    """Cache keys embed a data fingerprint: rewriting a table at the
    same path changes the key, so a regenerated corpus cannot be served
    a stale trained artifact."""
    import shutil
    import time

    from stedi_human_balance_redis_kafka_spark_streaming_spark.sources.files import (
        table_fingerprint,
    )

    src = "/root/testdata/sf0.001/embeddings.parquet"
    dst = tmp_path / "embeddings.parquet"
    shutil.copy(src, dst)
    fp1 = table_fingerprint(str(tmp_path), "embeddings")
    assert fp1 == table_fingerprint(str(tmp_path), "embeddings")  # stable
    time.sleep(0.01)
    dst.touch()  # same bytes, new mtime — still a regeneration signal
    assert table_fingerprint(str(tmp_path), "embeddings") != fp1


def test_sample_quota_exact_and_partition_invariant(spark, sf_dir):
    """Fixed-quota sampling keeps exactly min(quota, |stratum|) rows per
    stratum, identically under any input partitioning, and a different
    salt draws a different (but equally sized) sample."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.curation import (
        sample_quota,
    )
    from stedi_human_balance_redis_kafka_spark_streaming_spark.sources.files import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    sizes = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    out = sample_quota(docs, 20).select("doc_id", "lang").collect()
    per = {}
    for r in out:
        per[r.lang] = per.get(r.lang, 0) + 1
    assert per == {lang: min(20, n) for lang, n in sizes.items()}
    shuffled = sorted(
        (r.doc_id, r.lang)
        for r in sample_quota(docs.repartition(13), 20)
        .select("doc_id", "lang")
        .collect()
    )
    assert shuffled == sorted((r.doc_id, r.lang) for r in out)
    salted = sorted(
        (r.doc_id, r.lang)
        for r in sample_quota(docs, 20, salt="s2").select("doc_id", "lang").collect()
    )
    assert salted != shuffled and len(salted) == len(shuffled)


def test_registered_query_kwargs_overridable(spark, sf_dir):
    """Data-coupled constants are keyword-overridable per call with the
    module defaults (VERDICT r04 #6): overriding changes the live
    parameterization, the default call is unchanged."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.plans.analytics import (
        q8_market_share,
    )
    from stedi_human_balance_redis_kafka_spark_streaming_spark.plans.registry import (
        ann_ivf_recall,
    )

    default_rows = ann_ivf_recall(spark, sf_dir).collect()
    # nprobe == number of centroids → probes every bucket → exact search
    # → perfect recall for every surviving query
    n_cents = 1 + (1000 // 50 - 1)  # sf0.001: vec_ids 0..999, modulus 50
    full = ann_ivf_recall(spark, sf_dir, nprobe=n_cents).collect()
    assert all(r.n_overlap == r.k for r in full)
    assert len(full) >= len(default_rows)
    # q8: an absent nation yields zero nation revenue in every year
    zero = q8_market_share(spark, sf_dir, supp_nation="NO_SUCH_NATION").collect()
    assert zero and all(r.nation_rev_e6 == 0 and r.share_e6 == 0 for r in zero)


def test_keep_best_picks_quality_argmax(spark, sf_dir):
    from stedi_human_balance_redis_kafka_spark_streaming_spark.plans.registry import (
        curation_keep_best,
        dedup_clusters,
    )

    best = {r.cluster_id: r for r in curation_keep_best(spark, sf_dir).collect()}
    clusters = dedup_clusters(spark, sf_dir).collect()
    n_docs = 0
    by_cluster: dict[int, list[int]] = {}
    for r in clusters:
        by_cluster.setdefault(r.cluster_id, []).append(r.doc_id)
    # every multi-doc cluster appears with the right member count and its
    # representative is a member
    for cid, members in by_cluster.items():
        assert best[cid].n_members == len(members)
        assert best[cid].rep_doc_id in members
        n_docs += len(members)
    # singletons: every doc not in a pair keeps itself
    singles = [r for r in best.values() if r.n_members == 1]
    assert len(best) == len(by_cluster) + len(singles)
    assert all(r.rep_doc_id == r.cluster_id for r in singles)


def test_retention_cohorts_day_zero_complete(spark, sf_dir):
    from stedi_human_balance_redis_kafka_spark_streaming_spark.plans.extras import (
        events_retention_cohorts,
    )

    rows = events_retention_cohorts(spark, sf_dir).collect()
    assert rows
    # every cohort has a day-0 cell (the signup day itself is active) and
    # no cell exceeds its cohort's day-0 population
    day0 = {r.cohort_day: r.n_users for r in rows if r.day_offset == 0}
    for r in rows:
        assert r.day_offset >= 0
        assert r.cohort_day in day0
        assert r.n_users <= day0[r.cohort_day]


def test_bloom_prefilter_prunes_and_is_partition_invariant(spark, sf_dir):
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.prefilter import (
        bloom_bits,
        bloom_prefilter,
    )
    from stedi_human_balance_redis_kafka_spark_streaming_spark.sources.files import (
        load_table,
    )

    orders_hi = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") >= 400000)
        .select("o_orderkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    n_total = li.count()
    pruned = bloom_prefilter(
        li, orders_hi, key="l_orderkey", small_key="o_orderkey", num_bits=65536
    )
    n_kept = pruned.count()
    n_match = li.join(
        orders_hi, li["l_orderkey"] == orders_hi["o_orderkey"], "left_semi"
    ).count()
    # actually prunes (false-positive rate well under 50%) yet keeps
    # every true match
    assert n_match <= n_kept < n_total
    assert n_kept - n_match < 0.5 * (n_total - n_match)
    # the filter contents are partition-independent
    a = bloom_bits(orders_hi, "o_orderkey", num_bits=1024).collect()[0].bf
    b = bloom_bits(orders_hi.repartition(7), "o_orderkey", num_bits=1024).collect()[0].bf
    assert a == b


def test_bpe_merges_classic_example(spark):
    """Hand-checkable BPE: corpus weights make 'lo' the first merge,
    then 'low' — the Sennrich walkthrough shape; greedy left-to-right
    fusion on repeated letters must not double-merge."""
    rows = [
        (1, "low low low lower lower lowest"),
        (2, "aaaa aaaa"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.step: r for r in text_ops.bpe_merges(df, n_merges=3).collect()}
    # step 1: pair counts — 'l o' and 'o w' both appear in all 6 low* words;
    # 'a a' appears 3x per 'aaaa' word x2 = 6 too; tie-break pair ASC picks 'a a'
    assert out[1].pair == "a a" and out[1].merged == "aa" and out[1].cnt == 6
    # boundary-consuming fuse: 'a a a a' -> 'aa a a' (alternating on
    # same-symbol runs — the documented replace semantics); next best is
    # 'l o' (6) over 'a a' (2) and 'o w' (6, tie-break 'l o' < 'o w')
    assert out[2].pair == "l o" and out[2].cnt == 6
    assert out[3].pair == "lo w" and out[3].merged == "low" and out[3].cnt == 6


def test_bpe_segment_counts_shrink_consistently(spark):
    """Merge application shrinks symbol counts per the documented
    boundary-consuming replace semantics (runs fuse alternately)."""
    rows = [(1, "low low low lower lower lowest"), (2, "aaaa aaaa")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges = text_ops.bpe_merges(df, n_merges=3)
    out = {r.doc_id: r for r in text_ops.bpe_segment_counts(df, merges, 3).collect()}
    # doc 2: 'a a a a' -> 'aa a a' (alternating fuse) => 3 symbols/word
    assert out[2].ws_tokens == 2 and out[2].bpe_vocab_tokens == 6
    # doc 1: 'low' (3 chars) after 'l o' + 'lo w' merges -> 1 symbol;
    # 'lower' -> low+e+r = 3; 'lowest' -> low+e+s+t = 4
    assert out[1].bpe_vocab_tokens == 3 * 1 + 2 * 3 + 4


def test_bpe_merges_batched_contiguous_and_stale_counts(spark):
    """Batched rounds: steps stay 1-based contiguous, pairs are distinct,
    the first merge matches the sequential argmax, and within a round
    every reported cnt is the round-START count (stale by design —
    never larger than the rank-1 count)."""
    rows = [
        (1, "low low low lower lower lowest"),
        (2, "newer newest new"),
        (3, "wider widest wide"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    batched = text_ops.bpe_merges(df, n_merges=6, batch=3).collect()
    assert sorted(r.step for r in batched) == list(range(1, 7))
    assert len({r.pair for r in batched}) == 6
    seq = text_ops.bpe_merges(df, n_merges=1, batch=1).collect()
    by_step = {r.step: r for r in batched}
    assert by_step[1].pair == seq[0].pair and by_step[1].cnt == seq[0].cnt
    # stale-count batching: counts within a round are ranked at round
    # start, so they are non-increasing inside each round of 3
    for base in (1, 4):
        cnts = [by_step[base + i].cnt for i in range(3)]
        assert cnts == sorted(cnts, reverse=True)
    # segmentation under the batched vocabulary still validates + shrinks
    seg = {
        r.doc_id: r
        for r in text_ops.bpe_segment_counts(df, text_ops.bpe_merges(
            df, n_merges=6, batch=3), n_merges=6).collect()
    }
    for r in seg.values():
        assert r.bpe_vocab_tokens >= r.ws_tokens  # symbols >= words


def test_bpe_merges_exhaustion_raises(spark):
    """Asking for more merges than the corpus has adjacent pairs must
    raise loudly, never return a silently short merge table."""
    df = spark.createDataFrame([(1, "ab ab")], "doc_id long, text string")
    with pytest.raises(ValueError, match="ran out of adjacent pairs"):
        text_ops.bpe_merges(df, n_merges=5, batch=2)


def test_bpe_merges_build_cache_roundtrip(spark):
    """cache_key routes BPE training through the ingest-time build
    cache: the second call serves bit-identical rows from the cache."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        buildcache,
    )

    df = spark.createDataFrame(
        [(1, "low low lower"), (2, "newer newest")], "doc_id long, text string"
    )
    key = "bpe-test-corpus"
    buildcache.invalidate(key)
    fresh = sorted(map(tuple, text_ops.bpe_merges(
        df, n_merges=4, batch=2, cache_key=key).collect()))
    assert any(k[1] == key for k in buildcache.INDEX_BUILD_CACHE)
    cached = sorted(map(tuple, text_ops.bpe_merges(
        df, n_merges=4, batch=2, cache_key=key).collect()))
    assert cached == fresh
    buildcache.invalidate(key)


# ---------------------------------------------------------------------------
# Sliding-window chunking (text_chunk_sliding)
# ---------------------------------------------------------------------------


def test_chunk_sliding_covers_every_token_with_overlap(spark):
    # 10 tokens, window 4, stride 3 → starts 0,3,6,9; last chunk short.
    words = [f"w{i}" for i in range(10)]
    df = spark.createDataFrame(
        [(7, " ".join(words))], "doc_id long, text string"
    )
    rows = {
        r["chunk_id"]: r
        for r in text_ops.chunk_sliding(
            df, chunk_tokens=4, stride=3
        ).collect()
    }
    assert sorted(rows) == [0, 1, 2, 3]
    assert [rows[i]["start_tok"] for i in sorted(rows)] == [0, 3, 6, 9]
    assert rows[0]["chunk_text"] == "w0 w1 w2 w3"
    assert rows[1]["chunk_text"] == "w3 w4 w5 w6"  # 1-token overlap
    assert rows[3]["chunk_text"] == "w9"  # short tail window
    assert rows[3]["chunk_len"] == 1
    # every token appears in at least one chunk
    covered = set()
    for r in rows.values():
        covered.update(r["chunk_text"].split(" "))
    assert covered == set(words)


def test_chunk_sliding_single_chunk_when_doc_fits(spark):
    df = spark.createDataFrame(
        [(1, "a b c")], "doc_id long, text string"
    )
    out = text_ops.chunk_sliding(df, chunk_tokens=64, stride=48).collect()
    assert len(out) == 1
    assert out[0]["chunk_id"] == 0
    assert out[0]["chunk_len"] == 3
    assert out[0]["chunk_text"] == "a b c"


def test_chunk_sliding_rejects_bad_params(spark):
    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError):
        text_ops.chunk_sliding(df, chunk_tokens=0)
    with pytest.raises(ValueError):
        text_ops.chunk_sliding(df, stride=0)


def test_audio_energy_windows_and_values(spark):
    # doc of 250 'a' bytes (97): 3 windows of 100/100/50 samples;
    # amp = 97-128 = -31 → energy = n·961, peak = 31.
    df = spark.createDataFrame(
        [(5, "a" * 250), (6, "")], "doc_id long, text string"
    )
    blobs = multimodal.attach_binary(df)
    rows = {
        (r["doc_id"], r["win_idx"]): r
        for r in multimodal.audio_energy(blobs).collect()
    }
    assert set(rows) == {(5, 0), (5, 1), (5, 2)}  # empty doc: no rows
    assert rows[(5, 0)]["n_samples"] == 100
    assert rows[(5, 0)]["energy"] == 100 * 31 * 31
    assert rows[(5, 2)]["n_samples"] == 50
    assert rows[(5, 2)]["energy"] == 50 * 31 * 31
    assert all(r["peak"] == 31 for r in rows.values())


# ---------------------------------------------------------------------------
# PageRank (operators/graph.py)
# ---------------------------------------------------------------------------


def test_pagerank_star_graph_one_round_exact(spark):
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        graph,
    )

    # undirected star: center 0 — leaves 1,2,3 (symmetrized edges)
    pairs = [(0, 1), (0, 2), (0, 3)]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src long, dst long"
    )
    r = {
        x["node"]: x["rank_e12"]
        for x in graph.pagerank(edges, iters=1).collect()
    }
    # r1(center) = .15e12 + 85·(3·(1e12 div 1)) div 100
    assert r[0] == 150_000_000_000 + (85 * 3 * 1_000_000_000_000) // 100
    # r1(leaf) = .15e12 + 85·(1e12 div 3) div 100
    assert r[1] == 150_000_000_000 + (85 * (10**12 // 3)) // 100
    assert r[1] == r[2] == r[3]


def test_pagerank_zero_iters_is_uniform_and_mass_conserved(spark):
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        graph,
    )

    pairs = [(0, 1), (1, 2), (2, 3), (3, 0)]  # 4-cycle
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src long, dst long"
    )
    r0 = {
        x["node"]: x["rank_e12"]
        for x in graph.pagerank(edges, iters=0).collect()
    }
    assert set(r0.values()) == {10**12}
    # regular graph: every round is exactly mass-preserving per node
    r3 = {
        x["node"]: x["rank_e12"]
        for x in graph.pagerank(edges, iters=3).collect()
    }
    assert set(r3.values()) == {10**12}


def test_pagerank_rejects_bad_params(spark):
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        graph,
    )

    edges = spark.createDataFrame([(0, 1), (1, 0)], "src long, dst long")
    with pytest.raises(ValueError):
        graph.pagerank(edges, iters=-1)
    with pytest.raises(ValueError):
        graph.pagerank(edges, damping_pct=101)


def test_pagerank_rejects_dangling_destination_only_nodes(spark):
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        graph,
    )

    # node 2 never appears as a source: its inbound mass would be
    # silently discarded and it would vanish from the output — the
    # precondition check must raise instead.
    edges = spark.createDataFrame(
        [(0, 1), (1, 0), (0, 2)], "src long, dst long"
    )
    with pytest.raises(ValueError, match="dangling"):
        graph.pagerank(edges, iters=1)
    with pytest.raises(ValueError, match="dangling"):
        graph.pagerank(edges, iters=1, dangling="bogus")
    # validate=False is the trusted-caller escape hatch: no check job,
    # no raise — output covers source nodes only (documented contract).
    r = {
        x["node"]: x["rank_e12"]
        for x in graph.pagerank(edges, iters=1, validate=False).collect()
    }
    assert set(r) == {0, 1}


def test_pagerank_redistribute_sink_mass_hand_computed(spark):
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        graph,
    )

    # 0 → {1, 2}; nodes 1 and 2 are pure sinks.  N = 3, r0 = 1e12 each.
    edges = spark.createDataFrame([(0, 1), (0, 2)], "src long, dst long")
    r = {
        x["node"]: x["rank_e12"]
        for x in graph.pagerank(
            edges, iters=1, dangling="redistribute"
        ).collect()
    }
    base = 150_000_000_000
    share = (2 * 10**12) // 3  # both sinks' full mass, split 3 ways
    msg = 10**12 // 2  # node 0's rank over out-degree 2
    assert set(r) == {0, 1, 2}
    assert r[0] == base + (85 * share) // 100
    assert r[1] == base + (85 * (msg + share)) // 100
    assert r[2] == r[1]


def test_pagerank_weighted_hand_computed_and_w1_equivalence(spark):
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        graph,
    )

    # star: 0-1 (w=3), 0-2 (w=1), symmetrized.  wdeg(0)=4, wdeg(1)=3,
    # wdeg(2)=1.
    pairs = [(0, 1, 3), (0, 2, 1)]
    edges = spark.createDataFrame(
        pairs + [(b, a, w) for a, b, w in pairs], "src long, dst long, w long"
    )
    r = {
        x["node"]: x["rank_e12"]
        for x in graph.pagerank(edges, iters=1, weight="w").collect()
    }
    base = 150_000_000_000
    q = 10**12
    # msg(1->0) = (1e12*3) div 3; msg(2->0) = (1e12*1) div 1
    assert r[0] == base + (85 * (q + q)) // 100
    assert r[1] == base + (85 * ((q * 3) // 4)) // 100
    assert r[2] == base + (85 * ((q * 1) // 4)) // 100
    # all-ones weights must equal the unweighted form bit-for-bit
    ones = edges.withColumn("w", F.lit(1).cast("long"))
    a = {
        x["node"]: x["rank_e12"]
        for x in graph.pagerank(ones, iters=3, weight="w").collect()
    }
    b = {
        x["node"]: x["rank_e12"]
        for x in graph.pagerank(
            ones.drop("w"), iters=3, validate=False
        ).collect()
    }
    assert a == b
    # parallel edges collapse by summing: duplicating every edge row at
    # half weight... (3 = 2+1) must equal the single-row form
    split = spark.createDataFrame(
        [(0, 1, 2), (0, 1, 1), (0, 2, 1), (1, 0, 2), (1, 0, 1), (2, 0, 1)],
        "src long, dst long, w long",
    )
    c = {
        x["node"]: x["rank_e12"]
        for x in graph.pagerank(split, iters=1, weight="w").collect()
    }
    assert c == r
    # non-positive weights are rejected
    bad = spark.createDataFrame(
        [(0, 1, 0), (1, 0, 1)], "src long, dst long, w long"
    )
    with pytest.raises(ValueError, match="positive"):
        graph.pagerank(bad, iters=1, weight="w")


def test_pagerank_redistribute_empty_edges(spark):
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        graph,
    )

    empty = spark.createDataFrame([], "src long, dst long")
    assert graph.pagerank(
        empty, iters=2, dangling="redistribute"
    ).collect() == []


def test_pagerank_redistribute_matches_error_mode_when_no_sinks(spark):
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        graph,
    )

    # With zero dangling nodes the sink share is 0 every round, so the
    # two modes must agree bit-for-bit.
    pairs = [(0, 1), (1, 2), (2, 0), (0, 2)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    a = {
        x["node"]: x["rank_e12"]
        for x in graph.pagerank(edges, iters=3).collect()
    }
    b = {
        x["node"]: x["rank_e12"]
        for x in graph.pagerank(
            edges, iters=3, dangling="redistribute"
        ).collect()
    }
    assert a == b


def test_quality_linear_score_blend_and_gate(spark):
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        curation,
    )

    stats = spark.createDataFrame(
        [(1, 900_000), (2, 100_000)], "doc_id long, quality_e6 long"
    )
    rep = spark.createDataFrame(
        [(1, 0), (2, 800_000)], "doc_id long, rep_bigram_e6 long"
    )
    lm = spark.createDataFrame(
        [(1, 200_000), (2, 1_000)], "doc_id long, lm_score_e6 long"
    )
    out = {
        r["doc_id"]: (r["score_e6"], r["keep"])
        for r in curation.quality_linear_score(stats, rep, lm).collect()
    }
    # doc 1: (50·9e5 + 30·1e6 + 20·min(2e6, 1e6)) div 100 = 950000
    assert out[1] == (950_000, True)
    # doc 2: (50·1e5 + 30·2e5 + 20·1e4) div 100 = 112000
    assert out[2] == ((50 * 100_000 + 30 * 200_000 + 20 * 10_000) // 100,
                      False)
    with pytest.raises(ValueError, match="sum to 100"):
        curation.quality_linear_score(stats, rep, lm, w_quality=90)


def test_sample_weighted_prefers_heavy_rows_and_is_exact_quota(spark):
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        curation,
    )

    # one stratum, 100 rows: ids 0..89 weight 1, ids 90..99 weight 10^9.
    rows = [(i, "en", 1 if i < 90 else 1_000_000_000) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, w long")
    kept = curation.sample_weighted(
        df, 20, weight_col="w", stratum_col="lang"
    ).collect()
    assert len(kept) == 20  # quota-exact
    kept_ids = {r["doc_id"] for r in kept}
    # every mega-weight row's priority is ~2^60/10^9 ≈ 10^9, far below
    # the light rows' ~2^60/2 — all 10 heavy rows must be kept
    assert set(range(90, 100)) <= kept_ids
    # determinism: same call → same set
    again = {
        r["doc_id"]
        for r in curation.sample_weighted(
            df, 20, weight_col="w", stratum_col="lang"
        ).collect()
    }
    assert again == kept_ids


def test_sample_weighted_raises_on_negative_weight(spark):
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        curation,
    )

    # weight -1 would divide by zero → NULL priority → under default
    # NULLS FIRST the invalid row would silently win a quota slot; the
    # operator must raise at execution instead.
    rows = [(0, "en", 5), (1, "en", -1), (2, "en", 7)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, w long")
    with pytest.raises((Py4JJavaError, PySparkException)) as exc:
        curation.sample_weighted(
            df, 2, weight_col="w", stratum_col="lang"
        ).collect()
    assert "negative weight" in str(exc.value)


def test_mmr_diversifies_away_from_redundant_runner_up(spark):
    # corpus: a1/a2 nearly collinear (one topic), b1 orthogonal (another
    # topic).  Pure relevance ranks a2 > a1 > b1; MMR at λ=0.7 must pick
    # a2 then JUMP to b1 (a1's redundancy penalty 3·0.99e6 outweighs its
    # relevance edge over b1).
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),   # a1
            (2, [0.99, 0.14, 0.0, 0.0]), # a2: most relevant to q
            (3, [0.0, 1.0, 0.0, 0.0]),   # b1: diverse
        ],
        "vec_id long, embedding array<float>",
    )
    q = spark.createDataFrame(
        [(100, [0.8, 0.6, 0.0, 0.0])], "query_id long, qv array<double>"
    )
    out = {
        r["mmr_rank"]: r["vec_id"]
        for r in similarity.mmr_topk(emb, q, k=2, n_cand=3).collect()
    }
    assert out == {1: 2, 2: 3}  # a2 first, then the diverse b1 — not a1
    # sanity: pure relevance top-2 WOULD have been (a2, a1)
    bf = {
        r["rank"]: r["vec_id"]
        for r in similarity.brute_force_topk(emb, q, k=2).collect()
    }
    assert bf == {1: 2, 2: 1}


def test_containment_catches_excerpt_that_jaccard_misses(spark):
    # doc 21 is a 4-token excerpt of the 40-token doc 20: containment of
    # the smaller set is 1.0 while Jaccard is far below any dedup bar.
    big_words = [f"u{i}" for i in range(40)]
    df = spark.createDataFrame(
        [
            (20, " ".join(big_words)),
            (21, " ".join(big_words[10:14])),  # pure excerpt
            (22, "totally different words entirely here"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r["doc_a"], r["doc_b"]): r["containment_e6"]
        for r in dedup.ngram_containment_pairs(df, threshold_e6=800_000).collect()
    }
    assert (20, 21) in pairs and pairs[(20, 21)] == 1_000_000
    assert not any(22 in p for p in pairs)
    jacc = dedup.ngram_jaccard_pairs(df, threshold=0.7).collect()
    assert all((r["doc_a"], r["doc_b"]) != (20, 21) for r in jacc)


def test_profile_table_nulls_bounds_and_validation(spark):
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        profiling,
    )

    df = spark.createDataFrame(
        [(1, "a", 2.5), (2, None, None), (2, "b", 1.0), (None, "a", 1.0)],
        "k long, s string, v double",
    )
    out = {r.col_name: r for r in
           profiling.profile_table(df, ["k", "s", "v"]).collect()}
    assert out["k"].n_rows == 4 and out["k"].n_nulls == 1
    assert out["k"].n_distinct == 2  # SQL distinct excludes NULL
    assert (out["k"].min_s, out["k"].max_s) == ("1", "2")
    assert out["s"].n_nulls == 1 and out["s"].n_distinct == 2
    assert (out["s"].min_s, out["s"].max_s) == ("a", "b")
    # floating bounds are NULL by policy; counts still exact
    assert out["v"].n_distinct == 2
    assert out["v"].min_s is None and out["v"].max_s is None
    assert all(r.approx_ok for r in out.values())
    with pytest.raises(ValueError, match="unknown columns"):
        profiling.profile_table(df, ["nope"])


def test_triangle_count_known_graphs(spark):
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        graph,
    )

    def tc(pairs):
        df = spark.createDataFrame(pairs, "src long, dst long")
        return tuple(graph.triangle_count(df).collect()[0])

    # K4: 4 triangles — input deliberately messy (self-loop, reverse
    # duplicates) to exercise canonicalization
    k4 = [(a, b) for a in range(4) for b in range(4) if a != b] + [(0, 0)]
    assert tc(k4) == (4, 6, 4)
    # triangle + pendant edge
    assert tc([(0, 1), (1, 2), (2, 0), (2, 3)]) == (4, 4, 1)
    # path: no triangles
    assert tc([(0, 1), (1, 2), (2, 3)]) == (4, 3, 0)


def test_sorted_neighborhood_pairs_window_and_verify(spark):
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        dedup,
    )

    # Docs 1/2 are near-identical (adjacent under the prefix key and
    # J >= 0.7); doc 3 shares the prefix but diverges (candidate, fails
    # verify); doc 4 sorts far away (never a candidate even though it
    # near-matches doc 5 textually... both DO sort adjacent and match).
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon eta"),
        (3, "alpha beta gamma x y z q r s t u v w"),
        (4, "zulu yankee xray whiskey victor uniform"),
        (5, "zulu yankee xray whiskey victor tango"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b)
        for r in dedup.sorted_neighborhood_pairs(
            df, threshold=0.5, n=3, window=2
        ).collect()
    }
    assert (1, 2) in got
    assert (4, 5) in got
    assert all(p != (1, 3) and p != (2, 3) for p in got)  # verify rejects
    # window=0-distance sanity: identical duplicate always caught
    df2 = spark.createDataFrame(
        [(1, "same same same text"), (2, "same same same text")],
        "doc_id long, text string",
    )
    out = dedup.sorted_neighborhood_pairs(df2, threshold=0.9, n=3, window=1)
    assert [(r.doc_a, r.doc_b, r.jaccard) for r in out.collect()] == [
        (1, 2, 1.0)
    ]


@pytest.mark.parametrize("n", [6, 10])
def test_fixpoint_loops_run_one_job_per_round(spark, n):
    """k_core, coreness, bfs_distances and shortest_paths observe their
    convergence metric inside each round's checkpoint job, so a round
    is exactly one Spark job.  AQE and broadcast joins are off for the
    count: each would launch extra jobs of its own (one per shuffle
    stage, one per broadcast), and one action would no longer be one
    job.  On the path 0-1-…-(n-1): k_core (k=2) peels both leaves per
    round, ceil((n-1)/2) rounds, plus one round that sees the edge
    count stand still; coreness starts from the degrees (1 at the two
    ends, 2 at the n-2 inner nodes) and each h-index round lowers the
    outermost 2 at each end to 1, ceil((n-2)/2) rounds, plus one round
    that sees the sum stand still; bfs_distances and shortest_paths
    reach one new node per round, n-1 rounds, plus one that finds
    nothing new."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        graph,
    )

    sc = spark.sparkContext
    path = spark.createDataFrame(
        [(i, i + 1, 1) for i in range(n - 1)], "src long, dst long, w long"
    )
    seeds = spark.createDataFrame([(0,)], "node long")
    # fixed setup jobs: every loop checkpoints its initial frame (round
    # 0); coreness, bfs_distances and shortest_paths first persist +
    # count their symmetric edge set or adjacency
    cases = {
        "k_core": (lambda: graph.k_core(path, k=2), (n - 1 + 1) // 2 + 1, 1),
        "coreness": (lambda: graph.coreness(path), (n - 2 + 1) // 2 + 1, 2),
        "bfs_distances": (lambda: graph.bfs_distances(path, seeds), n, 2),
        "shortest_paths": (
            lambda: graph.shortest_paths(path, seeds, validate=False), n, 2
        ),
    }
    conf = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        for name, (build, rounds, setup) in cases.items():
            group = f"one-job-per-round-{name}-{n}"
            sc.setJobGroup(group, group)
            try:
                build()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            assert jobs == rounds + setup, (name, jobs, rounds, setup)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
