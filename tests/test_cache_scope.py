"""Cache-lifecycle tests: persisted intermediates must not outlive their query.

Round-3 VERDICT flagged that the recall-eval queries (and the dedup
operators' inverted-index caches) persist() without unpersist(), so a
long-lived session accumulates blocks until the ContextCleaner happens to
reclaim them.  session's block scope (hold / @scoped / owned) ties each
persist to the lifetime of the frame the caller actually holds; these
tests assert the blocks are gone from the block manager once the result
is dropped.
"""

from __future__ import annotations

import gc

import pytest
from pyspark.sql import functions as F

from _blocks import NewBlocks

from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import dedup
from stedi_human_balance_redis_kafka_spark_streaming_spark.plans import registry
from stedi_human_balance_redis_kafka_spark_streaming_spark.session import owned
from stedi_human_balance_redis_kafka_spark_streaming_spark.sources.files import load_table


def test_operator_self_scope_releases_caches(spark, sf_dir):
    spark.catalog.clearCache()
    blocks = NewBlocks(spark)
    docs = load_table(spark, sf_dir, "documents")
    result = dedup.minhash_lsh_pairs(docs, threshold=0.7, shingle_n=3)
    blocks.assert_live()  # index + candidates live
    result.count()
    del result
    blocks.assert_released(jvm_gc=True)


def test_recall_query_releases_all_caches(spark, sf_dir):
    spark.catalog.clearCache()
    blocks = NewBlocks(spark)
    result = registry.queries()["dedup_lsh_recall"](spark, sf_dir)
    rows = result.collect()
    assert len(rows) == 1
    blocks.assert_live()
    del result
    blocks.assert_released(jvm_gc=True)


def test_caches_survive_until_action(spark, sf_dir):
    # The scope must NOT evict eagerly: while the caller holds the result,
    # the operators' eagerly-materialized caches stay hot for the action.
    spark.catalog.clearCache()
    blocks = NewBlocks(spark)
    docs = load_table(spark, sf_dir, "documents")
    with owned() as caches:
        pairs = dedup.ngram_jaccard_pairs(
            docs, threshold=0.7, n=3, max_shingle_freq=64
        )
    assert len(caches) == 1
    live = blocks.assert_live()
    gc.collect()
    assert blocks.live() == live  # nothing released early
    pairs.count()
    for c in caches:
        c.unpersist(False)
    blocks.assert_released(jvm_gc=True)


def test_multi_signal_caches_live_through_execution_then_release(spark, sf_dir):
    """dedup_multi_signal's pair generators hoist their index caches
    into the query's scope, which ties them (plus the persisted evidence
    graph) to ITS result — the round-4 fix for the finalizer firing on
    the immediately-dropped inner frame and unpersisting the index
    before execution."""
    spark.catalog.clearCache()
    blocks = NewBlocks(spark)
    result = registry.queries()["dedup_multi_signal"](spark, sf_dir)
    # caches must still be registered while the caller holds the result
    blocks.assert_live()
    rows = result.collect()
    assert rows
    blocks.assert_live()
    del result
    blocks.assert_released(jvm_gc=True)


def test_srp_pairs_self_scope_releases_caches(spark, sf_dir):
    """ADVICE r13 #2 regression pin: srp_lsh_pairs called at top level
    (property tests, plan audits, direct use) must release its two
    persisted frames (flattened verify frame + signature frame) once
    the caller drops the result."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.sources.files import (
        load_table,
    )

    spark.catalog.clearCache()
    blocks = NewBlocks(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    result = dedup.srp_lsh_pairs(emb, threshold=0.4)
    result.count()
    blocks.assert_live()
    del result
    blocks.assert_released(jvm_gc=True)


def test_followed_by_self_scope_releases_caches(spark):
    """ADVICE r13 #2 regression pin, associations side: the persisted
    (seq, item) first/last frame scopes to the returned rules frame
    when called at top level."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        associations,
    )

    spark.catalog.clearCache()
    blocks = NewBlocks(spark)
    ev = spark.createDataFrame(
        [(f"s{i % 3}", "ab"[i % 2], i, i) for i in range(12)],
        "sid string, item string, ts long, eid long",
    )
    result = associations.followed_by_pairs(
        ev, min_support=1, seq_col="sid", item_col="item",
        order_cols=("ts", "eid"),
    )
    result.count()
    del result
    blocks.assert_released(jvm_gc=True)


def test_substring_runs_self_scope_releases_caches(spark, sf_dir):
    """substring_run_pairs persists the gram frame once for its four
    consumers; top-level callers must not leak it."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.sources.files import (
        load_table,
    )

    spark.catalog.clearCache()
    blocks = NewBlocks(spark)
    docs = load_table(spark, sf_dir, "documents")
    result = dedup.substring_run_pairs(docs)
    result.count()
    blocks.assert_live()
    del result
    blocks.assert_released(jvm_gc=True)


def test_modularity_query_releases_all_caches(spark, sf_dir):
    """graph_modularity holds LPA's checkpoint handle + two persists in
    the query's scope; everything drains once the scored frame is
    dropped."""
    spark.catalog.clearCache()
    blocks = NewBlocks(spark)
    result = registry.queries()["graph_modularity"](spark, sf_dir)
    rows = result.collect()
    assert len(rows) >= 1
    del result
    blocks.assert_released(jvm_gc=True)


def test_mmr_topk_releases_its_checkpoints_synchronously(spark):
    """mmr_topk's per-round localCheckpoints leave the block manager as
    soon as its result is dropped: gc.collect only, no JVM GC — the
    ContextCleaner would otherwise take up to the periodicGC interval."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        similarity,
    )

    spark.catalog.clearCache()
    gc.collect()
    blocks = NewBlocks(spark)
    emb = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5), 1.0, 0.0]) for i in range(1, 9)],
        "vec_id long, embedding array<float>",
    )
    q = spark.createDataFrame(
        [(100, [0.8, 0.6, 0.0, 0.0])], "query_id long, qv array<double>"
    )
    result = similarity.mmr_topk(emb, q, k=3, n_cand=4)
    assert len(result.collect()) == 3
    del result
    gc.collect()
    blocks.assert_released()


def _chain(spark, n):
    return spark.createDataFrame(
        [(i, i + 1, 1) for i in range(n - 1)], "src long, dst long, w long"
    )


def _raising_fixpoints():
    """One max_iter-exceeded call per operator that runs on
    session.fixpoint (label_propagation runs fixed rounds and never
    raises) or on its own checkpointed loop (stress centrality, SCC's
    FW-BW pivot reach), with the message its RuntimeError must carry."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        curation,
        graph,
    )

    def seeds(spark):
        return spark.createDataFrame([(0,)], "node long")

    def cc_edges(spark):
        return _chain(spark, 10).select(
            F.col("src").alias("doc_a"), F.col("dst").alias("doc_b")
        )

    return {
        "k_core": (lambda s: graph.k_core(_chain(s, 10), max_iter=2), "k_core"),
        "k_truss": (
            lambda s: graph.k_truss(_chain(s, 10), k=3, max_iter=1), "k_truss"
        ),
        "coreness_hindex": (
            lambda s: graph.coreness(_chain(s, 10), max_iter=1), "h-index"
        ),
        "stress_centrality": (
            lambda s: graph.stress_centrality(
                _chain(s, 10), seeds(s), max_iter=2
            ),
            "stress_centrality",
        ),
        "scc_fwbw": (
            lambda s: graph.strongly_connected_components(
                s.createDataFrame(
                    [(i, (i + 1) % 12) for i in range(12)], "src long, dst long"
                ),
                algorithm="fwbw",
                bfs_max_iter=3,
            ),
            "pivot reachability",
        ),
        "bfs_distances": (
            lambda s: graph.bfs_distances(_chain(s, 10), seeds(s), max_iter=2),
            "bfs_distances",
        ),
        "shortest_paths": (
            lambda s: graph.shortest_paths(_chain(s, 10), seeds(s), max_iter=2),
            "shortest_paths",
        ),
        "scc_coloring": (
            lambda s: graph.strongly_connected_components(
                s.createDataFrame(
                    [(i, (i + 1) % 12) for i in range(12)], "src long, dst long"
                ),
                algorithm="coloring",
                bfs_max_iter=5,
            ),
            "min-label coloring",
        ),
        "connected_components": (
            lambda s: curation.connected_components(cc_edges(s), max_iter=2),
            "fixpoint",
        ),
        "cc_star": (
            lambda s: curation.cc_star(cc_edges(s), max_iter=1), "cc_star"
        ),
    }


@pytest.mark.parametrize("name", sorted(_raising_fixpoints()))
def test_non_converged_fixpoint_releases_every_block(spark, name):
    """A loop that runs out of max_iter rounds raises with nothing left
    in the block manager — released synchronously by the raise itself,
    not by a later GC (no gc.collect / System.gc here)."""
    call, message = _raising_fixpoints()[name]
    spark.catalog.clearCache()
    blocks = NewBlocks(spark)
    with pytest.raises(RuntimeError, match=message):
        call(spark)
    blocks.assert_released()


@pytest.mark.parametrize(
    "name",
    [
        "graph_kcore",
        "graph_ktruss",
        "graph_coreness",
        "graph_label_propagation",
        "graph_bfs_hops",
        "graph_shortest_paths",
        "graph_scc",
        "dedup_clusters",
        "dedup_clusters_star",
    ],
)
def test_fixpoint_query_releases_all_blocks(spark, sf_dir, name):
    """Every registered query built on session.fixpoint leaves no
    persisted frame or checkpoint behind once its result is dropped."""
    spark.catalog.clearCache()
    blocks = NewBlocks(spark)
    result = registry.queries()[name](spark, sf_dir)
    result.collect()
    del result
    blocks.assert_released(jvm_gc=True)


def _ivf_topk_with_key(spark, sf_dir):
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        similarity,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = similarity.queries_by_modulus(emb, 100)
    return similarity.ivf_topk(emb, q, k=10, cache_key="over-cap-test")


@pytest.mark.parametrize(
    "build",
    [
        registry.queries()["ann_ivf_recall"],
        registry.queries()["ann_mmr_topk"],
        registry.queries()["dedup_clusters"],
        _ivf_topk_with_key,
    ],
    ids=["ann_ivf_recall", "ann_mmr_topk", "dedup_clusters", "ivf_topk"],
)
def test_over_cap_build_serves_the_live_plan(
    spark, sf_dir, tmp_path, monkeypatch, build
):
    """buildcache.cached over its row cap: no entry is stored in either
    tier, the live plans return the cached run's rows, and the build's
    blocks, held in the caller's scope, leave with the result."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        buildcache,
    )

    saved = dict(buildcache.INDEX_BUILD_CACHE)
    buildcache.INDEX_BUILD_CACHE.clear()
    try:
        monkeypatch.setenv("SPARK_GRAFT_BUILDCACHE_DIR", str(tmp_path / "warm"))
        want = sorted(map(tuple, build(spark, sf_dir).collect()))
        keys = set(buildcache.INDEX_BUILD_CACHE)
        assert keys  # the cached run stored its builds
        buildcache.INDEX_BUILD_CACHE.clear()

        cold = tmp_path / "cold"
        monkeypatch.setenv("SPARK_GRAFT_BUILDCACHE_DIR", str(cold))
        monkeypatch.setattr(buildcache, "MAX_ROWS", 1)
        spark.catalog.clearCache()
        gc.collect()
        blocks = NewBlocks(spark)
        result = build(spark, sf_dir)
        assert sorted(map(tuple, result.collect())) == want
        assert not buildcache.INDEX_BUILD_CACHE
        assert all(buildcache.lookup(k) is None for k in keys)
        assert not cold.exists() or not any(cold.iterdir())
        del result
        gc.collect()
        blocks.assert_released()
    finally:
        buildcache.INDEX_BUILD_CACHE.clear()
        buildcache.INDEX_BUILD_CACHE.update(saved)
