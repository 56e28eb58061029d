"""Session factory defaults that are not visible in query results, and
the block scope (hold / @scoped / owned) every operator relies on."""

from __future__ import annotations

import ast
import gc
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from _blocks import NewBlocks

from stedi_human_balance_redis_kafka_spark_streaming_spark import session
from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import graph
from stedi_human_balance_redis_kafka_spark_streaming_spark.session import hold, scoped


def test_only_the_window_exec_logger_is_raised_to_error(spark):
    log_manager = spark.sparkContext._jvm.org.apache.logging.log4j.LogManager

    def level(name):
        return str(log_manager.getLogger(name).getLevel())

    assert level("org.apache.spark.sql.execution.window.WindowExec") == "ERROR"
    assert str(log_manager.getRootLogger().getLevel()) == "WARN"
    assert level("org.apache.spark.sql.execution.window.WindowExecBase") == "WARN"
    assert level("org.apache.spark.sql.execution.SparkPlan") == "WARN"


def test_nested_operator_blocks_live_until_the_outer_result_is_dropped(spark):
    """Hoisting: a scoped function that derives from bfs_distances' frame
    and drops the inner frame still executes after gc — the inner
    checkpoint belongs to the OUTER result — and the blocks drain
    synchronously once that result is dropped."""

    @scoped
    def hops(edges, seeds):
        return graph.bfs_distances(edges, seeds).select(
            "node", (F.col("dist") * 10).alias("d10")
        )

    spark.catalog.clearCache()
    gc.collect()
    blocks = NewBlocks(spark)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(0,)], "node long")
    out = hops(edges, seeds)
    gc.collect()
    blocks.assert_live()
    assert sorted(r["d10"] for r in out.collect()) == list(range(0, 70, 10))
    del out
    gc.collect()
    blocks.assert_released()


def _checkpoint_backed_results():
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        curation,
    )

    def pairs(spark):
        return spark.createDataFrame(
            [(0, 1), (1, 2), (5, 6)], "doc_a long, doc_b long"
        )

    def cycle(spark):
        return spark.createDataFrame(
            [(i, (i + 1) % 4) for i in range(4)], "src long, dst long"
        )

    return {
        "cc_star": (lambda s: curation.cc_star(pairs(s)), "doc_id"),
        "connected_components": (
            lambda s: curation.connected_components(pairs(s)), "doc_id"
        ),
        "pagerank": (lambda s: graph.pagerank(cycle(s)), "node"),
    }


@pytest.mark.parametrize("name", sorted(_checkpoint_backed_results()))
def test_top_level_result_must_outlive_frames_derived_from_it(spark, name):
    """A top-level call ties its checkpoint to the returned object, not
    to frames derived from it: a derived frame runs while the result is
    referenced, and fails loudly (never silently wrong) once the result
    was dropped before the action."""
    call, col = _checkpoint_backed_results()[name]
    result = call(spark)
    derived = result.select(col)
    assert derived.count() > 0
    del result
    gc.collect()
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        derived.count()


def test_hold_outside_a_scope_raises(spark):
    df = spark.range(3).persist()
    try:
        with pytest.raises(RuntimeError, match="outside"):
            hold(df)
    finally:
        df.unpersist()


def test_block_lifetime_has_one_mechanism():
    """Only session.py manages block lifetime by hand: no other module
    declares a ``caches`` parameter, calls ``scope_caches`` or
    registers a ``weakref.finalize``."""
    home = Path(session.__file__)
    found = []
    for path in sorted(home.parent.rglob("*.py")):
        if path == home:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.arg) and node.arg == "caches":
                found.append(f"{path.name}:{node.lineno} caches parameter")
            elif isinstance(node, ast.Call):
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
                if name in ("scope_caches", "finalize"):
                    found.append(f"{path.name}:{node.lineno} {name}()")
    assert not found, found
