"""functions/vectors.py: the SQL-text vector builders parse to the trees
the Column forms they replaced built, and write doubles exactly."""

from __future__ import annotations

import ast
import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from stedi_human_balance_redis_kafka_spark_streaming_spark.functions.vectors import (
    cosine_sql,
    lit_dot_sql,
    lit_sql,
    pq_dist_sql,
)


def _analyzed(df) -> str:
    """The analyzed plan as JSON, expression ids stripped."""
    plan = df._jdf.queryExecution().analyzed().toJSON()
    return re.sub(r'"jvmId":"[^"]*"', "", re.sub(r'"id":\d+', "", plan))


@pytest.mark.parametrize(
    "x", [1e-05, -2.5e-07, 0.30000000000000004, 1e16, 5e-324, -0.0]
)
def test_lit_sql_round_trips_doubles_exactly(spark, x):
    row = spark.sql(f"SELECT {lit_sql(x)} AS x, {lit_dot_sql(['1.0D'], [x])} AS d")
    assert dict(row.dtypes) == {"x": "double", "d": "double"}
    got = row.first()
    assert repr(got.x) == repr(x)
    assert repr(got.d) == repr(x)


def test_cosine_sql_parses_to_the_column_form_it_replaced(spark):
    df = spark.createDataFrame(
        [(0.1, -0.7, 2.5, 1.5, 0.25, -3.0, 2.6, 3.4)],
        "d0 double, d1 double, d2 double, q0 double, q1 double, q2 double,"
        " nrm double, qnrm double",
    )
    col = F.col
    # the replaced forms: the Column-built dot, and F.expr of the dot text
    dot = col("d0") * col("q0") + col("d1") * col("q1") + col("d2") * col("q2")
    references = [
        F.round(dot / (col("nrm") * col("qnrm")), 6),
        F.round(
            F.expr("d0 * q0 + d1 * q1 + d2 * q2") / (col("nrm") * col("qnrm")), 6
        ),
    ]
    new = df.select(F.expr(cosine_sql("d", "q", "nrm", "qnrm", 3, 6)).alias("c"))
    for ref in references:
        old = df.select(ref.alias("c"))
        assert _analyzed(new) == _analyzed(old)
        assert new.first().c == old.first().c


def test_pq_dist_sql_parses_to_the_hand_written_forms(spark):
    """The batch (column operands) and streaming (inlined literal
    codeword, unparenthesized self-product) forms each operator wrote by
    hand before pq_dist_sql."""
    df = spark.createDataFrame(
        [(0.1, -0.7, 0.3, 0.4, 1.2, 0.9)],
        "s0 double, s1 double, cw0 double, cw1 double, nrm double, cnrm double",
    )
    batch_old = (
        "ROUND((s0 * s0 + s1 * s1) / (nrm * nrm)"
        " + (cw0 * cw0 + cw1 * cw1) / (cnrm * cnrm)"
        " - 2.0D * (s0 * cw0 + s1 * cw1) / (nrm * cnrm), 6)"
    )
    batch_new = pq_dist_sql(
        "s0 * s0 + s1 * s1", "cw0 * cw0 + cw1 * cw1", "s0 * cw0 + s1 * cw1",
        "nrm", "cnrm", 6,
    )
    nrm = "SQRT(s0 * s0 + s1 * s1)"
    stream_old = (
        f"ROUND((s0 * s0 + s1 * s1) / ({nrm} * {nrm})"
        " + 0.25D / (0.9D * 0.9D)"
        f" - 2.0D * (s0 * 0.3D + s1 * 0.4D) / ({nrm} * 0.9D), 6)"
    )
    stream_new = pq_dist_sql(
        "s0 * s0 + s1 * s1", lit_sql(0.25), lit_dot_sql(["s0", "s1"], [0.3, 0.4]),
        nrm, lit_sql(0.9), 6,
    )
    for old_text, new_text in [(batch_old, batch_new), (stream_old, stream_new)]:
        old = df.select(F.expr(old_text).alias("d"))
        new = df.select(F.expr(new_text).alias("d"))
        assert _analyzed(new) == _analyzed(old)
        assert new.first().d == old.first().d


def test_dim_wide_vector_arithmetic_is_built_only_in_vectors_py():
    """No package module calls the deleted Column-form builders; the
    SQL-text builders live in functions/vectors.py alone."""
    pkg = (
        Path(__file__).resolve().parent.parent
        / "stedi_human_balance_redis_kafka_spark_streaming_spark"
    )
    gone = {"dot_unrolled", "norm_unrolled", "flatten", "flat_dot", "dot", "norm",
            "cosine"}
    offenders = []
    for path in pkg.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id in gone
            ):
                offenders.append(f"{path.name}:{node.lineno} {node.func.id}")
    assert not offenders
