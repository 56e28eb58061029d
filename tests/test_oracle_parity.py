"""Driver-parity self-check: run every registered query on Spark AND its
DuckDB oracle on the same Parquet tables, compare row count + sorted
column names + pandas dtypes + order-insensitive values.

This mimics the driver's CORRECTNESS gate (see /root/repo/__spark_entry__.py
docstring) so mismatches surface locally before a round ends.  Runs at the
driver's sf0.01 scale and compares floats EXACTLY — round-1 lesson: the
stedi_risk_by_birth_year reassociation bug passed a 9-decimal-rounded
sf0.001 check locally while failing the driver's exact hash at sf0.01.
Set SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.001 for a quicker iteration
loop while developing a new query.

DTYPE FAITHFULNESS (round-2 lesson): both sides are canonicalized through
*pandas*, exactly like the driver, not through cursor ``fetchall()``.
DuckDB's ``SUM(BIGINT)`` returns HUGEINT; through ``fetchall()`` that
arrives as a plain Python int and equality passes, but through pandas it
becomes float64/object and the driver's value hash diverges from Spark's
int64.  Four uncast oracle SUMs shipped green locally and failed the
driver gate exactly this way, so this suite now compares pandas dtype
KINDS before values: an integer column on one side must be an integer
column on the other.
"""

from __future__ import annotations

import gc
import os

import duckdb
import pytest
from _blocks import NewBlocks

import __spark_entry__ as entry_mod
from perfbench.oracle import TABLES, canon, dtype_kinds

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


QUERY_NAMES = sorted(entry_mod.oracle_sql().keys())


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, duck, name):
    qfn = entry_mod.queries()[name]
    blocks = NewBlocks(spark)
    spark_pdf = qfn(spark, SF_DIR).toPandas()
    # the result frame is already dropped: every block the query held
    # must be released now, synchronously — no JVM GC
    gc.collect()
    left = blocks.live()
    duck_pdf = duck.execute(entry_mod.oracle_sql()[name]).df()

    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), (
        f"{name}: column mismatch {list(spark_pdf.columns)} vs "
        f"{list(duck_pdf.columns)}"
    )
    assert len(spark_pdf) == len(duck_pdf), (
        f"{name}: row count {len(spark_pdf)} vs {len(duck_pdf)}"
    )
    sk, dk = dtype_kinds(spark_pdf), dtype_kinds(duck_pdf)
    dtype_mismatch = {
        c: (sk[c], dk[c]) for c in sk
        if sk[c] != dk[c] and "null" not in (sk[c], dk[c])
    }
    assert not dtype_mismatch, (
        f"{name}: pandas dtype-kind mismatch (spark, oracle): "
        f"{dtype_mismatch} — an integer-aliased oracle column arriving as "
        f"float/object (e.g. uncast DuckDB HUGEINT SUM) fails the driver "
        f"hash even when values match; CAST the oracle output to BIGINT"
    )
    sc, dc = canon(spark_pdf), canon(duck_pdf)
    mismatches = [(a, b) for a, b in zip(sc, dc) if a != b]
    assert not mismatches, f"{name}: first value mismatches: {mismatches[:3]}"
    assert not left, (
        f"{name}: persisted RDD(s) {sorted(left)} left after the "
        f"result was dropped"
    )


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
