"""Batch file sources over the driver-provided Parquet tables.

Parquet is the engine's batch substrate: columnar, predicate-pushdown- and
column-pruning-friendly (verify via ``df.explain`` → ``PushedFilters`` /
``ReadSchema``).  Loaders never infer schemas for the streaming-payload
tables; TPC-H-ish tables come straight from the files' own footers.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def as_utc_instant(col_name: str) -> "F.Column":
    """Re-anchor a TIMESTAMP_NTZ wall clock as-if-UTC, session-timezone-
    INDEPENDENTLY (pure NTZ arithmetic against the NTZ epoch — a plain
    ``cast(x AS TIMESTAMP)`` would interpret the wall clock in the
    session zone and shift the instant under non-UTC drivers).  Matches
    DuckDB's naive-timestamp ``epoch_us`` anchoring exactly; use it
    before mixing an NTZ column with instant columns (comparisons,
    as-of joins) so the coercion cannot depend on the driver zone.
    Takes a column NAME (``timestampdiff`` has no DataFrame-API form in
    this pyspark, so the expression is built as SQL text)."""
    return F.expr(
        f"timestamp_micros(timestampdiff(MICROSECOND,"
        f" TIMESTAMP_NTZ '1970-01-01 00:00:00', {col_name}))"
    )


def table_fingerprint(sf_dir: str, name: str) -> str:
    """Cheap data fingerprint of one testdata table: path + total bytes
    + newest mtime (ns) over its parquet file(s).

    Folded into ingest-time build-cache keys (operators/buildcache.py)
    so a corpus REGENERATED at the same path within one process can
    never be served a stale trained artifact — the key changes with the
    data, not just the directory name.  Pure ``os.stat`` metadata: no
    file contents are read, so the check costs microseconds per call.
    """
    p = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(p):
        stats = [
            os.stat(os.path.join(root, fn))
            for root, _dirs, fns in os.walk(p)
            for fn in sorted(fns)
        ]
    else:
        stats = [os.stat(p)]
    total = sum(st.st_size for st in stats)
    newest = max((st.st_mtime_ns for st in stats), default=0)
    return f"{p}|{total}|{newest}"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table (TESTDATA.md) as a DataFrame.

    ``events.ts`` is normalized to TIMESTAMP (an instant) whatever the
    generator wrote:

    - parquet TIMESTAMP(NANOS): with ``spark.sql.legacy.parquet.nanosAsLong``
      it arrives as a long that we truncate to microseconds (integer DIV —
      no double round-trip, which would lose precision on epoch-nanos
      magnitudes) to match how DuckDB coerces the same column.
    - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark 4 infers
      TIMESTAMP_NTZ; we re-anchor the wall-clock value as-if-UTC via pure
      NTZ arithmetic (``timestampdiff`` against the NTZ epoch), which is
      session-timezone-INDEPENDENT — a plain ``cast(ts as timestamp)``
      would interpret the wall clock in the session zone and shift the
      epoch under non-UTC drivers.  DuckDB's naive ``epoch_us(ts)`` agrees
      with this anchoring exactly.
    """
    if name == "events":
        # Set at read time (runtime-settable SQL conf) so the loader works
        # under ANY caller-provided session, not just our factory's.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", as_utc_instant("ts"))
    return df


def write_curated(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = ("lang",),
    order_col: str = "doc_id",
) -> None:
    """Write a curated corpus as hive-partitioned Parquet — the batch
    output contract of the curation pipeline.

    Layout: one directory per partition value (``lang=en/...``) so
    downstream readers get partition pruning for free; rows are
    clustered by partition key before the write (one file per partition
    per task instead of task×partition fragments) and sorted by
    ``order_col`` within files, which keeps doc ranges disjoint across
    row groups — min/max stats stay selective for id-range scans.

    Scale: the clustering repartition is the only shuffle; file count =
    #partitions × shuffle parallelism of their slice.  At 100 TB add a
    finer shard key to ``partition_by`` (e.g. crawl snapshot) before
    the token-count column cardinality explodes the directory tree.
    """
    (
        df.repartition(*[F.col(c) for c in partition_by])
        .sortWithinPartitions(order_col)
        .write.mode("overwrite")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int,
    *,
    sort_col: str | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Persist a table bucketed (and optionally sorted) by its join key —
    the co-located-join primitive for repeatedly-joined 100 TB facts.

    Spark bucketing hash-partitions rows into ``num_buckets`` files per
    task slice and records the layout in the catalog; a later equi-join
    or aggregation on ``bucket_col`` between two tables bucketed the
    same way runs with NO Exchange on either side (and no sort when
    ``sort_col`` matches) — the shuffle is paid once at write time
    instead of on every query.  ``tests/test_sources.py`` asserts the
    exchange-free plan.

    Size ``num_buckets`` so one bucket of the LARGER table fits an
    executor core's memory at target scale (100 TB / buckets ≈ task
    input); bucket counts should match (or divide) between co-joined
    tables.  Requires ``saveAsTable`` (bucket metadata lives in the
    catalog, not the files — plain ``.parquet(path)`` silently drops
    it).
    """
    w = df.write.format("parquet").mode(mode).bucketBy(num_buckets, bucket_col)
    if sort_col is not None:
        w = w.sortBy(sort_col)
    if path is not None:  # external table — data outside the warehouse dir
        w = w.option("path", path)
    w.saveAsTable(table)


def write_jsonl(
    df: DataFrame,
    path: str,
    *,
    compression: str = "gzip",
    partition_by: tuple[str, ...] = (),
    mode: str = "overwrite",
) -> None:
    """Write a corpus as JSON-Lines — the lingua-franca interchange
    format of training-data pipelines (one JSON object per line,
    gzip-compressed by default so shards stay splittable-by-file).

    Spark's json writer emits exactly one object per line (no array
    wrapper), so the output is directly consumable by any JSONL reader.
    Timestamps serialize as ISO-8601 strings; binary columns should be
    hex/base64-encoded by the caller first (JSON has no binary type).

    Scale: one file per task slice (× partition value when
    ``partition_by`` is set); re-partition upstream to target shard
    sizes (~256 MB compressed is the usual sweet spot).
    """
    w = df.write.mode(mode).option("compression", compression)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.json(path)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
) -> DataFrame:
    """Read a JSON-Lines corpus.

    ALWAYS pass ``schema`` in production: schema inference scans the
    whole input once before the real read (2× I/O at 100 TB) and
    silently unions ragged shards into a wider schema than any one
    producer wrote.  Corrupt lines land in ``_corrupt_record`` under
    the default PERMISSIVE mode (add it to the schema to inspect them)
    rather than failing the job mid-scan.
    """
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.json(path)
