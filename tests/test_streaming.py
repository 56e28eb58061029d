"""Streaming integration tests: file source stands in for Kafka, memory
sink collects results (SURVEY.md §5 plan c) — every streaming query's
output is checked for equivalence against its batch dual on the same
finite input (append-mode inner join over a finite source converges to
the batch result).
"""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from stedi_human_balance_redis_kafka_spark_streaming_spark import session
from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import joins, pipeline
from stedi_human_balance_redis_kafka_spark_streaming_spark.plans import synthetic
from stedi_human_balance_redis_kafka_spark_streaming_spark.streaming import (
    queries as sq,
    sinks,
    stateful,
)
from stedi_human_balance_redis_kafka_spark_streaming_spark.streaming.progress import (
    JsonProgressListener,
    progress_record,
)

SF = "/root/testdata/sf0.001"


def _run_to_memory(spark, sdf, name, output_mode="append"):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {name}")


@pytest.fixture(scope="module")
def stream_dirs(spark, tmp_path_factory):
    """Materialize the synthesized wire payloads as parquet for readStream."""
    base = tmp_path_factory.mktemp("streams")
    redis_dir, events_dir = str(base / "redis"), str(base / "events")
    synthetic.redis_envelope_raw(spark, SF).write.parquet(redis_dir)
    synthetic.stedi_events_raw(spark, SF).write.parquet(events_dir)
    return redis_dir, events_dir


def _read_stream(spark, path):
    return spark.readStream.schema("value string").parquet(path)


def test_streaming_customers_matches_batch(spark, stream_dirs):
    redis_dir, _ = stream_dirs
    out = _run_to_memory(
        spark,
        sq.customers_stream(_read_stream(spark, redis_dir)),
        f"cust_{uuid.uuid4().hex[:8]}",
    )
    batch = pipeline.customers_from_redis_stream(
        spark.read.parquet(redis_dir)
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, batch.collect()))


def _join_batch_dual(spark, redis_dir, events_dir):
    """``customer_risk_stream``'s batch dual over the same payload files."""
    return joins.format_customer_risk(
        joins.join_risk_with_customers(
            pipeline.parse_risk_events(spark.read.parquet(events_dir)),
            pipeline.customers_from_redis_stream(spark.read.parquet(redis_dir)),
        )
    )


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_streaming_join_matches_batch(spark, stream_dirs):
    redis_dir, events_dir = stream_dirs
    sdf = sq.customer_risk_stream(
        _read_stream(spark, redis_dir), _read_stream(spark, events_dir)
    )
    out = _run_to_memory(spark, sdf, f"join_{uuid.uuid4().hex[:8]}")
    assert out.columns == ["key", "value"]
    assert _rows(out) == _rows(_join_batch_dual(spark, redis_dir, events_dir))


@pytest.fixture(scope="module")
def split_stream_dirs(spark, tmp_path_factory):
    """The wire payloads split into six files per feed, so a file source
    with ``maxFilesPerTrigger=1`` drains them over six triggers."""
    base = tmp_path_factory.mktemp("split_streams")
    redis_dir, events_dir = str(base / "redis"), str(base / "events")
    synthetic.redis_envelope_raw(spark, SF).repartition(6).write.parquet(redis_dir)
    synthetic.stedi_events_raw(spark, SF).repartition(6).write.parquet(events_dir)
    return redis_dir, events_dir


def _start_join_to_files(spark, dirs, sink, ckpt):
    """``customer_risk_stream`` over ``dirs`` (one file per feed per
    trigger) into a parquet sink with a checkpoint."""
    raw = [
        spark.readStream.schema("value string")
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
        for d in dirs
    ]
    return (
        sq.customer_risk_stream(*raw)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .start()
    )


def _drain(query):
    """Run ``query`` until its input is exhausted; return its progress
    reports that carry state operators."""
    try:
        query.processAllAvailable()
        return [p for p in query.recentProgress if p.get("stateOperators")]
    finally:
        query.stop()


def _stop_after(query, n_triggers):
    """Stop ``query`` once ``n_triggers`` micro-batches have completed."""
    import time

    try:
        while (query.lastProgress or {}).get("batchId", -1) < n_triggers - 1:
            assert query.isActive, query.exception()
            time.sleep(0.01)
    finally:
        query.stop()


def test_join_state_is_one_rocksdb_store_per_partition(spark, split_stream_dirs, tmp_path):
    """The session's defaults put the stream-stream join's state in one
    RocksDB store per shuffle partition (join state format 3) with
    changelog checkpointing; the HDFS-backed format-2 layout would show
    four store instances per partition and no RocksDB metrics."""
    sink = str(tmp_path / "sink")
    progress = _drain(
        _start_join_to_files(spark, split_stream_dirs, sink, str(tmp_path / "ckpt"))
    )
    op = progress[-1]["stateOperators"][0]
    assert op["numStateStoreInstances"] == op["numShufflePartitions"]
    assert "rocksdbChangeLogWriterCommitLatencyMs" in op["customMetrics"]
    assert _rows(spark.read.parquet(sink)) == _rows(
        _join_batch_dual(spark, *split_stream_dirs)
    )


_PROVIDER = "spark.sql.streaming.stateStore.providerClass"
_JOIN_FORMAT = "spark.sql.streaming.join.stateFormatVersion"


def test_join_restarts_from_hdfs_format2_checkpoint(spark, split_stream_dirs, tmp_path):
    """A checkpoint written under Spark's old defaults (HDFS-backed
    stores, join state format 2) restarts under the new defaults: the
    offset log pins the old provider and format, and the sink ends equal
    to the batch dual."""
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    saved = {k: spark.conf.get(k) for k in (_PROVIDER, _JOIN_FORMAT)}
    spark.conf.set(
        _PROVIDER,
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    )
    spark.conf.set(_JOIN_FORMAT, "2")
    try:
        _stop_after(_start_join_to_files(spark, split_stream_dirs, sink, ckpt), 3)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    expected = _rows(_join_batch_dual(spark, *split_stream_dirs))
    assert len(_rows(spark.read.parquet(sink))) < len(expected)

    progress = _drain(_start_join_to_files(spark, split_stream_dirs, sink, ckpt))
    op = progress[-1]["stateOperators"][0]
    assert op["numStateStoreInstances"] == 4 * op["numShufflePartitions"]
    assert _rows(spark.read.parquet(sink)) == expected


def test_join_restart_mid_drain_matches_uninterrupted_run(spark, split_stream_dirs, tmp_path):
    """Under the session defaults, stopping the join mid-drain and
    restarting it from its checkpoint gives the same sink as one
    uninterrupted run."""
    whole = str(tmp_path / "whole")
    _drain(_start_join_to_files(spark, split_stream_dirs, whole, str(tmp_path / "ck_whole")))

    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    _stop_after(_start_join_to_files(spark, split_stream_dirs, sink, ckpt), 3)
    expected = _rows(spark.read.parquet(whole))
    assert len(_rows(spark.read.parquet(sink))) < len(expected)
    _drain(_start_join_to_files(spark, split_stream_dirs, sink, ckpt))
    assert _rows(spark.read.parquet(sink)) == expected


def _reaped_children_cpu_s(pid: int) -> float:
    """CPU seconds of the children ``pid`` has waited for (``cutime`` +
    ``cstime``, fields 16 and 17 of ``/proc/<pid>/stat``)."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()  # fields[0] is field 3
    return (int(fields[13]) + int(fields[14])) / os.sysconf("SC_CLK_TCK")


@pytest.mark.skipif(
    session._javac() is None or not os.path.exists("/proc/self/stat"),
    reason="no javac (the session keeps Hadoop's stock file:// filesystem) or no /proc",
)
def test_join_drain_forks_no_processes(spark, split_stream_dirs, tmp_path):
    """After its first trigger, a checkpointed join into a parquet sink
    writes its offset, commit and source logs, RocksDB changelogs and
    sink files without the driver JVM forking a process for each:
    Hadoop's stock file:// filesystem forks ``chmod`` per file and
    directory it makes, and Spark's default FileContext checkpoint
    manager ``readlink`` per rename, when no libhadoop is loaded.  (The first trigger is left out: loading each partition's
    RocksDB store clears its local directory with an ``rm -rf``, once
    per query.)"""
    import time

    pid = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getPid()
    query = _start_join_to_files(
        spark, split_stream_dirs, str(tmp_path / "sink"), str(tmp_path / "ckpt")
    )
    try:
        while query.lastProgress is None:
            assert query.isActive, query.exception()
            time.sleep(0.01)
        first = query.lastProgress["batchId"]
        before = _reaped_children_cpu_s(pid)
        query.processAllAvailable()
        grew = _reaped_children_cpu_s(pid) - before
        triggers = query.lastProgress["batchId"] - first
    finally:
        query.stop()
    assert triggers >= 4
    assert grew < 0.05, f"driver JVM children used {grew:.2f} s CPU over {triggers} triggers"


def test_progress_listener_writes_json_lines(spark, split_stream_dirs, tmp_path, capsys):
    """``JsonProgressListener`` writes one JSON line per progress event
    to stderr, with the per-batch and per-state-operator fields."""
    import json
    import time

    listener = JsonProgressListener()
    spark.streams.addListener(listener)
    try:
        progress = _drain(
            _start_join_to_files(
                spark, split_stream_dirs, str(tmp_path / "sink"), str(tmp_path / "ckpt")
            )
        )
        last = progress[-1]["batchId"]
        records: list[dict] = []
        deadline = time.time() + 30
        while not any(r["batchId"] == last for r in records) and time.time() < deadline:
            time.sleep(0.1)
            err = capsys.readouterr().err
            records += [json.loads(x) for x in err.splitlines() if x.startswith("{")]
    finally:
        spark.streams.removeListener(listener)
    by_batch = {r["batchId"]: r for r in records}
    assert sorted(by_batch) == [p["batchId"] for p in progress]
    for p in progress:
        r = by_batch[p["batchId"]]
        assert r["numInputRows"] == p["numInputRows"]
        assert r["durationMs"]["triggerExecution"] == p["durationMs"]["triggerExecution"]
        op = p["stateOperators"][0]
        custom = op["customMetrics"]
        assert r["stateOperators"] == [
            {
                "numRowsTotal": op["numRowsTotal"],
                "commitTimeMs": op["commitTimeMs"],
                "numStateStoreInstances": op["numStateStoreInstances"],
                "rocksdbChangeLogWriterCommitLatencyMs": custom[
                    "rocksdbChangeLogWriterCommitLatencyMs"
                ],
                "rocksdbCommitFileSyncLatencyMs": custom["rocksdbCommitFileSyncLatencyMs"],
            }
        ]


def _recorded_progress(name):
    import json
    from pathlib import Path

    return json.loads((Path(__file__).parent / "data" / name).read_text())


def test_progress_record_of_a_rocksdb_join():
    """A recorded last-trigger progress of the join on the RocksDB store
    (8 shuffle partitions): the two commit latencies come from the
    operator's custom metrics."""
    record = progress_record(_recorded_progress("progress_rocksdb.json"))
    assert record == {
        "batchId": 5,
        "numInputRows": 190,
        "durationMs": {
            "addBatch": 669, "commitOffsets": 2, "getBatch": 29, "latestOffset": 6,
            "queryPlanning": 220, "triggerExecution": 936, "walCommit": 5,
        },
        "stateOperators": [
            {
                "numRowsTotal": 1150,
                "commitTimeMs": 138,
                "numStateStoreInstances": 8,
                "rocksdbChangeLogWriterCommitLatencyMs": 60,
                "rocksdbCommitFileSyncLatencyMs": 60,
            }
        ],
    }


def test_progress_record_of_an_hdfs_store_join():
    """On the HDFS-backed store (join state format 2, four stores per
    partition) the custom metrics carry no RocksDB latencies, and the
    record leaves them out."""
    record = progress_record(_recorded_progress("progress_hdfs.json"))
    assert record["stateOperators"] == [
        {"numRowsTotal": 1150, "commitTimeMs": 305, "numStateStoreInstances": 32}
    ]
    assert (record["batchId"], record["numInputRows"]) == (5, 190)


def test_risk_gate_stream_matches_batch(spark, split_stream_dirs):
    """The risk gate as a stream in update mode, over the events feed
    split into six files drained one per trigger.  Each micro-batch
    re-emits the customers it updated, and a customer's count only
    grows, so its last update is its row with the largest count: those
    rows must equal the batch form's."""
    _, events_dir = split_stream_dirs
    raw = (
        spark.readStream.schema("value string")
        .option("maxFilesPerTrigger", "1")
        .parquet(events_dir)
    )
    name = f"gate_{uuid.uuid4().hex[:8]}"
    q = (
        stateful.streaming_risk_gate_agg(pipeline.parse_risk_events(raw))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    finally:
        q.stop()
    assert len(batches) >= 2
    emitted = spark.sql(f"SELECT * FROM {name}").collect()
    last = {}
    for r in emitted:
        if r["customer"] not in last or r["n_assessments"] > last[r["customer"]][1]:
            last[r["customer"]] = tuple(r)
    assert len(emitted) > len(last)  # some customer was updated twice
    batch = stateful.streaming_risk_gate_agg(
        pipeline.parse_risk_events(spark.read.parquet(events_dir))
    )
    assert sorted(last.values()) == _rows(batch)


def test_dedup_within_watermark(spark, tmp_path):
    path = str(tmp_path / "dups")
    rows = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00"),
            (1, "2024-01-01 00:05:00"),  # duplicate key within watermark
            (2, "2024-01-01 00:10:00"),
        ],
        "id long, ts_str string",
    ).withColumn("ts", F.col("ts_str").cast("timestamp"))
    rows.write.parquet(path)
    sdf = spark.readStream.schema("id long, ts_str string, ts timestamp").parquet(path)
    out = _run_to_memory(
        spark,
        stateful.dedup_within_watermark(sdf, ["id"], time_col="ts"),
        f"dedup_{uuid.uuid4().hex[:8]}",
    )
    assert sorted(r.id for r in out.select("id").collect()) == [1, 2]


def test_foreach_batch_sink_plumbing(spark, stream_dirs):
    redis_dir, _ = stream_dirs
    sdf = sq.customers_stream(_read_stream(spark, redis_dir))
    seen: list[int] = []
    q = sinks.foreach_batch_sink(
        sdf, lambda batch, epoch: seen.append(batch.count())
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sum(seen) == spark.read.parquet(redis_dir).count()


def test_redis_sink_write_path(spark, stream_dirs, tmp_path):
    """S-row closure (SURVEY §2.1): the Redis sink's full executor-side
    write path — keyed SETs, pipeline-per-partition — against a fake
    client, no server required."""
    import os

    # Defined INSIDE the test so cloudpickle serializes the class by
    # value — executor workers cannot import the test module.
    class _FileBackedFakeRedis:
        """Stand-in for redis-py: SET pipelines append to a spool
        directory (executor-side, one file per pipeline flush) so the
        driver can assert what reached 'Redis'.  Exercises the real
        foreachBatch → foreachPartition → pipeline path; only the
        socket is faked."""

        def __init__(self, spool_dir):
            self.spool_dir = spool_dir
            self.ops = []

        def __call__(self, host, port):  # the client_factory protocol
            return self

        def pipeline(self, transaction=True):
            return self

        def set(self, key, value):
            self.ops.append((key, value))

        def execute(self):
            import uuid

            path = os.path.join(self.spool_dir, uuid.uuid4().hex)
            with open(path, "w") as f:
                for k, v in self.ops:
                    f.write(f"{k}\t{v}\n")
            self.ops = []

    redis_dir, events_dir = stream_dirs
    spool = tmp_path / "spool"
    spool.mkdir()
    sdf = sq.customer_risk_stream(
        _read_stream(spark, redis_dir), _read_stream(spark, events_dir)
    )
    q = sinks.redis_set_sink(
        sdf,
        checkpoint_location=str(tmp_path / "ckpt"),
        client_factory=_FileBackedFakeRedis(str(spool)),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    written = {}
    for fn in os.listdir(spool):
        for line in open(spool / fn):
            k, v = line.rstrip("\n").split("\t", 1)
            written[k] = v
    batch = _join_batch_dual(spark, redis_dir, events_dir)
    expected_pairs = {(r.key, r.value) for r in batch.collect()}
    expected_keys = {k for k, _ in expected_pairs}
    # SET is last-write-wins per key: every key reached Redis, and every
    # written (key, value) is a pair the join actually produced
    assert written.keys() == expected_keys
    assert all((k, v) in expected_pairs for k, v in written.items())


def test_windowed_risk_by_birth_year_streaming(spark, stream_dirs):
    _, events_dir = stream_dirs
    # single-stream form: birthYear surrogate derived from the event itself
    # (the operator under test is the watermarked windowed aggregation)
    risk = (
        sq.risk_stream(_read_stream(spark, events_dir))
        .withColumn("riskTime", F.to_timestamp("riskDate", "yyyy-MM-dd'T'HH:mm:ss'Z'"))
        .withColumn("birthYear", F.substring("customer", 5, 1))
    )
    agg = stateful.windowed_risk_by_birth_year(risk)
    out = _run_to_memory(
        spark, agg, f"wndw_{uuid.uuid4().hex[:8]}", output_mode="append"
    )
    # append mode emits only windows the final watermark has passed —
    # a strict subset of the batch result, grouped identically
    assert out.count() > 0
    assert {"window", "birthYear", "n_scores", "avg_score"} == set(out.columns)

    batch = (
        spark.read.parquet(events_dir)
        .transform(pipeline.parse_risk_events)
        .withColumn("riskTime", F.to_timestamp("riskDate", "yyyy-MM-dd'T'HH:mm:ss'Z'"))
        .withColumn("birthYear", F.substring("customer", 5, 1))
        .groupBy(F.window("riskTime", "1 hour"), "birthYear")
        .agg(
            F.count("*").alias("n_scores"),
            # must mirror stateful._avg_score_e4 (quantized FP policy)
            F.round(
                F.sum(F.round(F.col("score") * 10000).cast("long")).cast("double")
                / F.count("*")
                / 10000.0,
                4,
            ).alias("avg_score"),
        )
    )
    got = {tuple(r) for r in out.collect()}
    expected = {tuple(r) for r in batch.collect()}
    assert got <= expected and len(got) > 0


def _write_ordered_files(spark, base, name, schema, batches):
    """Write one parquet file per micro-batch with strictly increasing
    mtimes so the file source (maxFilesPerTrigger=1) replays them in
    order — the only way to exercise watermark progression from a file
    stand-in for Kafka."""
    import os
    import time

    paths = []
    for i, rows in enumerate(batches):
        d = str(base / f"{name}_{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(d)
        t = time.time() + i * 10
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (t, t))
        paths.append(d)
    root = str(base / name)
    os.makedirs(root, exist_ok=True)
    for i, d in enumerate(paths):
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                os.link(os.path.join(d, f), os.path.join(root, f"{i:03d}_{f}"))
                t = time.time() + i * 10
                os.utime(os.path.join(root, f"{i:03d}_{f}"), (t, t))
    return root


CUST_SCHEMA = "customerName string, email string, birthYear string, customerTime timestamp"
RISK_SCHEMA = "customer string, score double, riskTime timestamp"


def _ts(s):
    import datetime

    return datetime.datetime.fromisoformat(s)


def test_watermarked_join_drops_late_rows(spark, tmp_path):
    """J1 watermarked mode (SURVEY §2.3 production variant): on-time rows
    join within the time-range condition; a row arriving behind the
    watermark is dropped even though its event time satisfies the range.
    """
    # Timeline (watermark delay 10 min, range [customerTime, +10 min]):
    #   batch 0: on-time pair (10:00 ⨝ 10:05) joins; advancers at 12:00
    #            push the post-batch watermark to 11:50.
    #   batch 1: more advancers; during this batch the 11:50 watermark is
    #            in effect, so the a@test.com customer state (evictable
    #            once watermark > 10:10) is REMOVED.  Inner-join lateness
    #            is state-eviction-based — a late row arriving in the
    #            same batch that sets the watermark can still match,
    #            which is why the late row arrives one batch later.
    #   batch 2: late risk row (10:06) — satisfies the range but its
    #            partner state is gone and it is behind the watermark.
    cust_dir = _write_ordered_files(
        spark, tmp_path, "cust", CUST_SCHEMA,
        [
            [
                ("A", "a@test.com", "1980", _ts("2024-01-01T10:00:00")),
                # watermark advancer (no matching risk key)
                ("Z", "zz@none.com", "1999", _ts("2024-01-01T12:00:00")),
            ],
            [("X", "xx@none.com", "1990", _ts("2024-01-01T12:30:00"))],
        ],
    )
    risk_dir = _write_ordered_files(
        spark, tmp_path, "risk", RISK_SCHEMA,
        [
            [
                # on-time: within [customerTime, customerTime + 10 min]
                ("a@test.com", 1.5, _ts("2024-01-01T10:05:00")),
                # watermark advancer (no matching customer key)
                ("wm@none.com", 0.0, _ts("2024-01-01T12:00:00")),
            ],
            [("wm2@none.com", 0.0, _ts("2024-01-01T12:30:00"))],
            [
                # LATE: satisfies the range, but arrives behind the
                # watermark after the partner state was evicted.
                ("a@test.com", 9.9, _ts("2024-01-01T10:06:00")),
            ],
        ],
    )
    c = (
        spark.readStream.schema(CUST_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(cust_dir)
    )
    r = (
        spark.readStream.schema(RISK_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(risk_dir)
    )
    out = _run_to_memory(
        spark,
        joins.join_risk_with_customers(
            r, c, mode="watermarked", watermark_delay="10 minutes"
        ),
        f"wmj_{uuid.uuid4().hex[:8]}",
    )
    rows = [(x.customer, x.score) for x in out.collect()]
    assert rows == [("a@test.com", 1.5)]  # late 9.9 row dropped


def test_join_then_windowed_agg_composition(spark, tmp_path):
    """The actually-hard streaming case (reference UI intent,
    sparkpykafkajoin.py:246-250 + risk-by-birth-year): TWO stateful
    operators stacked — watermarked stream-stream join feeding the
    windowed A2 aggregation, event-time column carried through the join.
    """
    cust_dir = _write_ordered_files(
        spark, tmp_path, "cust2", CUST_SCHEMA,
        [
            [
                ("A", "user1@test.com", "1980", _ts("2024-01-01T10:00:00")),
                ("B", "user2@test.com", "1985", _ts("2024-01-01T10:10:00")),
                ("Z", "zz@none.com", "1999", _ts("2024-01-01T20:00:00")),
            ],
        ],
    )
    risk_dir = _write_ordered_files(
        spark, tmp_path, "risk2", RISK_SCHEMA,
        [
            [
                ("user1@test.com", 5.0, _ts("2024-01-01T10:05:00")),
                ("user2@test.com", 7.0, _ts("2024-01-01T10:15:00")),
                ("none@none.com", 1.0, _ts("2024-01-01T20:00:00")),
            ],
        ],
    )
    c = spark.readStream.schema(CUST_SCHEMA).parquet(cust_dir)
    r = spark.readStream.schema(RISK_SCHEMA).parquet(risk_dir)
    joined = joins.join_risk_with_customers(
        r, c, mode="watermarked", watermark_delay="10 minutes",
        extra_cols=("riskTime",),
    )
    # watermark_delay=None: the join's watermark propagates; redefining
    # it across stacked stateful operators is an AnalysisException.
    agg = stateful.windowed_risk_by_birth_year(joined, watermark_delay=None)
    out = _run_to_memory(
        spark, agg, f"jw_{uuid.uuid4().hex[:8]}", output_mode="append"
    )
    got = {
        (r.birthYear, r.n_scores, r.avg_score) for r in out.collect()
    }
    assert got == {("1980", 1, 5.0), ("1985", 1, 7.0)}


def test_windowed_source_quality_matches_batch(spark, tmp_path):
    # Streaming dual of the corpus report: stream documents with event
    # times across two windows; the windowed sums must equal the batch
    # aggregation of the same finite input.
    docs = [
        (i, f"doc text number {i} with some tokens", src, f"2024-01-01 0{h}:15:00")
        for i, (src, h) in enumerate(
            [("web", 0), ("web", 0), ("wiki", 0), ("web", 1), ("wiki", 1), ("wiki", 1)]
        )
    ]
    schema = "doc_id long, text string, source string, ts string"
    batch_df = (
        spark.createDataFrame(docs, schema)
        .withColumn("ingest_time", F.col("ts").cast("timestamp"))
        .drop("ts")
    )
    path = str(tmp_path / "docs_stream")
    batch_df.write.parquet(path)

    sdf = spark.readStream.schema(batch_df.schema).parquet(path)
    out = _run_to_memory(
        spark,
        stateful.windowed_source_quality(sdf),
        f"srcq_{uuid.uuid4().hex[:8]}",
        # update mode: append would withhold every window until the
        # watermark passes its end, which never happens on a finite source
        output_mode="update",
    )
    got = {
        (r.window.start.isoformat(), r.source): (r.n_docs, r.sum_tokens, r.sum_quality_e6)
        for r in out.collect()
    }
    expected = {
        (r.window.start.isoformat(), r.source): (r.n_docs, r.sum_tokens, r.sum_quality_e6)
        for r in stateful.windowed_source_quality(batch_df).collect()
    }
    assert got == expected
    assert len(expected) == 4  # 2 windows × 2 sources


def test_streaming_decontaminate_stream_static_matches_batch(spark, tmp_path):
    # Stream-static join: streamed training docs vs a STATIC benchmark
    # set.  doc 10 shares the trigram "alpha beta gamma" with bench doc
    # 0; doc 11 shares nothing; doc 12 shares "delta epsilon zeta".
    bench = spark.createDataFrame(
        [(0, "alpha beta gamma oddball"), (1, "delta epsilon zeta")],
        "doc_id long, text string",
    )
    train = [
        (10, "prefix alpha beta gamma suffix words"),
        (11, "completely unrelated clean content here"),
        (12, "delta epsilon zeta trailing"),
    ]
    batch_df = spark.createDataFrame(train, "doc_id long, text string")
    path = str(tmp_path / "train_stream")
    batch_df.write.parquet(path)

    sdf = spark.readStream.schema(batch_df.schema).parquet(path)
    out = _run_to_memory(
        spark,
        stateful.streaming_decontaminate(sdf, bench),
        f"deco_{uuid.uuid4().hex[:8]}",
        output_mode="append",  # stateless join — append needs no watermark
    )
    got = {(r.doc_id, r.term) for r in out.collect()}
    expected = {
        (r.doc_id, r.term)
        for r in stateful.streaming_decontaminate(batch_df, bench).collect()
    }
    assert got == expected
    assert {d for d, _ in got} == {10, 12}
    assert (10, "alpha beta gamma") in got


def test_streaming_session_window_closes_and_matches_batch(spark, tmp_path):
    """Native session_window streaming: two sessions for user 1 (gap
    > 30 min between event 2 and 3); a later watermark-advancer batch
    closes them, and the emitted (append-mode) sessions must equal the
    batch dual's rows for that user."""
    EV_SCHEMA = "event_id long, ts timestamp, user_id long"
    ev = [
        (1, _ts("2024-01-01T10:00:00"), 1),
        (2, _ts("2024-01-01T10:20:00"), 1),  # merges: 20 min < 30 min gap
        (3, _ts("2024-01-01T11:30:00"), 1),  # 70 min later → new session
    ]
    advancer = [(99, _ts("2024-01-02T12:00:00"), 7)]  # pushes watermark past both
    ev_dir = _write_ordered_files(spark, tmp_path, "sess", EV_SCHEMA, [ev, advancer])
    sdf = (
        spark.readStream.schema(EV_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(ev_dir)
    )
    out = _run_to_memory(
        spark,
        stateful.streaming_user_sessions(sdf),
        f"sess_{uuid.uuid4().hex[:8]}",
        output_mode="append",
    )
    got = sorted(
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
        for r in out.filter("user_id = 1").collect()
    )
    batch_df = spark.createDataFrame(ev + advancer, EV_SCHEMA)
    expected = sorted(
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
        for r in stateful.streaming_user_sessions(batch_df)
        .filter("user_id = 1")
        .collect()
    )
    assert got == expected
    assert len(got) == 2  # the 70-min gap split the sessions


def test_streaming_shared_span_hits_stream_static_matches_batch(spark, tmp_path):
    # Static shared-span set (as text.shared_span_stats' df-filter would
    # produce offline); streamed docs emit one row per matching span
    # POSITION — duplicates kept for boilerplate-fraction rollups.
    span_set = spark.createDataFrame(
        [("a b c d e",), ("v w x y z",)], "s string"
    )
    train = [
        (1, "a b c d e f g"),          # spans at pos 0 matches
        (2, "junk words only here no match"),
        (3, "a b c d e a b c d e"),    # two positions hit the same span
    ]
    batch_df = spark.createDataFrame(train, "doc_id long, text string")
    path = str(tmp_path / "span_stream")
    batch_df.write.parquet(path)

    sdf = spark.readStream.schema(batch_df.schema).parquet(path)
    out = _run_to_memory(
        spark,
        stateful.streaming_shared_span_hits(sdf, span_set, n=5),
        f"span_{uuid.uuid4().hex[:8]}",
        output_mode="append",
    )
    got = sorted((r.doc_id, r.s) for r in out.collect())
    expected = sorted(
        (r.doc_id, r.s)
        for r in stateful.streaming_shared_span_hits(batch_df, span_set, n=5).collect()
    )
    assert got == expected
    assert got.count((3, "a b c d e")) == 2  # positional duplicates kept
    assert all(d != 2 for d, _ in got)


def test_streaming_rebalance_stream_static_matches_batch(spark, tmp_path):
    """rebalance_by_rate is batch/streaming-dual as-is: a stream-static
    broadcast join + narrow filter, stateless in append mode."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.curation import (
        rebalance_by_rate,
    )

    docs = [(i, "a" if i % 2 == 0 else "b") for i in range(100)]
    batch_df = spark.createDataFrame(docs, "doc_id long, source string")
    rates = spark.createDataFrame(
        [("a", 1_000_000), ("b", 400_000)], "source string, rate_e6 long"
    )
    path = str(tmp_path / "rebal_stream")
    batch_df.write.parquet(path)

    sdf = spark.readStream.schema(batch_df.schema).parquet(path)
    out = _run_to_memory(
        spark,
        rebalance_by_rate(sdf, rates).select("doc_id", "source"),
        f"rebal_{uuid.uuid4().hex[:8]}",
        output_mode="append",
    )
    got = sorted((r.doc_id, r.source) for r in out.collect())
    expected = sorted(
        (r.doc_id, r.source)
        for r in rebalance_by_rate(batch_df, rates).select("doc_id", "source").collect()
    )
    assert got == expected
    assert len([1 for _, s in got if s == "a"]) == 50  # rate 1.0 keeps all


def test_streaming_assign_centroids_matches_batch(spark, tmp_path):
    """Ingest-time IVF routing: the stateless inline-literal argmax must
    produce the identical assignment as the batch partial-agg max_by."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        similarity,
    )

    rows = [
        (i, [float(((i * 13 + j * 7) % 11) - 5) / 5.0 for j in range(6)])
        for i in range(30)
    ]
    batch_df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    dim = 6
    e = similarity._flat(batch_df, "vec_id", "d", dim)
    cents = e.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("cid"),
        F.col("nrm").alias("cnrm"),
        *[F.col(f"d{i}").alias(f"c{i}") for i in range(dim)],
    )
    batch_assign = sorted(
        (r.vec_id, r.cid)
        for r in similarity.assign_nearest_centroid(e, cents, dim).collect()
    )

    path = str(tmp_path / "vec_stream")
    batch_df.write.parquet(path)
    sdf = spark.readStream.schema(batch_df.schema).parquet(path)
    out = _run_to_memory(
        spark,
        stateful.streaming_assign_centroids(sdf, cents),
        f"route_{uuid.uuid4().hex[:8]}",
        output_mode="append",
    )
    got = sorted((r.vec_id, r.cid) for r in out.collect())
    assert got == batch_assign


def test_streaming_pq_encode_matches_batch(spark, tmp_path):
    """Stream-time PQ encoding (inlined bounded codebook, stateless
    array_min argmin) must emit rows bit-identical to the batch
    pq_encode — the other ingest half of streaming IVF-PQ index
    maintenance."""
    import random

    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        similarity,
    )

    rng = random.Random(7)
    dim, n_sub = 8, 4
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(40)
    ]
    batch_df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    e = similarity._flat(batch_df, "vec_id", "d", dim)
    cb = similarity.pq_codebooks(e, dim, n_sub, seed_modulus=10)
    batch_enc = sorted(
        (r.vec_id, r.m, r.code)
        for r in similarity.pq_encode(e, cb, dim, n_sub).collect()
    )

    path = str(tmp_path / "pq_stream")
    batch_df.write.parquet(path)
    sdf = spark.readStream.schema(batch_df.schema).parquet(path)
    out = _run_to_memory(
        spark,
        stateful.streaming_pq_encode(sdf, cb),
        f"pqenc_{uuid.uuid4().hex[:8]}",
        output_mode="append",
    )
    got = sorted((r.vec_id, r.m, r.code) for r in out.collect())
    assert got == batch_enc
    assert len(got) == 40 * n_sub


def test_streaming_pii_scrub_matches_batch(spark, tmp_path):
    """pii_scrub is batch/streaming-dual AS-IS: a stateless codegen'd
    regexp map, no aggregation/window — the ingest-time privacy pass."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        text as text_ops,
    )

    rows = [
        (1, "mail a@b.io call 555-123-4567"),
        (2, "ssn 123-45-6789 ip 10.0.0.1"),
        (3, "clean text only"),
    ]
    batch_df = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "pii_stream")
    batch_df.write.parquet(path)
    sdf = spark.readStream.schema(batch_df.schema).parquet(path)
    out = _run_to_memory(
        spark,
        text_ops.pii_scrub(sdf),
        f"pii_{uuid.uuid4().hex[:8]}",
        output_mode="append",
    )
    got = sorted(map(tuple, out.collect()))
    expected = sorted(map(tuple, text_ops.pii_scrub(batch_df).collect()))
    assert got == expected


def test_streaming_funnel_matches_batch(spark, tmp_path):
    """The applyInPandasWithState funnel state machine must reproduce the
    batch events_funnel query exactly with time-ordered arrival,
    including users who never convert past stage 1."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = []
    # user 0: full funnel; user 1: view before signup (stage 1 only);
    # user 2: signup+view, purchase BEFORE view (stage 2 only);
    # user 3: no signup (absent from output)
    script = [
        (0, "signup", 0), (0, "view", 10), (0, "purchase", 20),
        (1, "view", 0), (1, "signup", 10),
        (2, "purchase", 0), (2, "signup", 5), (2, "view", 15),
        (3, "view", 1), (3, "purchase", 2),
    ]
    for u, et, mins in script:
        rows.append((u, et, base + dt.timedelta(minutes=mins)))
    batch_df = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")

    # batch truth via the same stage logic as plans/extras.events_funnel
    s1 = batch_df.filter(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min("ts").alias("t1"))
    s2 = (batch_df.filter(F.col("event_type") == "view").join(s1, "user_id")
          .filter(F.col("ts") > F.col("t1")).groupBy("user_id").agg(F.min("ts").alias("t2")))
    s3 = (batch_df.filter(F.col("event_type") == "purchase").join(s2, "user_id")
          .filter(F.col("ts") > F.col("t2")).groupBy("user_id").agg(F.min("ts").alias("t3")))
    expected = sorted(
        (r.user_id, r.t1_us, r.t2_us, r.t3_us, r.reached_stage)
        for r in s1.join(s2, "user_id", "left").join(s3, "user_id", "left").select(
            "user_id",
            F.unix_micros("t1").alias("t1_us"),
            F.unix_micros("t2").alias("t2_us"),
            F.unix_micros("t3").alias("t3_us"),
            (F.lit(1) + F.col("t2").isNotNull().cast("int")
             + F.col("t3").isNotNull().cast("int")).alias("reached_stage"),
        ).collect()
    )

    path = str(tmp_path / "funnel_stream")
    batch_df.coalesce(1).write.parquet(path)
    sdf = spark.readStream.schema(batch_df.schema).parquet(path)
    out = _run_to_memory(
        spark,
        stateful.streaming_funnel(sdf),
        f"funnel_{uuid.uuid4().hex[:8]}",
        output_mode="update",
    )
    got = sorted(
        (r.user_id, r.t1_us, r.t2_us, r.t3_us, r.reached_stage)
        for r in out.collect()
    )
    assert got == expected
    assert {u for u, *_ in got} == {0, 1, 2}  # user 3 never signed up


def test_streaming_funnel_multi_chunk_group(spark, tmp_path):
    """A group larger than arrow.maxRecordsPerBatch arrives as SEVERAL
    pandas chunks; the state machine must sort events across the whole
    micro-batch, not per chunk — a later chunk carrying the earliest
    event (signup) must still anchor the funnel."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    # Source order puts view/purchase FIRST and signup LAST, so with
    # maxRecordsPerBatch=2 the signup lands in a later chunk than the
    # (event-time later) view/purchase.  A per-chunk sort would leave
    # the user at stage 1; the whole-batch sort reaches stage 3.
    script = [
        (0, "view", 10), (0, "purchase", 20), (0, "view", 30),
        (0, "purchase", 40), (0, "signup", 0),
    ]
    rows = [
        (u, et, base + dt.timedelta(minutes=mins)) for u, et, mins in script
    ]
    batch_df = spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp"
    )
    path = str(tmp_path / "funnel_chunked")
    batch_df.coalesce(1).write.parquet(path)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        sdf = spark.readStream.schema(batch_df.schema).parquet(path)
        out = _run_to_memory(
            spark,
            stateful.streaming_funnel(sdf),
            f"funnel_chunk_{uuid.uuid4().hex[:8]}",
            output_mode="update",
        )
        got = [
            (r.user_id, r.t1_us, r.t2_us, r.t3_us, r.reached_stage)
            for r in out.collect()
        ]
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    # expected micros derived through Spark itself so the naive-datetime
    # → epoch conversion matches the ingest path exactly
    exp = {
        r["m"]: r["us"]
        for r in spark.createDataFrame(
            [(m, base + dt.timedelta(minutes=m)) for m in (0, 10, 20)],
            "m int, ts timestamp",
        )
        .select("m", F.unix_micros("ts").alias("us"))
        .collect()
    }
    assert got == [(0, exp[0], exp[10], exp[20], 3)]


def test_streaming_near_dup_flags_stream_static_matches_batch(spark, tmp_path):
    """Ingest-time LSH flagging: an arriving exact/near duplicate of an
    indexed document must collide on at least one band, and the
    streaming join must equal the batch band-equality join."""
    index_rows = [
        (100, "the quick brown fox jumps over the lazy dog"),
        (101, "completely unrelated content about query engines"),
    ]
    new_rows = [
        (1, "the quick brown fox jumps over the lazy dog"),   # exact dup
        (2, "fresh novel text with no overlap whatsoever"),
    ]
    index_df = spark.createDataFrame(index_rows, "doc_id long, text string")
    batch_df = spark.createDataFrame(new_rows, "doc_id long, text string")

    expected = sorted(
        (r.doc_id, r.index_doc_id)
        for r in stateful.streaming_near_dup_flags(batch_df, index_df).collect()
    )
    assert (1, 100) in expected           # the duplicate is flagged
    assert all(d != 2 for d, _ in expected)  # novel doc passes clean

    path = str(tmp_path / "neardup_stream")
    batch_df.write.parquet(path)
    sdf = spark.readStream.schema(batch_df.schema).parquet(path)
    out = _run_to_memory(
        spark,
        stateful.streaming_near_dup_flags(sdf, index_df),
        f"ndup_{uuid.uuid4().hex[:8]}",
        output_mode="append",
    )
    got = sorted((r.doc_id, r.index_doc_id) for r in out.collect())
    assert got == expected


def test_streaming_substring_flags_stream_static_matches_batch(spark, tmp_path):
    """Ingest-time exact-substring flagging: an arriving document that
    verbatim-repeats >= k tokens of an indexed document must collide on
    every shared gram WITH positions (so the batch stitcher can resume
    diagonal islands), the streaming join must equal the batch
    gram-equality join, and the flagged positions must replay the batch
    miner's maximal run on the same pair."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        dedup,
    )

    shared = "one two three four five six"  # 6 tokens, k=4 -> 3 grams
    index_rows = [
        (100, "intro words then " + shared + " trailing tail"),
        (101, "completely different indexed content here"),
    ]
    new_rows = [
        (1, shared + " with a novel ending"),       # 6-token verbatim overlap
        (2, "fresh novel text with zero overlap"),
    ]
    index_df = spark.createDataFrame(index_rows, "doc_id long, text string")
    batch_df = spark.createDataFrame(new_rows, "doc_id long, text string")

    expected = sorted(
        (r.doc_id, r.pos, r.index_doc_id, r.index_pos)
        for r in stateful.streaming_substring_flags(
            batch_df, index_df, k=4
        ).collect()
    )
    # doc 1's grams at pos 0,1,2 hit index doc 100 at pos 3,4,5 — one
    # diagonal, consecutive: exactly the batch miner's island
    assert expected == [(1, 0, 100, 3), (1, 1, 100, 4), (1, 2, 100, 5)]
    runs = dedup.substring_run_pairs(
        index_df.unionByName(batch_df), k=4
    ).collect()
    assert {(r.doc_a, r.doc_b, r.a_start, r.b_start, r.match_tokens)
            for r in runs} == {(1, 100, 0, 3, 6)}
    # ADVICE r14: an indexed document RE-INGESTED on the stream side
    # (same id) must not flag its own grams against itself — substring
    # grams fan out far more self-match rows than the LSH band probe,
    # so the guard lives in the operator; cross-doc hits still emit
    replay = stateful.streaming_substring_flags(
        index_df, index_df, k=4
    ).collect()
    assert all(r.doc_id != r.index_doc_id for r in replay)

    path = str(tmp_path / "substr_stream")
    batch_df.write.parquet(path)
    sdf = spark.readStream.schema(batch_df.schema).parquet(path)
    out = _run_to_memory(
        spark,
        stateful.streaming_substring_flags(sdf, index_df, k=4),
        f"substr_{uuid.uuid4().hex[:8]}",
        output_mode="append",
    )
    got = sorted(
        (r.doc_id, r.pos, r.index_doc_id, r.index_pos)
        for r in out.collect()
    )
    assert got == expected


def test_streaming_self_repeat_flags_match_batch_miner(spark, tmp_path):
    """Ingest-time intra-document repeat flagging: the stateless
    mapInPandas dual emits exactly the batch self-run miner's maximal
    runs (exact tuple grams vs md5 fingerprints — same diagonals, same
    islands; batch cap non-binding so the corpus-wide vs within-doc
    cap scopes coincide), and the streaming run equals the batch-mode
    run on the same rows."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        dedup,
    )

    para = "alpha bravo charlie delta echo foxtrot golf hotel"
    rows = [
        (1, "start " + para + " middle " + para + " end"),
        (2, "x x x x x x"),
        (3, "all distinct tokens here only once"),
        (4, None),
    ]
    batch_df = spark.createDataFrame(rows, "doc_id long, text string")
    expected = {
        (r.doc_id, r.a_start, r.b_start, r.match_tokens)
        for r in dedup.substring_self_run_pairs(
            batch_df, k=4, max_gram_occ=10_000
        ).collect()
    }
    assert (1, 1, 10, 8) in expected        # the duplicated paragraph
    got_batch = {
        (r.doc_id, r.a_start, r.b_start, r.match_tokens)
        for r in stateful.streaming_self_repeat_flags(
            batch_df, k=4, max_gram_occ=10_000
        ).collect()
    }
    assert got_batch == expected

    path = str(tmp_path / "selfrep_stream")
    batch_df.write.parquet(path)
    sdf = spark.readStream.schema(batch_df.schema).parquet(path)
    out = _run_to_memory(
        spark,
        stateful.streaming_self_repeat_flags(sdf, k=4, max_gram_occ=10_000),
        f"selfrep_{uuid.uuid4().hex[:8]}",
        output_mode="append",
    )
    got_stream = {
        (r.doc_id, r.a_start, r.b_start, r.match_tokens)
        for r in out.collect()
    }
    assert got_stream == expected


def test_self_repeat_flags_java_whitespace_tokenization(spark):
    """ADVICE r15 closure: the self-repeat dual must tokenize with
    JAVA's \\s class ([ \\t\\n\\x0B\\f\\r]) like the batch miner's
    Spark split — Python's Unicode-aware \\s would ALSO split on
    U+00A0 (no-break space) and U+2028 (line separator), breaking
    stream==batch for documents containing them.  Here 'p\\u00a0q' and
    'm\\u2028n' are single tokens on both engines; tab/newline remain
    separators; and a leading tab survives trim (which strips spaces
    only) to make an empty first token identically on both sides."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        dedup,
    )

    rows = [
        # U+00A0 joins: the repeated unit is the 2-token span
        # ('p q', 'r') — a Python-\s tokenizer would see 3 tokens
        # and different positions
        (2, "p q r s p q r s t u v w"),
        # U+2028 joins likewise
        (3, "m n o m n o z1 z2 z3 z4"),
        # tab IS a Java separator and trim strips only spaces: leading
        # empty token shifts every position on BOTH engines
        (4, "\tx y x y x y q1 q2 q3 q4 q5"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    batch = sorted(
        (r.doc_id, r.a_start, r.b_start, r.match_tokens)
        for r in dedup.substring_self_run_pairs(
            df, k=2, max_gram_occ=1000
        ).collect()
    )
    stream = sorted(
        (r.doc_id, r.a_start, r.b_start, r.match_tokens)
        for r in stateful.streaming_self_repeat_flags(
            df, k=2, max_gram_occ=1000
        ).collect()
    )
    assert stream == batch
    # doc 2: tokens (p\xa0q, r, s) repeat at offset 3 -> one 3-token
    # run; a Unicode-\s split would have yielded 4-token units instead
    assert (2, 0, 3, 3) in stream
    assert (3, 0, 2, 2) in stream


def test_stitch_flag_runs_equals_batch_miner(spark, tmp_path):
    """The PRODUCT stitcher (operators/dedup.stitch_flag_runs, r16 —
    VERDICT r15 #3): stitching the streaming substring probe's
    positional flags yields EXACTLY the batch miner's maximal runs
    restricted to stream×index pairs (caps non-binding), in BOTH id
    orientations (the miner orients by doc_a < doc_b; the stitcher
    orients stream→index), across multiple runs per pair and multiple
    partners per stream doc — and an at-least-once sink duplicating
    flag rows cannot split islands (the stitcher distincts first).
    This closes the discovery→monitoring loop as product code."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        dedup,
    )

    span1 = "one two three four five six"            # 6 tokens
    span2 = "red orange yellow green blue"           # 5 tokens
    index_rows = [
        (100, "intro " + span1 + " filler words here " + span2 + " tail"),
        (101, span2 + " other indexed content entirely"),
    ]
    new_rows = [
        # id BELOW the index ids: miner orients this doc as doc_a
        (1, span1 + " then novel text " + span2),
        # id ABOVE the index ids: miner orients this doc as doc_b
        (200, "prefix " + span2 + " suffix tokens"),
        (2, "zero overlap with anything indexed"),
    ]
    index_df = spark.createDataFrame(index_rows, "doc_id long, text string")
    batch_df = spark.createDataFrame(new_rows, "doc_id long, text string")
    k = 4

    flags = stateful.streaming_substring_flags(
        batch_df, index_df, k=k, max_gram_occ=10_000
    )
    got = {
        (r.doc_id, r.index_doc_id, r.a_start, r.b_start, r.match_tokens)
        for r in dedup.stitch_flag_runs(flags, k=k).collect()
    }

    stream_ids = {1, 2, 200}
    exp = set()
    for r in dedup.substring_run_pairs(
        index_df.unionByName(batch_df), k=k, max_gram_occ=10_000
    ).collect():
        a_is_stream = r.doc_a in stream_ids
        if a_is_stream == (r.doc_b in stream_ids):
            continue  # stream×stream or index×index — probe can't see
        if a_is_stream:
            exp.add((r.doc_a, r.doc_b, r.a_start, r.b_start, r.match_tokens))
        else:
            exp.add((r.doc_b, r.doc_a, r.b_start, r.a_start, r.match_tokens))
    assert got == exp
    assert len(got) >= 3  # both orientations + a multi-partner doc
    # span2 is shared by BOTH indexed docs — doc 200 must hit both
    assert len({i for d, i, *_ in got if d == 200}) == 2

    # at-least-once duplication: replaying every flag twice is a no-op
    dup = dedup.stitch_flag_runs(flags.unionByName(flags), k=k)
    assert {
        (r.doc_id, r.index_doc_id, r.a_start, r.b_start, r.match_tokens)
        for r in dup.collect()
    } == exp

    import pytest as _pytest

    with _pytest.raises(ValueError, match="min_tokens"):
        dedup.stitch_flag_runs(flags, k=5, min_tokens=4)
    with _pytest.raises(ValueError, match="k must be"):
        dedup.stitch_flag_runs(flags, k=1)


def test_streaming_substring_index_version_swap(spark, tmp_path):
    """The materialized gram-index deployment contract (VERDICT r14 #3,
    mirroring test_streaming_phash_index_version_swap): the static side
    is BUILT ONCE batch-side (operators/dedup.substring_gram_index),
    written to a versioned parquet path, and probed per trigger —
    refresh = restart the query on the same source + checkpoint against
    the new version.  Zero streaming state: the restart reprocesses
    NOTHING (v1-era rows appear exactly once) and every post-swap
    arrival probes only the new index.  The materialized path must be
    row-identical to the inline index_docs path on the same corpus."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        dedup,
    )

    shared = "one two three four five six"          # 6 tokens, k=4
    extra = "alpha beta gamma delta epsilon zeta"   # v2-only member
    schema = "doc_id long, text string"
    idx_v1_docs = spark.createDataFrame(
        [(100, "pre words " + shared + " post")], schema
    )
    idx_v2_docs = spark.createDataFrame(
        [(100, "pre words " + shared + " post"),
         (200, "lead " + extra + " tail")],
        schema,
    )
    v1_path = str(tmp_path / "gramidx_v1")
    v2_path = str(tmp_path / "gramidx_v2")
    dedup.substring_gram_index(idx_v1_docs, k=4).write.parquet(v1_path)
    dedup.substring_gram_index(idx_v2_docs, k=4).write.parquet(v2_path)

    # materialized == inline on the same corpus (bit-identical probe
    # results: same tokenizer, same gram strings, same md5 keys, same
    # occurrence cap, batch lead-window build vs per-trigger HOF)
    arrival1 = spark.createDataFrame(
        [(1, shared + " with novel ending")], schema
    )
    inline = sorted(
        (r.doc_id, r.pos, r.index_doc_id, r.index_pos)
        for r in stateful.streaming_substring_flags(
            arrival1, idx_v1_docs, k=4
        ).collect()
    )
    materialized = sorted(
        (r.doc_id, r.pos, r.index_doc_id, r.index_pos)
        for r in stateful.streaming_substring_flags(
            arrival1, index=spark.read.parquet(v1_path), k=4
        ).collect()
    )
    assert inline == materialized and len(inline) == 3

    import pytest as _pytest

    with _pytest.raises(ValueError, match="exactly one"):
        stateful.streaming_substring_flags(arrival1, k=4)
    with _pytest.raises(ValueError, match="exactly one"):
        stateful.streaming_substring_flags(
            arrival1, idx_v1_docs, index=spark.read.parquet(v1_path)
        )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    arrival1.write.parquet(src)

    def run(index_path):
        sdf = spark.readStream.schema(schema).parquet(src)
        q = (
            stateful.streaming_substring_flags(
                sdf, index=spark.read.parquet(index_path), k=4
            )
            .writeStream.format("parquet")
            .option("checkpointLocation", ckpt)
            .option("path", out)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            progress = q.lastProgress
        finally:
            q.stop()
        return progress

    p1 = run(v1_path)
    assert p1 is None or p1["stateOperators"] == []  # zero state
    v1_rows = [
        (r.doc_id, r.index_doc_id)
        for r in spark.read.parquet(out).collect()
    ]
    assert set(v1_rows) == {(1, 100)} and len(v1_rows) == 3
    # redeploy: new arrival overlaps the NEW index member only
    spark.createDataFrame(
        [(3, extra + " and fresh words")], schema
    ).write.mode("append").parquet(src)
    run(v2_path)
    rows = [
        (r.doc_id, r.index_doc_id)
        for r in spark.read.parquet(out).collect()
    ]
    # v1-era output intact, not reprocessed against v2
    assert len([x for x in rows if x == (1, 100)]) == 3
    pairs = set(rows)
    assert (3, 200) in pairs           # matches the v2 addition
    assert (3, 100) not in pairs       # no overlap with the old member
    assert (1, 200) not in pairs       # old arrival never re-probed


def test_left_outer_join_emits_unmatched_after_watermark(spark, tmp_path):
    """J1 left_outer mode: a risk event with NO matching customer profile
    is emitted null-padded once the watermark passes the end of its
    match window (never silently dropped), while matched pairs join as
    in watermarked mode."""
    cust_dir = _write_ordered_files(
        spark, tmp_path, "cust", CUST_SCHEMA,
        [
            [
                ("A", "a@test.com", "1980", _ts("2024-01-01T10:00:00")),
                ("Z", "zz@none.com", "1999", _ts("2024-01-01T12:00:00")),
            ],
            [("X", "xx@none.com", "1990", _ts("2024-01-01T14:00:00"))],
            [("Y", "yy@none.com", "1991", _ts("2024-01-01T16:00:00"))],
        ],
    )
    risk_dir = _write_ordered_files(
        spark, tmp_path, "risk", RISK_SCHEMA,
        [
            [
                # matched: joins a@test.com within the range
                ("a@test.com", 1.5, _ts("2024-01-01T10:05:00")),
                # UNMATCHED: no profile for this key anywhere
                ("ghost@test.com", 7.7, _ts("2024-01-01T10:07:00")),
            ],
            # watermark advancers on the risk side
            [("wm@none.com", 0.0, _ts("2024-01-01T14:00:00"))],
            [("wm2@none.com", 0.0, _ts("2024-01-01T16:00:00"))],
        ],
    )
    c = (
        spark.readStream.schema(CUST_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(cust_dir)
    )
    r = (
        spark.readStream.schema(RISK_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(risk_dir)
    )
    out = _run_to_memory(
        spark,
        joins.join_risk_with_customers(
            r, c, mode="left_outer", watermark_delay="10 minutes"
        ),
        f"loj_{uuid.uuid4().hex[:8]}",
    )
    rows = {(x.customer, x.score, x.email, x.birthYear) for x in out.collect()}
    # matched pair joins normally; every advancer + the ghost row emit
    # null-padded once the watermark proves they can never match
    assert ("a@test.com", 1.5, "a@test.com", "1980") in rows
    assert ("ghost@test.com", 7.7, None, None) in rows
    # the matched row must NOT also appear null-padded
    assert ("a@test.com", 1.5, None, None) not in rows


def test_streaming_anomaly_flags_stream_static_matches_batch(spark, tmp_path):
    """Stream-static anomaly monitor: streamed events scored against a
    STATIC historical baseline with the division-free integer z-gate;
    stream rows == batch-dual rows, and the obvious outlier is caught."""
    EV_SCHEMA = "event_id long, user_id long, event_type string, value double"
    # history for (1, click): tight cluster at 10.00 ± small
    hist = spark.createDataFrame(
        [
            (100, 1, "click", 10.00),
            (101, 1, "click", 10.02),
            (102, 1, "click", 9.98),
            (103, 1, "click", 10.01),
            (104, 2, "view", 5.0),
        ],
        EV_SCHEMA,
    )
    incoming = [
        (200, 1, "click", 10.01),   # in-distribution → unflagged
        (201, 1, "click", 99.99),   # wild outlier → flagged
        (202, 3, "click", 123.45),  # key absent from baseline → dropped
    ]
    batch_df = spark.createDataFrame(incoming, EV_SCHEMA)
    path = str(tmp_path / "ev_stream")
    batch_df.write.parquet(path)

    sdf = spark.readStream.schema(batch_df.schema).parquet(path)
    out = _run_to_memory(
        spark,
        stateful.streaming_anomaly_flags(sdf, hist),
        f"anom_{uuid.uuid4().hex[:8]}",
        output_mode="append",
    )
    got = {(r.event_id, r.v_cents) for r in out.collect()}
    expected = {
        (r.event_id, r.v_cents)
        for r in stateful.streaming_anomaly_flags(batch_df, hist).collect()
    }
    assert got == expected
    assert got == {(201, 9999)}


def test_streaming_mad_flags_stream_static_matches_batch(spark, tmp_path):
    """Stream-static MAD monitor: streamed events scored against the
    STATIC history's lower-median/lower-MAD (computed by the batch
    operator — window machinery on the static side of the stream-static
    join); stream rows == batch-dual rows, the wild outlier is caught,
    the masking-value trap that breaks the z-gate does not break MAD."""
    EV_SCHEMA = "event_id long, user_id long, event_type string, value double"
    # history for click: tight cluster at 10.00 PLUS one wild 500.00 —
    # the contamination that inflates a stddev but not a MAD
    hist = spark.createDataFrame(
        [
            (100, 1, "click", 10.00),
            (101, 1, "click", 10.02),
            (102, 2, "click", 9.98),
            (103, 1, "click", 10.01),
            (104, 2, "click", 500.00),
            (105, 2, "view", 5.0),
        ],
        EV_SCHEMA,
    )
    # history cents sorted: 998,1000,1001,1002,50000 -> lower med 1001
    # devs sorted: 0,1,1,3,48999 -> MAD 1 -> gate |v-1001| > 5
    incoming = [
        (200, 1, "click", 10.03),   # dev 2 <= 5 → unflagged
        (201, 1, "click", 10.07),   # dev 6 > 5 → flagged
        (202, 3, "view", 5.0),      # view med 500, MAD 0, dev 0 → unflagged
        (203, 4, "purchase", 1.0),  # type absent from baseline → dropped
    ]
    batch_df = spark.createDataFrame(incoming, EV_SCHEMA)
    path = str(tmp_path / "mad_stream")
    batch_df.write.parquet(path)

    sdf = spark.readStream.schema(batch_df.schema).parquet(path)
    out = _run_to_memory(
        spark,
        stateful.streaming_mad_flags(sdf, hist),
        f"madf_{uuid.uuid4().hex[:8]}",
        output_mode="append",
    )
    got = {(r.event_id, r.v_cents, r.med, r.mad) for r in out.collect()}
    expected = {
        (r.event_id, r.v_cents, r.med, r.mad)
        for r in stateful.streaming_mad_flags(batch_df, hist).collect()
    }
    assert got == expected
    assert got == {(201, 1007, 1001, 1)}


def test_streaming_chunk_sliding_matches_batch(spark, tmp_path):
    """Sliding-window chunking is a stateless narrow map + explode —
    streaming-safe AS-IS (the same operator runs at ingest time with no
    watermark/state); stream rows == batch rows."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        text as text_ops,
    )

    docs = [(i, " ".join(f"w{i}_{j}" for j in range(10 + 3 * i)))
            for i in range(5)]
    batch_df = spark.createDataFrame(docs, "doc_id long, text string")
    path = str(tmp_path / "docs_stream")
    batch_df.write.parquet(path)

    sdf = spark.readStream.schema(batch_df.schema).parquet(path)
    out = _run_to_memory(
        spark,
        text_ops.chunk_sliding(sdf, chunk_tokens=6, stride=4),
        f"chunk_{uuid.uuid4().hex[:8]}",
        output_mode="append",
    )
    got = {(r.doc_id, r.chunk_id, r.chunk_text) for r in out.collect()}
    expected = {
        (r.doc_id, r.chunk_id, r.chunk_text)
        for r in text_ops.chunk_sliding(
            batch_df, chunk_tokens=6, stride=4
        ).collect()
    }
    assert got == expected and len(got) > 5


def test_streaming_latest_state_matches_batch(spark, tmp_path):
    """Streaming CDC compaction (complete-mode max_by aggregate): after
    two micro-batches the maintained state equals the batch dual —
    including a late row for user 1 that must NOT displace their newer
    event."""
    EV_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"
    b0 = [
        (1, _ts("2024-01-01T10:00:00"), 1, "view", 1.00),
        (2, _ts("2024-01-01T11:00:00"), 1, "click", 2.00),
        (3, _ts("2024-01-01T10:30:00"), 2, "view", 3.00),
    ]
    b1 = [
        (4, _ts("2024-01-01T12:00:00"), 2, "purchase", 4.00),
        (5, _ts("2024-01-01T10:15:00"), 1, "error", 9.00),  # late — loses
    ]
    ev_dir = _write_ordered_files(spark, tmp_path, "ev", EV_SCHEMA, [b0, b1])
    sdf = (
        spark.readStream.schema(EV_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(ev_dir)
    )
    out = _run_to_memory(
        spark,
        stateful.streaming_latest_state(sdf),
        f"latest_{uuid.uuid4().hex[:8]}",
        output_mode="complete",
    )
    got = {tuple(r) for r in out.collect()}
    batch_df = spark.createDataFrame(b0 + b1, EV_SCHEMA)
    expected = {
        tuple(r) for r in stateful.streaming_latest_state(batch_df).collect()
    }
    assert got == expected
    assert (1, 2, "click", 200, 3) in got  # late event 5 counted, not latest
    assert (2, 4, "purchase", 400, 2) in got


def test_windowed_value_histogram_matches_batch(spark, tmp_path):
    """Streaming histogram (watermarked window × type × bucket): closed
    windows' counts equal the batch dual on the same rows."""
    EV_SCHEMA = "event_id long, ts timestamp, event_type string, value double"
    b0 = [
        (1, _ts("2024-01-01T10:05:00"), "click", 5.00),     # bucket 0
        (2, _ts("2024-01-01T10:15:00"), "click", 25.00),    # bucket 1
        (3, _ts("2024-01-01T10:25:00"), "view", 999.00),    # clamped tail
    ]
    b1 = [(4, _ts("2024-01-01T14:00:00"), "view", 1.00)]  # advancer
    ev_dir = _write_ordered_files(spark, tmp_path, "evh", EV_SCHEMA, [b0, b1])
    sdf = (
        spark.readStream.schema(EV_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(ev_dir)
    )
    out = _run_to_memory(
        spark,
        stateful.windowed_value_histogram(sdf),
        f"hist_{uuid.uuid4().hex[:8]}",
        output_mode="append",
    )
    got = {
        (r.win_start.isoformat(), r.event_type, r.bucket, r.n)
        for r in out.collect()
    }
    # the 10:00 window closed (watermark passed 13:00) — its rows equal
    # the batch histogram of that window's slice
    batch_df = spark.createDataFrame(b0, EV_SCHEMA)
    expected = {
        (r.win_start.isoformat(), r.event_type, r.bucket, r.n)
        for r in stateful.windowed_value_histogram(batch_df).collect()
    }
    assert expected <= got
    assert ("2024-01-01T10:00:00", "click", 0, 1) in got
    assert ("2024-01-01T10:00:00", "click", 1, 1) in got
    assert ("2024-01-01T10:00:00", "view", 29, 1) in got  # clamped


def test_windowed_distinct_users_sketches_match_batch_and_merge(
    spark, tmp_path
):
    """Streaming HLL monitor: closed windows' estimates equal the batch
    dual on the same rows, and the emitted sketch BYTES are live — a
    downstream hll_union_agg over the closed window's per-type sketches
    reproduces the batch global distinct estimate without re-reading
    the stream."""
    EV_SCHEMA = "event_id long, ts timestamp, event_type string, user_id long"
    b0 = [
        (1, _ts("2024-01-01T10:05:00"), "click", 7),
        (2, _ts("2024-01-01T10:10:00"), "click", 7),   # dup user
        (3, _ts("2024-01-01T10:15:00"), "click", 8),
        (4, _ts("2024-01-01T10:20:00"), "view", 8),    # same user, new type
        (5, _ts("2024-01-01T10:25:00"), "view", 9),
    ]
    b1 = [(6, _ts("2024-01-01T14:00:00"), "view", 1)]  # advancer
    ev_dir = _write_ordered_files(spark, tmp_path, "evu", EV_SCHEMA, [b0, b1])
    sdf = (
        spark.readStream.schema(EV_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(ev_dir)
    )
    out = _run_to_memory(
        spark,
        stateful.windowed_distinct_users(sdf),
        f"hllu_{uuid.uuid4().hex[:8]}",
        output_mode="append",
    )
    rows = out.collect()
    got = {
        (r.win_start.isoformat(), r.event_type): (r.approx_users, r.n_events)
        for r in rows
    }
    batch_df = spark.createDataFrame(b0, EV_SCHEMA)
    expected = {
        (r.win_start.isoformat(), r.event_type): (r.approx_users, r.n_events)
        for r in stateful.windowed_distinct_users(batch_df).collect()
    }
    # the 10:00 window closed — streaming estimates equal the batch dual
    for k, v in expected.items():
        assert got[k] == v
    # HLL is exact at these cardinalities: 2 distinct clickers, 2 viewers
    assert got[("2024-01-01T10:00:00", "click")] == (2, 3)
    assert got[("2024-01-01T10:00:00", "view")] == (2, 2)
    # MERGE the closed window's emitted sketch bytes downstream: the
    # union estimate equals the batch global distinct over that slice
    closed = spark.createDataFrame(
        [r for r in rows if r.win_start.isoformat() == "2024-01-01T10:00:00"]
    )
    merged = closed.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("global_users")
    ).collect()[0]
    assert merged.global_users == 3  # users {7, 8, 9}


def test_windowed_cms_grid_matches_batch_and_merges(spark, tmp_path):
    """Streaming CMS monitor: closed windows' grid rows equal the batch
    dual on the same rows, and the emitted grids are live — a
    downstream cell-wise sum over the closed window's cells reproduces
    the batch single-pass build, and point estimates stay one-sided
    upper bounds of the exact counts."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        sketches,
    )

    EV_SCHEMA = "event_id long, ts timestamp, event_type string, user_id long"
    b0 = [
        (1, _ts("2024-01-01T10:05:00"), "click", 7),
        (2, _ts("2024-01-01T10:10:00"), "click", 7),   # dup user
        (3, _ts("2024-01-01T10:15:00"), "click", 8),
        (4, _ts("2024-01-01T10:20:00"), "view", 8),
        (5, _ts("2024-01-01T10:25:00"), "view", 9),
    ]
    b1 = [(6, _ts("2024-01-01T14:00:00"), "view", 1)]  # advancer
    ev_dir = _write_ordered_files(spark, tmp_path, "cmsg", EV_SCHEMA, [b0, b1])
    sdf = (
        spark.readStream.schema(EV_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(ev_dir)
    )
    out = _run_to_memory(
        spark,
        stateful.windowed_cms_grid(sdf),
        f"cmsg_{uuid.uuid4().hex[:8]}",
        output_mode="append",
    )
    rows = out.collect()
    got = {
        (r.win_start.isoformat(), r.seed, r.bucket): r.cnt for r in rows
    }
    batch_df = spark.createDataFrame(b0, EV_SCHEMA)
    expected = {
        (r.win_start.isoformat(), r.seed, r.bucket): r.cnt
        for r in stateful.windowed_cms_grid(batch_df).collect()
    }
    # the 10:00 window closed — its streaming grid equals the batch dual
    for k, v in expected.items():
        assert got[k] == v
    # every seed row of the closed window carries the window's 5 events
    closed_rows = [
        r for r in rows if r.win_start.isoformat() == "2024-01-01T10:00:00"
    ]
    per_seed = {}
    for r in closed_rows:
        per_seed[r.seed] = per_seed.get(r.seed, 0) + r.cnt
    assert per_seed == {0: 5, 1: 5, 2: 5, 3: 5}
    # MERGE the closed window's grid downstream: cell-wise sum equals
    # the batch single-pass build on that slice...
    merged = spark.createDataFrame(
        [(r.seed, r.bucket, r.cnt) for r in closed_rows],
        "seed int, bucket long, cnt long",
    ).groupBy("seed", "bucket").agg(F.sum("cnt").alias("cnt"))
    direct = {
        (r.seed, r.bucket): r.cnt
        for r in sketches.cms_build(batch_df, "user_id").collect()
    }
    assert {
        (r.seed, r.bucket): r.cnt for r in merged.collect()
    } == direct
    # ...and point estimates from the merged grid upper-bound the truth
    keys = spark.createDataFrame([(7,), (8,), (9,)], "user_id long")
    est = {
        r.user_id: r.cms_est
        for r in sketches.cms_estimate(merged, keys, "user_id").collect()
    }
    assert est[7] >= 2 and est[8] >= 2 and est[9] >= 1


def test_streaming_quality_flags_matches_batch_signals(spark, tmp_path):
    """Stateless ingest quality gate: streaming output equals the batch
    run of the same operator, the HOF repetition signal equals the
    batch explode+groupBy repetition_stats per row, and the blend/gate
    match the quality_linear_score arithmetic."""
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        text as text_ops,
    )

    DOC_SCHEMA = "doc_id long, text string"
    rows = [
        (1, "the the the the the the"),           # pure repetition
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon"),  # diverse
        (3, "x"),                                  # single token, no bigrams
        (4, "go go stop go go stop"),              # mixed repetition
    ]
    doc_dir = _write_ordered_files(
        spark, tmp_path, "qflags", DOC_SCHEMA, [rows]
    )
    sdf = spark.readStream.schema(DOC_SCHEMA).parquet(doc_dir)
    out = _run_to_memory(
        spark,
        stateful.streaming_quality_flags(sdf),
        f"qf_{uuid.uuid4().hex[:8]}",
        output_mode="append",
    )
    got = {r.doc_id: r for r in out.collect()}
    assert set(got) == {1, 2, 3, 4}

    batch_df = spark.createDataFrame(rows, DOC_SCHEMA)
    # stream == batch on the identical operator body
    batch = {
        r.doc_id: r
        for r in stateful.streaming_quality_flags(batch_df).collect()
    }
    assert {k: tuple(v) for k, v in got.items()} == {
        k: tuple(v) for k, v in batch.items()
    }
    # the per-row HOF repetition equals the batch explode+groupBy form
    rep_batch = {
        r.doc_id: r.rep_bigram_e6
        for r in text_ops.repetition_stats(batch_df).collect()
    }
    for d in got:
        assert got[d].rep_bigram_e6 == rep_batch[d], d
    # gate semantics: all-repeated text scores low, diverse text keeps
    assert got[1].rep_bigram_e6 == 1_000_000 and not got[1].keep
    assert got[2].rep_bigram_e6 == 0 and got[2].keep
    assert got[3].rep_bigram_e6 == 0  # no bigrams -> zero, not NULL
    # blend arithmetic mirrors quality_linear_score's div form
    for d, r in got.items():
        assert r.score_e6 == (
            60 * r.quality_e6 + 40 * (1_000_000 - r.rep_bigram_e6)
        ) // 100
    import pytest as _pytest

    with _pytest.raises(ValueError, match="sum to 100"):
        stateful.streaming_quality_flags(batch_df, w_quality=70, w_nonrep=40)


def test_windowed_value_drift_matches_batch_and_flags(spark, tmp_path):
    """Streaming drift monitor: closed windows equal the batch dual on
    the same rows; a window matching the reference deciles stays quiet
    and a window with collapsed values flags its drained/overfull bins."""
    EV_SCHEMA = "event_id long, ts timestamp, value double"
    edges = [100, 200, 300, 400, 500, 600, 700, 800, 900]
    ref = [100_000] * 10
    # 10:00 window: one value per reference bin (cents 50, 150, ... 950)
    b0 = [
        (i, _ts(f"2024-01-01T10:{i:02d}:00"), i + 0.5) for i in range(10)
    ]
    # 11:00 window: everything collapsed into bin 1
    b0 += [
        (100 + i, _ts(f"2024-01-01T11:0{i}:00"), 0.25) for i in range(4)
    ]
    b1 = [(999, _ts("2024-01-01T15:00:00"), 5.0)]  # watermark advancer
    ev_dir = _write_ordered_files(spark, tmp_path, "evd", EV_SCHEMA, [b0, b1])
    sdf = (
        spark.readStream.schema(EV_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(ev_dir)
    )
    out = _run_to_memory(
        spark,
        stateful.windowed_value_drift(sdf, edges, ref),
        f"drift_{uuid.uuid4().hex[:8]}",
        output_mode="append",
    )
    rows = out.collect()
    got = {
        (r.win_start.isoformat(), r.bin): (
            r.n, r.p_e6, r.chi2_term_e6, r.drifted,
        )
        for r in rows
    }
    batch_df = spark.createDataFrame(b0, EV_SCHEMA)
    expected = {
        (r.win_start.isoformat(), r.bin): (
            r.n, r.p_e6, r.chi2_term_e6, r.drifted,
        )
        for r in stateful.windowed_value_drift(
            batch_df, edges, ref
        ).collect()
    }
    assert got == expected  # stream == batch on the closed windows
    # the reference-shaped window is quiet: every bin exactly on ref
    for b in range(1, 11):
        assert got[("2024-01-01T10:00:00", b)] == (1, 100_000, 0, False)
    # the collapsed window flags bin 1 (overfull) and the drained bins
    n, p, chi, drifted = got[("2024-01-01T11:00:00", 1)]
    assert (n, p) == (4, 1_000_000) and drifted
    for b in range(2, 11):
        n, p, chi, drifted = got[("2024-01-01T11:00:00", b)]
        assert (n, p) == (0, 0) and drifted  # ref mass vanished


def test_windowed_cms_watchlist_stream_matches_batch(spark, tmp_path):
    """Streaming heavy-hitter watchlist monitor: closed windows' report
    rows (one per watch key) equal the batch dual on the same rows,
    estimates upper-bound the exact per-window counts, and the phi
    gate fires for the window's dominant key."""
    EV_SCHEMA = "event_id long, ts timestamp, event_type string, user_id long"
    b0 = [
        (1, _ts("2024-01-01T10:05:00"), "click", 25),
        (2, _ts("2024-01-01T10:10:00"), "click", 25),  # heavy watch key
        (3, _ts("2024-01-01T10:15:00"), "click", 25),
        (4, _ts("2024-01-01T10:20:00"), "view", 50),
        (5, _ts("2024-01-01T10:25:00"), "view", 9),    # not on watchlist
    ]
    b1 = [(6, _ts("2024-01-01T14:00:00"), "view", 1)]  # advancer
    ev_dir = _write_ordered_files(spark, tmp_path, "cmsw", EV_SCHEMA, [b0, b1])
    watch = spark.createDataFrame([(25,), (50,), (75,)], "user_id long")
    sdf = (
        spark.readStream.schema(EV_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(ev_dir)
    )
    out = _run_to_memory(
        spark,
        stateful.windowed_cms_watchlist(sdf, watch, phi_permille=500),
        f"cmsw_{uuid.uuid4().hex[:8]}",
        output_mode="append",
    )
    rows = [
        r
        for r in out.collect()
        if r.win_start.isoformat() == "2024-01-01T10:00:00"
    ]
    got = {
        r.user_id: (r.cms_est, r.n_total, r.is_heavy) for r in rows
    }
    assert set(got) == {25, 50, 75}
    batch_df = spark.createDataFrame(b0, EV_SCHEMA)
    expected = {
        r.user_id: (r.cms_est, r.n_total, r.is_heavy)
        for r in stateful.windowed_cms_watchlist(
            batch_df, watch, phi_permille=500
        ).collect()
        if r.win_start.isoformat() == "2024-01-01T10:00:00"
    }
    assert got == expected
    # one-sided estimates: exact counts in the closed window are 3/1/0
    assert got[25][0] >= 3 and got[50][0] >= 1 and got[75][0] >= 0
    assert all(v[1] == 5 for v in got.values())
    # phi = 50% of 5 events -> the 3-event key must flag heavy
    assert got[25][2]


def test_streaming_phash_flags_stream_static_matches_batch(spark, tmp_path):
    """Ingest-time perceptual flagging: an arriving same-length byte
    perturbation of an indexed blob must collide on at least one
    fingerprint chunk and pass the exact Hamming verify; a novel blob
    passes clean; and the streaming stream-static join must equal the
    batch run of the same operator."""
    base = bytes(((i * 7 + 13) % 251) for i in range(120))
    near = bytearray(base)
    near[5] = (near[5] + 60) % 256          # same-length value tweak
    novel = bytes(((i * 11 + 5) % 241) for i in range(97))
    index_df = spark.createDataFrame(
        [(100, bytearray(base)), (101, bytearray(novel))],
        "doc_id long, blob binary",
    )
    # The novel blob must be SHAPE-novel, not just value-novel: two
    # linear byte ramps hash alike (blockhash sees block-vs-mean
    # structure), so the clean fixture is hash-generated noise.
    import hashlib

    noise = bytes(
        hashlib.sha256(bytes([0, i])).digest()[0] for i in range(150)
    )
    new_rows = [
        (1, bytes(near)),   # near dup of 100
        (2, noise),         # shape-novel
    ]
    batch_df = spark.createDataFrame(
        [(i, bytearray(b)) for i, b in new_rows], "doc_id long, blob binary"
    )

    expected = sorted(
        (r.doc_id, r.index_doc_id, r.chunk, r.hamming)
        for r in stateful.streaming_phash_flags(batch_df, index_df).collect()
    )
    assert any(d == 1 and x == 100 for d, x, _, _ in expected)
    assert all(h <= 3 for _, _, _, h in expected)
    assert all(d != 2 for d, _, _, _ in expected)  # novel passes clean

    path = str(tmp_path / "phash_stream")
    batch_df.write.parquet(path)
    sdf = spark.readStream.schema(batch_df.schema).parquet(path)
    out = _run_to_memory(
        spark,
        stateful.streaming_phash_flags(sdf, index_df),
        f"phf_{uuid.uuid4().hex[:8]}",
        output_mode="append",
    )
    got = sorted(
        (r.doc_id, r.index_doc_id, r.chunk, r.hamming) for r in out.collect()
    )
    assert got == expected


def test_streaming_phash_flags_drops_self_pairs(spark, tmp_path):
    """ADVICE r10: a blob re-arriving with an id already in the index
    (an update / replayed micro-batch) must NOT emit itself at
    hamming 0 — rows are advertised as verified pairs."""
    base = bytes(((i * 7 + 13) % 251) for i in range(120))
    index_df = spark.createDataFrame(
        [(100, bytearray(base))], "doc_id long, blob binary"
    )
    rearrival = spark.createDataFrame(
        [(100, bytearray(base))], "doc_id long, blob binary"
    )
    assert (
        stateful.streaming_phash_flags(rearrival, index_df).count() == 0
    )


def test_streaming_phash_index_version_swap(spark, tmp_path):
    """The dim-table redeploy contract (VERDICT r10 #5, mirroring the
    CMS watchlist): refreshing the chunk index = restart the query on
    the same source + checkpoint with the new index version.  Zero
    streaming state means the restart reprocesses NOTHING (rows
    emitted under v1 appear exactly once) and every post-swap arrival
    probes only the new index."""
    import hashlib

    base = bytes(((i * 7 + 13) % 251) for i in range(120))
    base2 = bytes(
        hashlib.sha256(bytes([1, i % 251])).digest()[0] for i in range(140)
    )

    def tweak(b: bytes, pos: int, delta: int) -> bytearray:
        bb = bytearray(b)
        bb[pos] = (bb[pos] + delta) % 256
        return bb

    schema = "doc_id long, blob binary"
    idx_v1 = spark.createDataFrame([(100, bytearray(base))], schema)
    idx_v2 = spark.createDataFrame(
        [(100, bytearray(base)), (200, bytearray(base2))], schema
    )
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    spark.createDataFrame([(1, tweak(base, 5, 60))], schema).write.parquet(
        src
    )

    def run(index_df):
        sdf = spark.readStream.schema(schema).parquet(src)
        q = (
            stateful.streaming_phash_flags(sdf, index_df)
            .writeStream.format("parquet")
            .option("checkpointLocation", ckpt)
            .option("path", out)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            progress = q.lastProgress
        finally:
            q.stop()
        return progress

    p1 = run(idx_v1)
    assert p1 is None or p1["stateOperators"] == []  # zero state
    v1_rows = [
        (r.doc_id, r.index_doc_id)
        for r in spark.read.parquet(out).collect()
    ]
    assert set(v1_rows) == {(1, 100)}
    n_v1 = len(v1_rows)

    # redeploy: new arrival near-dups the NEW index member only
    spark.createDataFrame(
        [(3, tweak(base2, 7, 40))], schema
    ).write.mode("append").parquet(src)
    run(idx_v2)
    rows = [
        (r.doc_id, r.index_doc_id)
        for r in spark.read.parquet(out).collect()
    ]
    # v1-era output intact, not reprocessed against v2
    assert len([x for x in rows if x == (1, 100)]) == n_v1
    pairs = set(rows)
    assert (3, 200) in pairs           # matches the v2 addition
    assert (3, 100) not in pairs       # shape-novel vs the old member
    assert (1, 200) not in pairs       # old arrival never re-probed


def test_windowed_seq_kgrams_stream_matches_batch_and_miner(spark, tmp_path):
    """Streaming sequential-pattern dual: closed windows' per-key gram
    occurrences equal the batch dual on the same rows, late-batch rows
    only land in their own window, and rolling the stream output up by
    (k, gram) reproduces the batch miner's n_occ on the windowed key."""
    EV_SCHEMA = "event_id long, ts timestamp, event_type string, user_id long"
    b0 = [
        (1, _ts("2024-01-01T10:05:00"), "view", 7),
        (2, _ts("2024-01-01T10:10:00"), "click", 7),
        (3, _ts("2024-01-01T10:15:00"), "view", 7),
        (4, _ts("2024-01-01T10:20:00"), "click", 7),
        (5, _ts("2024-01-01T10:12:00"), "view", 8),
        (6, _ts("2024-01-01T10:18:00"), "buy", 8),
        (7, _ts("2024-01-01T10:30:00"), "view", 9),   # lone event: no gram
    ]
    b1 = [(8, _ts("2024-01-01T14:00:00"), "view", 1)]  # watermark advancer
    ev_dir = _write_ordered_files(spark, tmp_path, "seqk", EV_SCHEMA, [b0, b1])
    sdf = (
        spark.readStream.schema(EV_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(ev_dir)
    )
    out = _run_to_memory(
        spark,
        stateful.windowed_seq_kgrams(sdf),
        f"seqk_{uuid.uuid4().hex[:8]}",
        output_mode="append",
    )
    got = sorted(
        (r.win_start.isoformat(), r.user_id, r.k, r.gram)
        for r in out.collect()
        if r.win_start.isoformat() == "2024-01-01T10:00:00"
    )
    assert got == [
        ("2024-01-01T10:00:00", 7, 2, "click>view"),
        ("2024-01-01T10:00:00", 7, 2, "view>click"),
        ("2024-01-01T10:00:00", 7, 2, "view>click"),
        ("2024-01-01T10:00:00", 7, 3, "click>view>click"),
        ("2024-01-01T10:00:00", 7, 3, "view>click>view"),
        ("2024-01-01T10:00:00", 8, 2, "view>buy"),
    ]
    # stream == batch dual (withWatermark is a no-op on a batch frame)
    batch_df = spark.createDataFrame(b0, EV_SCHEMA)
    expected = sorted(
        (r.win_start.isoformat(), r.user_id, r.k, r.gram)
        for r in stateful.windowed_seq_kgrams(batch_df).collect()
        if r.win_start.isoformat() == "2024-01-01T10:00:00"
    )
    assert got == expected
    # the expansion cross-checks the batch MINER: per-(k, gram)
    # occurrence rollup of the windowed output == sequence_kgrams'
    # n_occ over the same in-window rows
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        associations,
    )

    mined = {
        (r.k, r.gram): r.n_occ
        for r in associations.sequence_kgrams(
            batch_df, ks=(2, 3), min_support=1
        ).collect()
    }
    rolled: dict = {}
    for _, _, k, gram in got:
        rolled[(k, gram)] = rolled.get((k, gram), 0) + 1
    assert rolled == mined


def test_windowed_weighted_reservoir_stream_matches_batch(spark, tmp_path):
    """Streaming weighted reservoir: closed windows' k-samples equal
    the batch dual on the same rows, and equal the batch PER-KEY
    reservoir operator run on that window's rows — same priorities,
    same kept set (the A-ES replay contract survives the stream)."""
    EV_SCHEMA = "event_id long, ts timestamp, event_type string, weight long"
    b0 = [
        (1, _ts("2024-01-01T10:05:00"), "click", 3),
        (2, _ts("2024-01-01T10:10:00"), "click", 8),
        (3, _ts("2024-01-01T10:15:00"), "click", 1),
        (4, _ts("2024-01-01T10:20:00"), "click", 5),
        (5, _ts("2024-01-01T10:25:00"), "view", 2),
        (6, _ts("2024-01-01T10:26:00"), "view", 7),
    ]
    b1 = [(7, _ts("2024-01-01T14:00:00"), "view", 1)]  # watermark advancer
    ev_dir = _write_ordered_files(spark, tmp_path, "wres", EV_SCHEMA, [b0, b1])
    sdf = (
        spark.readStream.schema(EV_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(ev_dir)
    )
    out = _run_to_memory(
        spark,
        stateful.windowed_weighted_reservoir(sdf, 2),
        f"wres_{uuid.uuid4().hex[:8]}",
        output_mode="append",
    )
    got = sorted(
        (r.event_type, r.event_id, r.weight, r.priority)
        for r in out.collect()
        if r.win_start.isoformat() == "2024-01-01T10:00:00"
    )
    assert len(got) == 4  # 2 per key
    batch_df = spark.createDataFrame(b0, EV_SCHEMA)
    expected = sorted(
        (r.event_type, r.event_id, r.weight, r.priority)
        for r in stateful.windowed_weighted_reservoir(batch_df, 2).collect()
        if r.win_start.isoformat() == "2024-01-01T10:00:00"
    )
    assert got == expected
    # and == the batch per-key operator on the window's rows
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.curation import (
        weighted_reservoir_per_key,
    )

    per_key = sorted(
        (r.event_type, r.event_id, r.weight, r.priority)
        for r in weighted_reservoir_per_key(
            batch_df, 2,
            key_col="event_type", weight_col="weight", id_col="event_id",
        ).collect()
    )
    assert got == per_key


def test_windowed_weighted_reservoir_string_ids(spark, tmp_path):
    """ADVICE r13 #4 regression pin: the stream sorts its struct on the
    UN-CAST id, so stream==batch holds for NON-NUMERIC ids too (the old
    long-cast either raised under ANSI or broke priority tie order).
    String ids whose lexicographic and numeric orders DISAGREE
    ('10' < '9' as strings) make a silent cast re-introduction fail."""
    EV_SCHEMA = "event_id string, ts timestamp, event_type string, weight long"
    b0 = [
        ("9", _ts("2024-01-01T10:05:00"), "click", 3),
        ("10", _ts("2024-01-01T10:10:00"), "click", 8),
        ("07", _ts("2024-01-01T10:15:00"), "click", 1),
        ("x4", _ts("2024-01-01T10:20:00"), "click", 5),
    ]
    b1 = [("wm", _ts("2024-01-01T14:00:00"), "view", 1)]
    ev_dir = _write_ordered_files(spark, tmp_path, "wres_s", EV_SCHEMA, [b0, b1])
    sdf = (
        spark.readStream.schema(EV_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(ev_dir)
    )
    out = _run_to_memory(
        spark,
        stateful.windowed_weighted_reservoir(sdf, 2),
        f"wress_{uuid.uuid4().hex[:8]}",
        output_mode="append",
    )
    got = sorted(
        (r.event_type, r.event_id, r.weight, r.priority)
        for r in out.collect()
        if r.win_start.isoformat() == "2024-01-01T10:00:00"
    )
    assert len(got) == 2
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators.curation import (
        weighted_reservoir_per_key,
    )

    batch_df = spark.createDataFrame(b0, EV_SCHEMA)
    per_key = sorted(
        (r.event_type, r.event_id, r.weight, r.priority)
        for r in weighted_reservoir_per_key(
            batch_df, 2,
            key_col="event_type", weight_col="weight", id_col="event_id",
        ).collect()
    )
    assert got == per_key


def test_windowed_followed_by_stream_matches_batch_and_miner(spark, tmp_path):
    """Streaming gapped followed-by dual: closed windows' per-key pair
    sets equal the batch dual on the same rows, and equal the batch
    followed_by_pairs support rollup on the windowed key."""
    EV_SCHEMA = "event_id long, ts timestamp, event_type string, user_id long"
    b0 = [
        (1, _ts("2024-01-01T10:05:00"), "view", 7),
        (2, _ts("2024-01-01T10:10:00"), "click", 7),
        (3, _ts("2024-01-01T10:15:00"), "view", 7),
        (4, _ts("2024-01-01T10:12:00"), "buy", 8),
        (5, _ts("2024-01-01T10:18:00"), "buy", 8),   # a==b via 2 occurrences
        (6, _ts("2024-01-01T10:30:00"), "view", 9),  # lone event: no pair
    ]
    b1 = [(7, _ts("2024-01-01T14:00:00"), "view", 1)]  # watermark advancer
    ev_dir = _write_ordered_files(spark, tmp_path, "wfby", EV_SCHEMA, [b0, b1])
    sdf = (
        spark.readStream.schema(EV_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(ev_dir)
    )
    out = _run_to_memory(
        spark,
        stateful.windowed_followed_by(sdf),
        f"wfby_{uuid.uuid4().hex[:8]}",
        output_mode="append",
    )
    got = sorted(
        (r.user_id, r.antecedent, r.consequent)
        for r in out.collect()
        if r.win_start.isoformat() == "2024-01-01T10:00:00"
    )
    assert got == [
        (7, "click", "view"),
        (7, "view", "click"),
        (7, "view", "view"),
        (8, "buy", "buy"),
    ]
    batch_df = spark.createDataFrame(b0, EV_SCHEMA)
    expected = sorted(
        (r.user_id, r.antecedent, r.consequent)
        for r in stateful.windowed_followed_by(batch_df).collect()
        if r.win_start.isoformat() == "2024-01-01T10:00:00"
    )
    assert got == expected
    # cross-check the batch MINER: per-pair support rollup of the
    # stream output == followed_by_pairs' n_both on the windowed key
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import (
        associations,
    )

    mined = {
        (r.antecedent, r.consequent): r.n_both
        for r in associations.followed_by_pairs(
            batch_df, min_support=1,
            seq_col="user_id", item_col="event_type",
        ).collect()
    }
    rolled: dict = {}
    for _, a, b in got:
        rolled[(a, b)] = rolled.get((a, b), 0) + 1
    assert rolled == mined
