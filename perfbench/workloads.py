"""The benchmark's workloads, driven through the engine's public functions.

Each workload runs untimed warm-up first, then its timed part, then its
output checks.  A workload returns a :class:`Result`; ``run.py`` turns it
into the one-line report.

* ``batch``: registered queries from ``plans.registry``, graph fixpoints
  and single-action queries, each built and run to the ``noop`` sink.
* ``stream_join``: ``streaming.queries.customer_risk_stream`` in the
  reference's unbounded mode, draining a staged backlog of wire payloads
  (``datagen.wire_payloads``) one file per feed per trigger into a parquet
  sink that stands in for the ``customer-risk`` Kafka topic.
"""

from __future__ import annotations

import dataclasses
import gc
import hashlib
import json
import os
import statistics
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
import oracle
import probes

# A fixpoint query: most of its Spark jobs run inside plan construction
# (eager peeling rounds).  The single-action queries run their work in one
# final action after 1-2 schema-read jobs at construction; they bypass
# operators.graph and the cache and checkpoint lifetimes.
ITERATIVE_QUERIES = ("graph_kcore",)
SINGLE_ACTION_QUERIES = (
    "ann_brute_force_topk",
    "dedup_simhash",
)
BATCH_QUERIES = ITERATIVE_QUERIES + SINGLE_ACTION_QUERIES
# Tables each batch query reads, for the batch workload's rows_per_s.
INPUT_TABLES = {
    "graph_kcore": ("customer", "supplier", "orders", "lineitem"),
    "ann_brute_force_topk": ("embeddings",),
    "dedup_simhash": ("documents",),
}
STREAM_WORKLOAD = "stream_join"
BATCH_WORKLOAD = "batch"
WORKLOADS = (STREAM_WORKLOAD, BATCH_WORKLOAD)

# Timed work is fixed by --seconds, so parent and child commits do the
# same work: one stream_join trigger per second and one batch pass per
# six seconds (nominal rates: a trigger takes about 1.2 s on a 4-core
# host, a pass about 3.6 s).  stream_join first drains WARM_FILES files
# per feed untimed; batch first runs one cold pass and then WARM_PASSES
# passes like the timed ones, while the JIT still makes each pass
# markedly faster than the one before.
TRIGGER_SECONDS = 1.0
PASS_SECONDS = 6.0
WARM_FILES = 4
WARM_PASSES = 3

BATCH_LAYER = (
    ("plans.build_s", "s"), ("plans.build_jobs", "count"),
    ("action_s", "s"), ("action_jobs", "count"),
    ("stages", "count"), ("tasks", "count"), ("task_s", "s"),
    ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
    ("session.persisted_rdds_left", "count"),
)
SHARED_LAYER = (("live_heap_mb", "MB"), ("jvm.jit_cpu_s", "s"))
QUERY_LAYER = (("build_s", "s"), ("build_jobs", "count"), ("action_s", "s"))
STREAM_LAYER = (
    ("streaming.queries.build_ms", "ms"),
    ("stream.latest_offset_ms", "ms"), ("stream.get_batch_ms", "ms"),
    ("stream.query_planning_ms", "ms"), ("stream.wal_commit_ms", "ms"),
    ("stream.commit_offsets_ms", "ms"), ("stream.add_batch_ms", "ms"),
    ("joins.state_commit_ms", "ms"), ("joins.state_rows", "count"),
    ("joins.state_memory_mb", "MB"), ("stream.triggers", "count"),
    ("stream.input_rows", "count"), ("stream.output_rows", "count"),
    ("pipeline.decode_customers_s", "s"), ("pipeline.parse_risk_s", "s"),
    ("joins.join_format_s", "s"),
)
# progress durationMs field behind each per-trigger layer metric
DURATION_FIELDS = {
    "stream.latest_offset_ms": "latestOffset",
    "stream.get_batch_ms": "getBatch",
    "stream.query_planning_ms": "queryPlanning",
    "stream.wal_commit_ms": "walCommit",
    "stream.commit_offsets_ms": "commitOffsets",
    "stream.add_batch_ms": "addBatch",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    units = dict(SHARED_LAYER)
    units.update(STREAM_LAYER)
    units.update(BATCH_LAYER)
    for q in BATCH_QUERIES:
        for suffix, unit in QUERY_LAYER:
            units[f"{q}.{suffix}"] = unit
    return units


@dataclasses.dataclass
class Run:
    """What a workload needs from the harness."""

    spark: object
    data_dir: str
    work_dir: str
    seed: int
    seconds: float
    trace: bool
    spans: probes.Spans
    table_rows: dict
    customers: int


@dataclasses.dataclass
class Result:
    timed_start: float = 0.0  # perf_counter at the start of the timed part
    staging_s: float = 0.0  # input staging inside the set-up window
    end_to_end: dict = dataclasses.field(default_factory=dict)
    per_layer: dict = dataclasses.field(default_factory=dict)
    attempted: int = 0
    failures: list = dataclasses.field(default_factory=list)
    record: dict = dataclasses.field(default_factory=dict)

    def fail(self, what: str, why: str) -> None:
        self.failures.append(f"{what}: {why}")


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _tail(ms: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; the maximum when there are ten samples or fewer."""
    n = len(ms)
    if n <= 10:
        return (max(ms) if ms else 0.0), 100.0
    return sorted(ms)[n - 11], 100.0 * (n - 10) / n


# --------------------------------------------------------------------------
# batch workloads
# --------------------------------------------------------------------------

def run_batch(run: Run, names: tuple[str, ...]) -> Result:
    from stedi_human_balance_redis_kafka_spark_streaming_spark.plans import registry

    spark, sc, res = run.spark, run.spark.sparkContext, Result()
    queries = registry.queries()
    ok = [n for n in names if n in queries]
    for n in set(names) - set(ok):
        res.fail(n, "not registered")

    # Warm-up: a cold pass collecting every result for the output checks.
    results = {}
    with run.spans.span("warmup"):
        for n in ok:
            res.attempted += 1
            try:
                with run.spans.span(f"{n}.warmup"):
                    results[n] = queries[n](spark, run.data_dir).toPandas()
            except Exception as exc:  # a failing query is a reported failure
                res.fail(n, repr(exc)[:300])
    ok = [n for n in ok if n in results]

    tracker = sc.statusTracker()
    samples: dict[str, list[tuple]] = {n: [] for n in ok}
    groups: set[str] = set()

    jpid = probes.jvm_pid(spark)

    def one_pass(tag: str) -> None:
        """Build and run every query to the noop sink, each phase in its own
        job group; keep each query's times, CPU and job counts."""
        for n in ok:
            res.attempted += 1
            build_g, action_g = f"{n}#{tag}.build", f"{n}#{tag}.action"
            try:
                with run.spans.span(f"{n}.build"):
                    sc.setJobGroup(build_g, n)
                    c0 = probes.cpu_s(jpid)
                    tb = time.perf_counter()
                    df = queries[n](spark, run.data_dir)
                    ta = time.perf_counter()
                with run.spans.span(f"{n}.action"):
                    sc.setJobGroup(action_g, n)
                    df.write.format("noop").mode("overwrite").save()
                    te = time.perf_counter()
                    c1 = probes.cpu_s(jpid)
                del df
            except Exception as exc:
                res.fail(f"{n} pass {tag}", repr(exc)[:300])
                continue
            groups.update((build_g, action_g))
            samples[n].append((
                ta - tb, te - ta,
                len(tracker.getJobIdsForGroup(build_g)),
                len(tracker.getJobIdsForGroup(action_g)),
                c1 - c0,
            ))
        sc.setJobGroup("perfbench", "between passes")

    with run.spans.span("warmup"):
        for p in range(WARM_PASSES):
            one_pass(f"w{p}")
    for rows in samples.values():
        rows.clear()
    groups.clear()

    pass_wall = []
    jit0 = probes.jit_cpu_s(jpid)
    res.timed_start = time.perf_counter()
    for p in range(max(1, round(run.seconds / PASS_SECONDS))):
        t0 = time.perf_counter()
        with run.spans.span(f"pass{p}"):
            one_pass(str(p))
        pass_wall.append(time.perf_counter() - t0)
    jit = probes.jit_cpu_s(jpid) - jit0

    # wall_s and cpu_s sum each query's median over the timed passes: the
    # timed passes may still run code the JIT is warming and a host stall
    # hits one pass, and the per-query median over the passes drops both.
    # A batch request is one pass over the query set, for the trigger
    # latencies; with ten passes or fewer the tail rule gives the slowest.
    pass_ms = [1000.0 * s for s in pass_wall]
    tail, pct = _tail(pass_ms)
    input_rows = sum(run.table_rows[t] for n in ok for t in INPUT_TABLES[n])
    wall = sum(_median([r[0] + r[1] for r in rows]) for rows in samples.values())
    res.end_to_end = {
        "wall_s": wall,
        "cpu_s": sum(_median([r[4] for r in rows]) for rows in samples.values()),
        "rows_per_s": input_rows / wall,
        "trigger_p50_ms": _median(pass_ms),
        "trigger_tail_ms": tail,
    }
    res.record.update({
        "passes": len(pass_wall),
        "jit_cpu_s": jit,
        "tail_percentile": pct, "tail_samples": len(pass_ms),
        "pass_wall_s": pass_wall,
        "query_s": {n: [r[0] + r[1] for r in rows] for n, rows in samples.items()},
        "query_cpu_s": {n: [r[4] for r in rows] for n, rows in samples.items()},
    })

    if run.trace:
        layer = res.per_layer
        for n, rows in samples.items():
            layer[f"{n}.build_s"] = _median([r[0] for r in rows])
            layer[f"{n}.action_s"] = _median([r[1] for r in rows])
            layer[f"{n}.build_jobs"] = rows[0][2] if rows else 0
        first = [rows[0] for rows in samples.values() if rows]
        layer["plans.build_s"] = sum(layer[f"{n}.build_s"] for n in samples)
        layer["action_s"] = sum(layer[f"{n}.action_s"] for n in samples)
        layer["plans.build_jobs"] = sum(r[2] for r in first)
        layer["action_jobs"] = sum(r[3] for r in first)
        gc.collect()
        layer["session.persisted_rdds_left"] = sc._jsc.getPersistentRDDs().size()
        layer["live_heap_mb"] = probes.live_heap_mb(spark)
        layer["jvm.jit_cpu_s"] = jit / len(pass_wall)
        res.record["job_counts"] = {
            n: [[r[2], r[3]] for r in rows] for n, rows in samples.items()
        }
        # event-log totals are per first timed pass, parsed after stop
        res.record["event_log_groups"] = sorted(g for g in groups if "#0." in g)

    # Output checks, outside the timed part.
    con = oracle.connect(run.data_dir)
    oracles = registry.oracle_sql()
    for n in ok:
        res.attempted += 1
        try:
            want = con.execute(oracles[n]).df()
            why = oracle.mismatch(results[n], want)
        except Exception as exc:
            why = repr(exc)[:300]
        if why:
            res.fail(f"{n} check", why)
    con.close()
    return res


# --------------------------------------------------------------------------
# stream_join
# --------------------------------------------------------------------------

def _stage_feed(values: list[str], seed: int, files: int, out_dir: str,
                mtime0: float) -> dict:
    """Write ``values`` as ``files`` parquet files of near-equal size.

    The seed permutes rows over files; file ``i`` gets mtime ``mtime0+i``
    so the file source replays them in order.  Returns row count and a
    content hash of the staged files in replay order.
    """
    os.makedirs(out_dir)
    rows = np.array(values, dtype=object)[np.random.default_rng(seed).permutation(len(values))]
    digest = hashlib.sha256()
    for i, chunk in enumerate(np.array_split(rows, files)):
        path = os.path.join(out_dir, f"part-{i:03d}.parquet")
        pq.write_table(pa.table({"value": pa.array(list(chunk), pa.string())}), path)
        os.utime(path, (mtime0 + i, mtime0 + i))
        for v in chunk:
            digest.update(v.encode())
            digest.update(b"\n")
    return {"rows": len(rows), "sha256": digest.hexdigest()}


def _sink_rows(sink: str) -> pd.DataFrame:
    """The sink's (key, value) rows decoded from the customer-risk JSON."""
    kv = pq.read_table(sink).to_pandas()
    decoded = pd.DataFrame([json.loads(v) for v in kv["value"]],
                           columns=["customer", "score", "email", "birthYear"])
    bad_keys = int((kv["key"].values != decoded["customer"].values).sum())
    if bad_keys:
        raise ValueError(f"{bad_keys} sink rows whose key is not the customer")
    return decoded


def _epoch_s(progress: dict) -> float:
    """Start of a trigger, in seconds since the epoch."""
    return pd.Timestamp(progress["timestamp"]).timestamp()


def _time_batch_dual(build) -> float:
    """Median of three noop runs of a batch plan."""
    times = []
    for _ in range(3):
        t = time.perf_counter()
        build().write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t)
    return _median(times)


def run_stream(run: Run) -> Result:
    from pyspark.sql.streaming import StreamingQueryListener
    from stedi_human_balance_redis_kafka_spark_streaming_spark.operators import joins, pipeline
    from stedi_human_balance_redis_kafka_spark_streaming_spark.plans import registry
    from stedi_human_balance_redis_kafka_spark_streaming_spark.streaming import queries as sq

    spark, res = run.spark, Result()
    files = WARM_FILES + max(1, round(run.seconds / TRIGGER_SECONDS))
    inputs = {k: os.path.join(run.work_dir, "in", k) for k in ("redis", "events")}
    sink = os.path.join(run.work_dir, "sink")
    ckpt = os.path.join(run.work_dir, "checkpoint")

    # Input staging is the load generator, not the system: timed apart.
    # The whole backlog is in place before the query starts, so every
    # trigger reads exactly one file per feed.
    t = time.perf_counter()
    with run.spans.span("staging"):
        mtime0 = time.time() - 3600
        res.record["staged"] = {
            k: _stage_feed(values, run.seed + i, files, inputs[k], mtime0)
            for i, (k, values) in enumerate(datagen.wire_payloads(run.customers).items())
        }
    res.staging_s = time.perf_counter() - t

    progress: list[dict] = []
    if run.trace:
        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        listener = Listener()
        spark.streams.addListener(listener)

    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", str(4 * files))
    jpid = probes.jvm_pid(spark)
    with run.spans.span("stream.start"):
        raw = {
            k: spark.readStream.schema("value string")
            .option("maxFilesPerTrigger", "1").parquet(path)
            for k, path in inputs.items()
        }
        tb = time.perf_counter()
        sdf = sq.customer_risk_stream(raw["redis"], raw["events"], mode="unbounded")
        build_ms = (time.perf_counter() - tb) * 1000.0
        query = (
            sdf.writeStream.format("parquet").option("path", sink)
            .option("checkpointLocation", ckpt).start()
        )
    try:
        # Warm-up: the first WARM_FILES triggers.  The timed part is the
        # rest of the drain, timed by the engine's own progress reports.
        with run.spans.span("warmup"):
            while (query.lastProgress or {}).get("batchId", -1) < WARM_FILES - 1:
                if not query.isActive:
                    raise RuntimeError(f"stream stopped: {query.exception()}")
                time.sleep(0.01)
        c0, jit0 = probes.cpu_s(jpid), probes.jit_cpu_s(jpid)
        with run.spans.span("drain"):
            query.processAllAvailable()
        cpu = probes.cpu_s(jpid) - c0
        jit = probes.jit_cpu_s(jpid) - jit0
        recent = [p for p in query.recentProgress if p["numInputRows"] > 0]
    finally:
        query.stop()
    if run.trace:
        spark.streams.removeListener(listener)
        time.sleep(1.0)  # let the listener bus deliver the last progress

    triggers = sorted({p["batchId"]: p for p in recent}.values(), key=lambda p: p["batchId"])
    timed = [p for p in triggers if p["batchId"] >= WARM_FILES]
    res.attempted += len(triggers)
    if len(triggers) != files or not timed:
        res.fail("stream triggers", f"{len(triggers)} triggers, expected {files}")
    trig_ms = [p["durationMs"]["triggerExecution"] for p in timed]
    start = _epoch_s(timed[0]) if timed else time.time()
    wall = (_epoch_s(timed[-1]) + trig_ms[-1] / 1000.0 - start) if timed else 0.0
    res.timed_start = time.perf_counter() - (time.time() - start)
    tail, pct = _tail(trig_ms)
    res.end_to_end = {
        "wall_s": wall,
        "cpu_s": cpu,
        "rows_per_s": sum(p["numInputRows"] for p in timed) / wall if wall else 0.0,
        "trigger_p50_ms": _median(trig_ms),
        "trigger_tail_ms": tail,
    }
    res.record.update({
        "tail_percentile": pct, "tail_samples": len(trig_ms),
        "warm_triggers": len(triggers) - len(timed),
        "jit_cpu_s": jit,
        "trigger_duration_ms": [p["durationMs"] for p in triggers],
    })

    # Output check, outside the timed part.
    res.attempted += 1
    try:
        got = _sink_rows(sink)
        con = oracle.connect(run.data_dir)
        want = con.execute(registry.oracle_sql()["stedi_customer_risk_join"]).df()
        con.close()
        why = oracle.mismatch(got, want, kinds=False)
    except Exception as exc:
        got, why = None, repr(exc)[:300]
    if why:
        res.fail("stream sink check", why)

    if run.trace:
        layer = res.per_layer
        layer["streaming.queries.build_ms"] = build_ms
        for name, field in DURATION_FIELDS.items():
            layer[name] = _median([p["durationMs"].get(field, 0) for p in timed])
        ops = [p["stateOperators"][0] for p in timed if p.get("stateOperators")]
        layer["joins.state_commit_ms"] = _median([o["commitTimeMs"] for o in ops])
        layer["joins.state_rows"] = ops[-1]["numRowsTotal"] if ops else 0
        layer["joins.state_memory_mb"] = ops[-1]["memoryUsedBytes"] / probes.MB if ops else 0
        layer["stream.triggers"] = len(triggers)
        layer["stream.input_rows"] = sum(p["numInputRows"] for p in triggers)
        layer["stream.output_rows"] = 0 if got is None else len(got)
        layer["live_heap_mb"] = probes.live_heap_mb(spark)
        layer["jvm.jit_cpu_s"] = jit
        _trigger_spans(run.spans, progress)

        # Batch duals over the staged files split addBatch into decode and join.
        def customers():
            raw_r = pipeline.cast_kafka_value_to_string(spark.read.parquet(inputs["redis"]))
            return pipeline.customers_from_redis_stream(raw_r)

        def risk():
            raw_e = pipeline.cast_kafka_value_to_string(spark.read.parquet(inputs["events"]))
            return pipeline.parse_risk_events(raw_e)

        with run.spans.span("batch_duals"):
            layer["pipeline.decode_customers_s"] = _time_batch_dual(customers)
            layer["pipeline.parse_risk_s"] = _time_batch_dual(risk)
            layer["joins.join_format_s"] = _time_batch_dual(
                lambda: joins.format_customer_risk(
                    joins.join_risk_with_customers(risk(), customers())
                )
            )
    return res


def _trigger_spans(spans: probes.Spans, progress: list[dict]) -> None:
    """One span per trigger from the listener's progress reports (wall
    clock timestamps, re-based on the span clock)."""
    offset = time.time() - time.perf_counter()
    for p in progress:
        if p.get("numInputRows", 0) == 0:
            continue
        start = _epoch_s(p) - offset
        dur = p["durationMs"]["triggerExecution"] / 1000.0
        parent = "warmup" if p["batchId"] < WARM_FILES else "drain"
        spans.add(f"trigger{p['batchId']}", start, start + dur, parent)
