"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload stream_join --seed 1 --seconds 24 --trace 0

Run from the repository root.  The run generates its inputs from the seed
under ``.perfbench_work/``, starts a ``local[2]`` Spark session through
the engine's ``session.get_spark`` with a pinned driver heap, runs the
workload (warm-up, timed part, output checks) and prints, as the last
line of stdout, ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones.  Every run also writes a record (inputs, host load,
all metrics, spans) to
``.perfbench_work/runs/<workload>-seed<seed>-trace<t>.json``.

The exit code is 0 only when every query, trigger and output check
succeeded; 2 when the engine package is not there to benchmark.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

PERF_T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "stedi_human_balance_redis_kafka_spark_streaming_spark"
sys.path.insert(0, HERE)

import probes  # noqa: E402

# Rows of the generated ``customer`` table per workload; the other tables
# follow in the test data's proportions (1500 is the sf0.01 shape).
CUSTOMERS = {"stream_join": 1500, "batch": 150}
SMOKE_CUSTOMERS = 150
TASK_THREADS = 2
DRIVER_MEMORY = "2g"
END_TO_END_UNITS = {
    "setup_s": "s", "wall_s": "s", "cpu_s": "s", "rows_per_s": "1/s",
    "trigger_p50_ms": "ms", "trigger_tail_ms": "ms",
}


def _args(argv: list[str]) -> argparse.Namespace:
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="sf0.001-sized inputs, for a quick check of the harness")
    return ap.parse_args(argv)


def _session(work: str, trace: bool):
    """A local[2] session whose scratch files all stay under ``work``."""
    for d in ("tmp", "spark-local", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        " -XX:-UseDynamicNumberOfCompilerThreads"  # for probes.jit_cpu_s
    )
    from stedi_human_balance_redis_kafka_spark_streaming_spark.session import get_spark

    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": os.path.join(work, "events"),
        })
    return get_spark(
        app_name="perfbench", cpus=TASK_THREADS,
        shuffle_partitions=TASK_THREADS, extra_conf=conf,
    )


def _end_processes(spark) -> None:
    """Stop the session, end the driver JVM and every other process this
    run started, and wait until each has ended.

    ``SparkSession.stop`` leaves the JVM running; it exits by itself only
    once it reads end-of-file on its stdin after Python has exited, so
    without this it would outlive the run.
    """
    from pyspark import SparkContext

    started = [p for p in probes.process_tree(os.getpid()) if p != os.getpid()]
    try:
        if spark is not None:
            spark.stop()
    finally:
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            with contextlib.suppress(Exception):
                gateway.shutdown()
        if proc is not None:
            with contextlib.suppress(OSError):
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        # Python workers and anything else under the JVM.
        for sig, patience in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 30.0)):
            left = [p for p in started if probes.running(p)]
            for pid in left:
                with contextlib.suppress(OSError):
                    os.kill(pid, sig)
            deadline = time.monotonic() + patience
            while any(probes.running(p) for p in left) and time.monotonic() < deadline:
                time.sleep(0.05)
        with contextlib.suppress(ChildProcessError):
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass


def main(argv: list[str]) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ package at {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    import datagen
    import workloads

    t_proc = PERF_T0 - probes.process_age_s()  # process start, perf clock
    spans = probes.Spans(t_proc)
    load_before, steal_before = probes.loadavg_1m(), probes.steal_s()
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(ROOT, ".perfbench_work", f"run-{tag}-{os.getpid()}")
    data_dir = os.path.join(work, "data")
    customers = SMOKE_CUSTOMERS if args.smoke else CUSTOMERS[args.workload]

    t = time.perf_counter()
    with spans.span("datagen"):
        counts = datagen.write_tables(args.seed, customers, data_dir)
    datagen_s = time.perf_counter() - t

    spark = None
    try:
        with spans.span("session"):
            spark = _session(work, bool(args.trace))
        run = workloads.Run(spark, data_dir, work, args.seed, args.seconds,
                            bool(args.trace), spans, counts, customers)
        if args.workload == workloads.STREAM_WORKLOAD:
            res = workloads.run_stream(run)
        else:
            res = workloads.run_batch(run, workloads.BATCH_QUERIES)
        res.end_to_end["setup_s"] = (
            res.timed_start - t_proc - datagen_s - res.staging_s
        )
        event_logs = os.path.join(work, "events")
        groups = set(res.record.pop("event_log_groups", []))
    finally:
        _end_processes(spark)

    from stedi_human_balance_redis_kafka_spark_streaming_spark.sources.files import (
        table_fingerprint,
    )

    if args.trace:
        per_layer = dict.fromkeys(workloads.per_layer_units(), 0)
        per_layer.update(res.per_layer)
        if groups:
            per_layer.update(probes.event_log_totals(event_logs, groups))
        units = workloads.per_layer_units()
        metrics = {k: {"value": v, "unit": units[k]} for k, v in per_layer.items()}
    else:
        metrics = {k: {"value": res.end_to_end[k], "unit": unit}
                   for k, unit in END_TO_END_UNITS.items()}

    failed = len(res.failures)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "smoke": args.smoke,
        "task_threads": TASK_THREADS, "driver_memory": DRIVER_MEMORY,
        "load_1m_before": load_before, "load_1m_after": probes.loadavg_1m(),
        "steal_s": probes.steal_s() - steal_before,
        "table_rows": counts,
        "table_fingerprints": {t: table_fingerprint(data_dir, t) for t in counts},
        "end_to_end": res.end_to_end, "per_layer": res.per_layer,
        "attempted": res.attempted, "failures": res.failures,
        "fail_ratio": failed / max(1, res.attempted),
        **res.record,
        "spans": spans.items,
    }
    runs_dir = os.path.join(ROOT, ".perfbench_work", "runs")
    os.makedirs(runs_dir, exist_ok=True)
    with open(os.path.join(runs_dir, f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)

    for why in res.failures:
        print(f"FAILED {why}", file=sys.stderr)
    print(f"trigger_tail_ms is p{res.record['tail_percentile']:.1f}"
          f" of {res.record['tail_samples']} samples")
    print(f"fail_ratio {record['fail_ratio']:.4f} ({failed} of {res.attempted})")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": max(1, res.attempted),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
