"""SparkSession factory with scale-sane defaults.

The reference leaves every knob at its default (no ``.config`` call in any
of its scripts — SURVEY.md §4 "Shuffle partitioning"); at 100 TB that is
wrong in both directions.  This factory pins the settings that matter:

* AQE on (runtime coalescing, skew-join splitting, dynamic join strategy);
* shuffle partitions sized to the local core count for tests (on a real
  cluster, callers pass ``shuffle_partitions`` ≈ 2-3× total executor cores);
* Arrow enabled so the few sanctioned Pandas-UDF operators batch-transfer;
* UTC session timezone so results compare bit-for-bit with the DuckDB
  oracle (DuckDB timestamps are UTC-naive);
* stateful streaming on the RocksDB state store, stream-stream join state
  format 3 and changelog checkpointing.  Spark's default keeps four
  HDFS-backed stores per shuffle partition for a join and writes a delta
  file for each on every trigger; format 3 folds the four into one RocksDB
  store per partition (virtual column families) and a commit appends one
  changelog file per partition.  On the paper's unbounded join (traced
  perfbench ``stream_join``, local[2] on a 4-core Xeon VM, per-trigger
  medians) the state commit fell from 294 to 87 ms and ``addBatch`` from
  532 to 390 ms.  RocksDB alone was slower than the default (619 ms
  commit) and RocksDB with format 3 but no changelog committed in 169 ms,
  so the three go together.  RocksDB is also the provider
  ``transformWithStateInPandas`` requires.  A query restarted from an existing checkpoint
  keeps the provider and join format recorded in its offset log;
* Spark's ``WindowExec`` "No Partition Defined" warning silenced (ERROR
  level for that logger only): the engine's unpartitioned windows are
  bounded by design, and the warning was over half of a bench's stderr.

The module also holds the block-lifetime helpers the operators share
(``scope_caches``, ``checkpoint_handle``) and the one iteration loop:

* ``fixpoint`` — the checkpointed loop behind k_core, k_truss, the
  coreness h-index engine, label propagation, BFS, shortest paths, the
  SCC coloring fixpoint and both connected-components engines.  Each
  round is ONE Spark action: the convergence metric is attached with
  ``observe`` and collected by the round's eager ``localCheckpoint``
  job, not by a separate count.  The superseded round's checkpoint is
  released only after the convergence test has seen both rounds, and
  a loop that runs out of ``max_iter`` releases its live checkpoint
  before it raises, so no block outlives a failed call.
"""

from __future__ import annotations

import os
import weakref
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, Observation, SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def scope_caches(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Tie the lifetime of ``cached`` (persisted) frames to ``result``.

    Query functions return plans lazily — the caller runs the action — so
    an in-function ``unpersist()`` would evict the cache before it is ever
    hit.  Instead, register a ``weakref.finalize`` on the *result* frame:
    when the caller drops its reference (i.e. after the action completes,
    in every registry/bench/driver call pattern), each cached frame is
    unpersisted (non-blocking) so a long-lived session does not accumulate
    blocks in the block manager.

    The finalizer holds only the JVM ``Dataset`` handles, never the Python
    ``result`` object, so it cannot keep the result alive.  Errors are
    swallowed: at interpreter shutdown the JVM gateway may already be gone.

    CONTRACT SHARPENING (checkpoint handles on this seam): ``cached`` may
    also be :class:`_RddHandle` objects from :func:`checkpoint_handle`.
    For a PERSISTED frame, releasing early merely costs a recompute; for
    a localCheckpoint handle the lineage was truncated at
    materialization, so any plan still deriving from the checkpointed
    frame fails hard ("checkpoint block not found") instead of
    recomputing.  Callers passing checkpoint handles must therefore
    ensure the returned ``result`` is the LAST plan that reads the
    checkpoint — do not hand out other derived frames that outlive it
    (see graph_bfs_hops for the caches= threading pattern).
    """
    jdfs = [c._jdf for c in cached]

    def _release(jdfs=jdfs):
        for j in jdfs:
            try:
                j.unpersist(False)
            except Exception:
                pass

    weakref.finalize(result, _release)
    return result


class _RddHandle:
    """Unpersist-able handle on the JVM RDD backing a
    ``localCheckpoint()``-ed DataFrame.

    ``localCheckpoint`` registers the frame's internal RDD in the block
    manager; without an explicit release the blocks survive until the
    ContextCleaner's GC-driven weak refs fire (minutes later under the
    5-min periodicGC interval — the round-8 full-suite flake).  The
    handle exposes the same ``unpersist``/``._jdf`` duck-type as a
    persisted DataFrame so it rides the existing ``caches=`` seam and
    :func:`scope_caches` unchanged.

    SAFETY: a localCheckpoint RDD's lineage is truncated at
    materialization — unpersisting it before every consumer has run
    makes the data UNRECOVERABLE (job failure, not recompute).  Only
    release a handle when the frame's last consumer has materialized.
    """

    def __init__(self, jrdd) -> None:
        self._jdf = jrdd  # named _jdf so scope_caches treats it uniformly

    def unpersist(self, blocking: bool = False) -> None:
        try:
            self._jdf.unpersist(blocking)
        except Exception as exc:  # shutdown-safe, but never SILENT
            # A swallowed release degrades back to ContextCleaner (GC)
            # timing — the round-8 flake.  Warn so the degradation is
            # visible; at interpreter shutdown the gateway may be gone
            # and the log call itself may fail, hence the inner guard.
            try:
                import logging

                logging.getLogger(__name__).warning(
                    "synchronous checkpoint-block release failed (%s); "
                    "blocks will be freed by ContextCleaner GC timing "
                    "instead",
                    exc,
                )
            except Exception:
                pass


def checkpoint_handle(df: DataFrame) -> _RddHandle:
    """Handle on the persisted RDD behind ``df = x.localCheckpoint(...)``.

    The checkpointed Dataset's analyzed plan is a ``LogicalRDD`` whose
    ``rdd()`` is exactly the RDD ``localCheckpoint`` registered in the
    block manager; ``handle.unpersist(False)`` drops its blocks
    synchronously — no JVM GC / ContextCleaner involvement.

    This reaches through py4j internals (``queryExecution().analyzed()``),
    so a Spark-version plan-shape change could silently hand back an RDD
    that is NOT the checkpoint's (a no-op release).  Guard: raise at
    handle creation unless the analyzed plan is the ``LogicalRDD`` a
    checkpointed Dataset is defined to have — fail loud at the call
    site, not silently at block-release time.
    """
    plan = df._jdf.queryExecution().analyzed()
    cls = plan.getClass().getSimpleName()
    if cls != "LogicalRDD":
        raise RuntimeError(
            f"checkpoint_handle expects a localCheckpoint()-ed DataFrame "
            f"(analyzed plan LogicalRDD); got {cls} — the synchronous "
            f"block release would be a silent no-op"
        )
    return _RddHandle(plan.rdd())


class Round(NamedTuple):
    """One materialized :func:`fixpoint` round: the checkpointed frame
    and the metric row its checkpoint job observed (``None`` when the
    loop declares no metric)."""

    frame: DataFrame
    metric: dict | None


def _checkpoint(df: DataFrame, metric: list) -> tuple[Round, _RddHandle]:
    obs = Observation()
    if metric:
        df = df.observe(obs, *metric)
    df = df.localCheckpoint(eager=True)
    return Round(df, obs.get if metric else None), checkpoint_handle(df)


def unchanged(prev: Round, cur: Round) -> bool:
    """The usual :func:`fixpoint` test: the observed metric row did not
    move (sound for loops whose metric is strictly monotone until the
    fixpoint, e.g. the edge count of a peel)."""
    return prev.metric == cur.metric


def fixpoint(
    step: Callable[[DataFrame, int], DataFrame],
    state: DataFrame,
    *,
    metric: list,
    converged: Callable[[Round, Round], bool] | None,
    max_iter: int,
    error: str | None,
) -> tuple[DataFrame, _RddHandle]:
    """Run a checkpointed iteration loop; return ``(frame, handle)``.

    ``state`` is materialized first (round 0).  Round ``r`` = 1, 2, …
    builds ``step(frame, r)`` from the previous round's frame, attaches
    ``metric`` (aggregate columns) with ``observe`` and runs
    ``localCheckpoint(eager=True)`` — the round's only Spark action, so
    the convergence metric rides the checkpoint job instead of a
    separate probe.  Then ``converged(prev, cur)`` sees both rounds'
    :class:`Round` (frame + metric row), and only after it returns is
    the superseded round's checkpoint released, so a convergence test
    may still read the previous frame (``cc_star``'s exact check).

    ``converged=None`` never converges; with ``error=None`` the loop
    then runs exactly ``max_iter`` rounds and returns the last one.
    Otherwise reaching ``max_iter`` without converging releases the
    live checkpoint and raises ``RuntimeError(error)`` — no block
    outlives a failed call.  The returned handle backs the returned
    frame; callers thread it through ``caches=`` / :func:`scope_caches`.
    """
    cur, handle = _checkpoint(state, metric)
    live = [handle]
    try:
        for rnd in range(1, max_iter + 1):
            prev = cur
            cur, handle = _checkpoint(step(prev.frame, rnd), metric)
            live.append(handle)
            done = converged is not None and converged(prev, cur)
            live.pop(0).unpersist(False)
            if done:
                return cur.frame, handle
        if error is None:
            return cur.frame, handle
        raise RuntimeError(error)
    except BaseException:
        for h in live:
            h.unpersist(False)
        raise


def get_spark(
    app_name: str = "stedi-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession tuned for this machine.

    In ``local[N]`` mode there is a single JVM; ``spark.driver.memory`` is
    the only memory knob.  On a real cluster the same configs apply, with
    ``master`` supplied by spark-submit instead.
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        # ContextCleaner triggers System.gc(); make that a concurrent G1
        # cycle, not a stop-the-world full GC — on a multi-GB heap the
        # full-GC pauses otherwise land on whatever query is running.
        .config("spark.driver.extraJavaOptions", "-XX:+ExplicitGCInvokesConcurrent")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # testdata events.ts is parquet TIMESTAMP(NANOS) — Spark has no nanos
        # type; read as long and convert in sources.files.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # ContextCleaner cleanup rides on GC.  Measured tradeoff on this
        # box: with the default 30min interval a multi-query session
        # degrades catastrophically (trivial queries → 80-160 s late in a
        # run); at 2-5min the cleanup keeps pace, costing one bounded GC
        # pause per interval (mitigated by ExplicitGCInvokesConcurrent).
        .config("spark.cleaner.periodicGC.interval", "5min")
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        .config("spark.sql.streaming.join.stateFormatVersion", "3")
        .config(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window.WindowExec",
        jvm.org.apache.logging.log4j.Level.ERROR,
    )
    return spark
