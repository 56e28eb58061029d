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
* ``file://`` served in process by ``jvm/LocalFs.java``.  With no native
  libhadoop on the host, Hadoop's local filesystem forks ``chmod`` for
  every file and directory it creates, and Spark's default checkpoint
  file manager renames through FileContext, which forks ``readlink``
  twice per rename.  Each trigger of the paper's join (source, offset
  and commit logs, RocksDB changelogs, parquet sink files and their
  ``.crc`` twins) spawned about 100 processes from the driver JVM, each
  with a JVM thread reading its stderr.  ``LocalFs`` subclasses
  ``RawLocalFileSystem`` and sets modes through ``java.nio`` with
  chmod's result (modes above 0777 and a setuid/setgid/sticky file
  still go to Hadoop), behind ``fs.file.impl`` (checksummed).  With it,
  ``spark.sql.streaming.checkpointFileManagerClass`` is pinned to
  Spark's ``FileSystemBasedCheckpointFileManager``, so checkpoint logs
  and RocksDB changelogs and snapshots go through ``LocalFs`` too, whose
  rename is ``java.io.File.renameTo`` and forks nothing.  On a local
  disk both managers check that the destination is absent and then
  rename, so neither is atomic.  Names, modes and ``.crc`` files are
  unchanged, so a checkpoint moves between the two setups.  (Without
  ``LocalFs``, ``file://`` is whichever FileSystem service registers it
  last: with pyspark's jars Hive's ``ProxyLocalFileSystem``, a
  ``LocalFileSystem`` that refuses a rename onto an existing file, which
  is why the manager is pinned only together with ``LocalFs``.)
  On perfbench ``stream_join`` (local[2], 4-core VM, 4 alternating
  pairs) ``trigger_p50_ms`` fell from 648-742 to 430-481 ms and
  ``cpu_s`` from 21.2-24.1 to 13.3-14.5 s; the traced median state
  commit fell from 107-114 to 8 ms, and over a drain the driver JVM's
  reaped-child CPU after the first trigger stays under 0.05 s, where it
  was 7.1-7.6 s over 28 triggers.  A FileContext wrapper of ``LocalFs``
  (``fs.AbstractFileSystem.file.impl``, about 50 lines of Java) in place
  of the pinned manager measured the same over 6 alternating pairs
  (``trigger_p50_ms`` 500-576 against 509-522 ms).
  :func:`local_fs_classes` compiles the source once per source hash with
  the JDK's ``javac`` against Spark's ``hadoop-client-api`` jar into the
  gitignored ``jvm/classes/`` (about 1 s).  Without ``javac``, when the
  compile fails (one warning), when the caller sets ``fs.file.impl``, or
  when the driver JVM was started without the classes (by
  ``spark-submit``, say), the session keeps Hadoop's stock filesystem
  and Spark's default checkpoint manager.  The simpler alternative,
  ``-Djdk.lang.Process.launchMechanism=VFORK``, makes each fork cheaper
  but gave no gain (probe trigger p50 949 → 1014 ms).

The module also owns block lifetime — every persisted frame and every
``localCheckpoint`` block the engine creates — through one scope:

* ``hold(*blocks)`` registers persisted frames and
  :func:`checkpoint_handle` handles with the innermost open scope.  With
  no scope open it raises: an unscoped hold would leak.
* ``@scoped`` opens a scope around a function that returns a DataFrame
  (``plans.registry.register`` applies it to every query body).  When the
  call is the outermost scoped call, every block held inside it — by the
  function or by any scoped operator it called — is tied to the returned
  frame and released (non-blocking unpersist) once the caller drops that
  frame, i.e. after the caller's action.  A nested call hoists its
  blocks to the caller's scope instead, so an inner frame the caller
  composed and then dropped can never release a checkpoint the outer
  plan still reads.  A call that raises releases the blocks it held
  synchronously before the exception propagates, so a failed call
  leaves nothing in the block manager.  The tie follows the returned
  Python object, not frames derived from it: a top-level caller keeps
  the result referenced until its last action has run.  A frame
  derived from a checkpoint-backed result that was dropped first fails
  at its action with ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`` (a dropped
  persisted frame only costs a recompute).
* ``with owned() as blocks:`` opens a scope whose blocks the caller
  takes: nothing is tied or hoisted on exit, and the caller releases
  them (or hands them to the enclosing scope with ``hold``).  For early
  release after an eager build (``operators.buildcache.cached``, which
  releases a stored build's blocks and holds an over-cap build's) and
  per-iteration scratch (SCC's reach sets).  It too releases on raise.

and the one iteration loop:

* ``fixpoint`` — the checkpointed loop behind k_core, k_truss, the
  coreness h-index engine, label propagation, BFS, shortest paths, the
  SCC coloring fixpoint and both connected-components engines.  Each
  round is ONE Spark action: the convergence metric is attached with
  ``observe`` and collected by the round's eager ``localCheckpoint``
  job, not by a separate count.  Every round's checkpoint is held in
  the caller's scope as it is made (so a raising loop leaves nothing
  behind); the superseded round's is released early and leaves the
  scope, once the convergence test has seen both rounds.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import logging
import os
import shutil
import subprocess
import tempfile
import threading
import weakref
from contextlib import contextmanager
from pathlib import Path
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, Observation, SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


class _Scopes(threading.local):
    """Per-thread stack of open scopes, innermost last."""

    def __init__(self) -> None:
        self.stack: list[list] = []


_scopes = _Scopes()


def _release(jdfs) -> None:
    # Errors are swallowed: at interpreter shutdown the JVM gateway may
    # already be gone.
    for j in jdfs:
        try:
            j.unpersist(False)
        except Exception:
            pass


def hold(*blocks):
    """Register persisted frames / checkpoint handles with the innermost
    open scope; return the first, so a persist can be held where it is
    made (``e = hold(x.persist())``)."""
    stack = _scopes.stack
    if not stack:
        raise RuntimeError(
            "hold() outside a @scoped call or owned() block — the blocks "
            "would never be released"
        )
    stack[-1].extend(blocks)
    return blocks[0] if blocks else None


@contextmanager
def owned():
    """Open a scope whose blocks the caller takes (see module docstring);
    blocks held inside it are released if the body raises."""
    stack = _scopes.stack
    blocks: list = []
    stack.append(blocks)
    try:
        yield blocks
    except BaseException:
        _release([b._jdf for b in blocks])
        raise
    finally:
        stack.pop()


def scoped(fn):
    """Run ``fn`` in its own scope: the outermost call ties its blocks to
    the returned frame, a nested call hoists them to the caller's scope,
    and a raising call releases them (see module docstring).

    The finalizer holds only the JVM handles, never the result, so it
    cannot keep the result alive."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with owned() as blocks:
            result = fn(*args, **kwargs)
        stack = _scopes.stack
        if stack:
            stack[-1].extend(blocks)
        elif blocks:
            weakref.finalize(result, _release, [b._jdf for b in blocks])
        return result

    return wrapper


class _RddHandle:
    """Unpersist-able handle on the JVM RDD backing a
    ``localCheckpoint()``-ed DataFrame.

    ``localCheckpoint`` registers the frame's internal RDD in the block
    manager; without an explicit release the blocks survive until the
    ContextCleaner's GC-driven weak refs fire (minutes later under the
    5-min periodicGC interval — the round-8 full-suite flake).  The
    handle exposes the same ``unpersist``/``._jdf`` duck-type as a
    persisted DataFrame, so :func:`hold` takes either.

    SAFETY: a localCheckpoint RDD's lineage is truncated at
    materialization — unpersisting it before every consumer has run
    makes the data UNRECOVERABLE (job failure, not recompute).  Only
    release a handle when the frame's last consumer has materialized.
    """

    def __init__(self, jrdd) -> None:
        self._jdf = jrdd  # named _jdf so scopes treat it like a frame

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
) -> DataFrame:
    """Run a checkpointed iteration loop; return the final round's frame.

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
    Otherwise reaching ``max_iter`` without converging raises
    ``RuntimeError(error)``.  Every round's checkpoint is held in the
    caller's scope when it is made, and a superseded one leaves the
    scope when it is released, so a raising loop leaves no block behind
    (the scope releases the live ones) and the returned frame's
    checkpoint lives as long as the caller's result.
    """
    cur, handle = _checkpoint(state, metric)
    hold(handle)
    scope = _scopes.stack[-1]
    for rnd in range(1, max_iter + 1):
        prev, superseded = cur, handle
        cur, handle = _checkpoint(step(prev.frame, rnd), metric)
        hold(handle)
        done = converged is not None and converged(prev, cur)
        # Forget it too: a release is a block-manager round trip
        # (~1.4 ms, 20x a plain py4j call), even for a released block.
        scope.remove(superseded)
        superseded.unpersist(False)
        if done:
            break
    else:
        if error is not None:
            raise RuntimeError(error)
    return cur.frame


def _default_driver_memory() -> str:
    """Half the host's physical memory, capped at 24g.  In local mode the
    driver heap holds every executor's working set, and a fixed 24g on a
    smaller host lets the JVM grow until the kernel kills it."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(24 << 10, phys >> 21)}m"


_JVM_DIR = Path(__file__).resolve().with_name("jvm")
_LOCAL_FS = "stedi.fs.LocalFs"
_CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
)


def _javac() -> str | None:
    home = os.environ.get("JAVA_HOME")
    found = home and shutil.which("javac", path=os.path.join(home, "bin"))
    return found or shutil.which("javac")


@functools.lru_cache(maxsize=None)
def local_fs_classes() -> str | None:
    """The class directory of ``jvm/LocalFs.java`` (module docstring),
    compiled on first use per source; ``None``, after one warning, when
    no ``javac`` is found or the compile fails."""
    from pyspark.find_spark_home import _find_spark_home

    src = _JVM_DIR / "LocalFs.java"
    jars = sorted(glob.glob(os.path.join(_find_spark_home(), "jars", "hadoop-client-api-*.jar")))
    javac = _javac()
    try:
        api = [os.path.basename(j) for j in jars]
        out = _JVM_DIR / "classes" / hashlib.sha256(
            src.read_bytes() + repr(api).encode()
        ).hexdigest()[:16]
        if out.is_dir():
            return str(out)
        if javac is None or not jars:
            raise RuntimeError("no javac" if jars else "no hadoop-client-api jar")
        out.parent.mkdir(parents=True, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix=".tmp-", dir=out.parent)
        try:
            # A one-file compile is start-up bound: C1 only and the serial
            # GC take it from ~2 s to ~1.2 s.
            done = subprocess.run(
                [javac, "-J-XX:TieredStopAtLevel=1", "-J-XX:+UseSerialGC",
                 "--release", "17", "-nowarn", "-d", tmp, "-cp", jars[-1], str(src)],
                capture_output=True, text=True, timeout=300,
            )
            if done.returncode:
                raise RuntimeError(done.stderr.strip()[-2000:])
            try:
                os.replace(tmp, out)
            except OSError:
                if not out.is_dir():  # else a concurrent session won
                    raise
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    except (OSError, RuntimeError, subprocess.SubprocessError) as exc:
        logging.getLogger(__name__).warning(
            "keeping Hadoop's stock file:// filesystem (forks chmod/readlink "
            "per local file): cannot compile %s: %s", src, exc,
        )
        return None
    return str(out)


def _with_local_fs(conf: dict[str, str]) -> dict[str, str]:
    """``conf`` plus the confs that put :data:`_LOCAL_FS` behind
    ``file://``: its classes appended to the driver class path, the
    filesystem key and the checkpoint manager pin.  ``conf`` unchanged
    when it sets ``fs.file.impl`` itself, when there are no classes, or
    when the driver JVM is already up without them on its class path.
    The class path is fixed when the JVM launches, and Hadoop would fail
    every ``file://`` lookup with ``ClassNotFoundException``.  The JVM is
    up when this process started it (``SparkContext._jvm``), or when a
    launcher such as ``spark-submit`` started it before Python and hands
    it over through ``PYSPARK_GATEWAY_PORT``; such a JVM was launched
    without the classes."""
    from pyspark import SparkContext

    fs = "spark.hadoop.fs.file.impl"
    classes = None if fs in conf else local_fs_classes()
    if classes is None:
        return conf
    if SparkContext._jvm is not None:
        running = SparkContext._jvm.System.getProperty("java.class.path")
        if classes not in running.split(os.pathsep):
            return conf
    elif "PYSPARK_GATEWAY_PORT" in os.environ:
        return conf
    cp = "spark.driver.extraClassPath"
    return {
        fs: _LOCAL_FS,
        "spark.sql.streaming.checkpointFileManagerClass": _CHECKPOINT_FILE_MANAGER,
        **conf,
        cp: os.pathsep.join(filter(None, (conf.get(cp), classes))),
    }


def get_spark(
    app_name: str = "stedi-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession tuned for this machine.

    In ``local[N]`` mode there is a single JVM; ``spark.driver.memory`` is
    the only memory knob: ``$SPARK_DRIVER_MEMORY`` when set, else half
    the host's physical memory capped at 24g.  On a real cluster the same
    configs apply, with ``master`` supplied by spark-submit instead.
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
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
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
    for k, v in _with_local_fs(extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window.WindowExec",
        jvm.org.apache.logging.log4j.Level.ERROR,
    )
    return spark
