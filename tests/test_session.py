"""Session factory defaults that are not visible in query results, and
the block scope (hold / @scoped / owned) every operator relies on."""

from __future__ import annotations

import ast
import gc
import os
from pathlib import Path

import pytest
from py4j.protocol import Py4JJavaError
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


needs_javac = pytest.mark.skipif(
    session._javac() is None,
    reason="no javac: the session keeps Hadoop's stock file:// filesystem",
)


def _file_systems(spark):
    """(the session's file:// FileSystem, Hadoop's stock LocalFileSystem),
    both new instances the caller closes."""
    jvm = spark.sparkContext._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    stock_conf = jvm.org.apache.hadoop.conf.Configuration(conf)
    stock_conf.set("fs.file.impl", "org.apache.hadoop.fs.LocalFileSystem")
    uri = jvm.java.net.URI("file:///")
    new_instance = jvm.org.apache.hadoop.fs.FileSystem.newInstance
    return new_instance(uri, conf), new_instance(uri, stock_conf)


@needs_javac
def test_file_scheme_resolves_to_the_in_process_local_fs(spark):
    jvm = spark.sparkContext._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    uri = jvm.java.net.URI("file:///")
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf)
    assert fs.getClass().getName() == "stedi.fs.LocalFs"
    assert fs.getRaw().getClass().getName() == "stedi.fs.LocalFs$Raw"
    checkpoint = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    manager = checkpoint.CheckpointFileManager.create(jvm.org.apache.hadoop.fs.Path("file:///"), conf)
    assert manager.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"


def _jvm_dir(tmp_path, source: str) -> Path:
    (tmp_path / "LocalFs.java").write_text(source)
    return tmp_path


def test_local_fs_without_javac_keeps_the_stock_filesystem(monkeypatch, tmp_path, caplog):
    """No javac: one warning, no classes, and the session confs are the
    caller's alone."""
    source = (Path(session.__file__).parent / "jvm" / "LocalFs.java").read_text()
    monkeypatch.setattr(session, "_JVM_DIR", _jvm_dir(tmp_path, source))
    monkeypatch.setattr(session, "_javac", lambda: None)
    with caplog.at_level("WARNING", logger=session.__name__):
        assert session.local_fs_classes.__wrapped__() is None
    assert [r.getMessage().endswith("no javac") for r in caplog.records] == [True]
    assert not (tmp_path / "classes").exists()
    monkeypatch.setattr(session, "local_fs_classes", lambda: None)
    conf = {"spark.driver.extraClassPath": "extra.jar"}
    assert session._with_local_fs(conf) == conf


def test_local_fs_is_left_out_of_a_jvm_launched_without_it(monkeypatch):
    """A driver JVM already up keeps its launch class path: one a
    launcher such as spark-submit started before Python (handed over
    through PYSPARK_GATEWAY_PORT) or one running without the classes
    gets the caller's conf alone, as does a caller that names its own
    fs.file.impl; only a JVM still to be launched, or one launched with
    the classes, gets the filesystem confs."""
    from pyspark import SparkContext

    class_path = ["spark.jar"]

    class Jvm:
        class System:
            @staticmethod
            def getProperty(key):
                return os.pathsep.join(class_path)

    classes = "/checkout/jvm/classes/0123456789abcdef"
    monkeypatch.setattr(session, "local_fs_classes", lambda: classes)
    conf = {"spark.driver.extraClassPath": "extra.jar"}
    monkeypatch.setattr(SparkContext, "_jvm", None)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    launched = session._with_local_fs(conf)
    assert launched["spark.hadoop.fs.file.impl"] == "stedi.fs.LocalFs"
    manager = launched["spark.sql.streaming.checkpointFileManagerClass"]
    assert manager.endswith(".FileSystemBasedCheckpointFileManager")
    assert launched["spark.driver.extraClassPath"] == os.pathsep.join(("extra.jar", classes))

    own = {"spark.hadoop.fs.file.impl": "org.apache.hadoop.fs.LocalFileSystem"}
    assert session._with_local_fs(own) == own

    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "40000")
    assert session._with_local_fs(conf) == conf

    monkeypatch.setattr(SparkContext, "_jvm", Jvm)
    assert session._with_local_fs(conf) == conf
    class_path.append(classes)
    assert session._with_local_fs(conf) == launched


@needs_javac
def test_local_fs_compile_failure_warns_and_leaves_nothing(monkeypatch, tmp_path, caplog):
    monkeypatch.setattr(session, "_JVM_DIR", _jvm_dir(tmp_path, "class Broken {"))
    with caplog.at_level("WARNING", logger=session.__name__):
        assert session.local_fs_classes.__wrapped__() is None
    assert len(caplog.records) == 1 and "LocalFs.java" in caplog.records[0].getMessage()
    assert list((tmp_path / "classes").iterdir()) == []


def _modes(root: Path) -> dict[str, int]:
    return {
        str(p.relative_to(root)): p.stat().st_mode & 0o7777
        for p in sorted(root.rglob("*"))
    }


@needs_javac
def test_local_fs_sets_the_modes_chmod_sets(spark, tmp_path):
    """Files and directories made with explicit modes (and the files'
    .crc twins) get the POSIX modes the stock filesystem's chmod gives
    them, under a plain parent and under a setgid one, whose bit chmod
    keeps on new directories."""
    jvm = spark.sparkContext._jvm
    fsp = jvm.org.apache.hadoop.fs
    ours, stock = _file_systems(spark)
    try:
        for name, fs in (("ours", ours), ("stock", stock)):
            for parent_mode in (0o755, 0o2775):
                base = tmp_path / name / f"{parent_mode:o}"
                base.mkdir(parents=True)
                base.chmod(parent_mode)
                for mode in (0o600, 0o640, 0o750):
                    perm = fsp.permission.FsPermission(mode)
                    path = fsp.Path(str(base / f"f{mode:o}"))
                    fs.create(path, perm, True, 4096, 1, 1 << 27, None).close()
                    assert fs.mkdirs(fsp.Path(str(base / f"d{mode:o}" / "sub")), perm)
    finally:
        ours.close()
        stock.close()
    got, want = _modes(tmp_path / "ours"), _modes(tmp_path / "stock")
    assert got == want
    assert want["755/f640"] == 0o640 and want["755/d750/sub"] == 0o750
    assert want["2775/d750/sub"] == 0o2750 and "755/.f600.crc" in want


@needs_javac
def test_local_fs_file_reads_back_through_stock_with_checksums(spark, tmp_path):
    """A file the session's filesystem writes reads back through the
    stock one with its .crc checked, which a flipped byte then fails."""
    jvm = spark.sparkContext._jvm
    target = jvm.org.apache.hadoop.fs.Path(str(tmp_path / "data.bin"))
    payload = os.urandom(100_000)
    ours, stock = _file_systems(spark)

    def read_back():
        inp = stock.open(target)
        try:
            return bytes(jvm.org.apache.hadoop.io.IOUtils.readFullyToByteArray(inp))
        finally:
            inp.close()

    try:
        out = ours.create(target)
        out.write(bytearray(payload))
        out.close()
        stock.setVerifyChecksum(True)
        assert read_back() == payload
        with open(tmp_path / "data.bin", "r+b") as f:
            f.seek(5000)
            f.write(bytes([payload[5000] ^ 1]))
        with pytest.raises(Py4JJavaError, match="ChecksumException"):
            read_back()
    finally:
        ours.close()
        stock.close()


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
