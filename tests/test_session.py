"""Session defaults that change behaviour rather than plans."""

import os
import stat
import sys
from pathlib import Path

import pytest
from pyspark import SparkContext
from pyspark.errors import ArithmeticException
from pyspark.errors.utils import is_debugging_enabled
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from real_time_database_monitoring_system_spark import session

_LOCAL_FS_CONFS = ("spark.driver.extraClassPath", "spark.hadoop.fs.file.impl")


def test_origin_capture_off(spark):
    # every Column function would otherwise record its Python call
    # site over py4j (about ten round trips per call)
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False


def test_runtime_error_keeps_its_class_without_origin_capture(spark):
    df = spark.range(1).select((F.col("id") / F.lit(0)).alias("q"))
    with pytest.raises(ArithmeticException) as err:
        df.collect()
    assert err.value.getCondition() == "DIVIDE_BY_ZERO"


def test_local_checkpoints_rename_through_filesystem(spark, tmp_path):
    # the FileContext rename starts readlink processes on every call without
    # libhadoop; a Spark upgrade that renames the conf or the class must
    # fail here rather than quietly start those processes again
    jvm = spark._jvm
    checkpointing = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    manager = checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(f"file:{tmp_path}"),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert manager.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"


def test_local_checkpoints_keep_their_checksums(spark, tmp_path):
    # a stateful stream on an explicit local checkpoint still writes
    # Spark's per-file <v>.delta.crc checksums and Hadoop's .<file>.crc
    # companions for the logs and the state deltas
    src, ckpt = str(tmp_path / "src"), tmp_path / "ckpt"
    spark.range(100).select((F.col("id") % 3).alias("k"), "id").repartition(2).write.parquet(src)
    q = (
        spark.readStream.schema("k bigint, id bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .groupBy("k")
        .agg(F.sum("id").alias("s"))
        .writeStream.format("memory")
        .queryName("ckpt_checksums")
        .outputMode("complete")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r["k"]: r["s"] for r in spark.sql("SELECT * FROM ckpt_checksums").collect()}
    assert got == {k: sum(range(k, 100, 3)) for k in range(3)}

    for log in ("offsets", "commits"):
        names = {p.name for p in (ckpt / log).iterdir()}
        assert {"0", "1", ".0.crc", ".1.crc"} <= names, (log, names)
    parts = [p for p in (ckpt / "state" / "0").iterdir() if p.name != "_metadata"]
    assert parts
    for part in parts:
        names = {p.name for p in part.iterdir()}
        deltas = {n for n in names if n.endswith(".delta")}
        assert {"1.delta", "2.delta"} <= deltas, (part, names)
        for d in deltas:
            assert {f"{d}.crc", f".{d}.crc"} <= names, (part, d, names)


def _local_fs(spark):
    jvm = spark._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    return jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)


def test_local_session_sets_modes_without_chmod_processes(spark):
    # Hadoop's own local filesystem starts a chmod process per created
    # file without libhadoop; a session that lost the conf or the jar
    # would serve file: paths with it again
    fs = _local_fs(spark)
    assert fs.getClass().getName() == session.LOCAL_FS_CLASS
    assert fs.getRaw().getClass().getName() == session.LOCAL_FS_CLASS + "$Raw"


def _modes(root):
    """(file modes, directory modes) of everything below ``root``."""
    files, dirs = set(), set()
    for base, ds, fs in os.walk(root):
        dirs |= {stat.S_IMODE(os.stat(os.path.join(base, d)).st_mode) for d in ds}
        files |= {stat.S_IMODE(os.stat(os.path.join(base, f)).st_mode) for f in fs}
    return files, dirs


def test_created_files_keep_the_fork_path_modes(spark, tmp_path):
    # Hadoop's stock local filesystem (modes set by a chmod process)
    # and the session's filesystem give a stateful stream's checkpoint
    # and a parquet write the same modes
    jvm = spark._jvm
    stock = jvm.org.apache.hadoop.fs.LocalFileSystem()
    stock.initialize(jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration())
    stock.create(jvm.org.apache.hadoop.fs.Path(f"file:{tmp_path}/fork/sub/f")).close()
    fork = _modes(tmp_path / "fork")
    assert fork == ({0o644}, {0o755})

    nio = tmp_path / "nio"
    nio.mkdir()
    test_local_checkpoints_keep_their_checksums(spark, nio)
    spark.table("ckpt_checksums").write.parquet(str(nio / "out"))
    assert any(p.name.endswith(".parquet") for p in (nio / "out").iterdir())
    assert _modes(nio) == fork


def test_sticky_bit_takes_hadoops_own_path(spark, tmp_path):
    # java.nio cannot set the sticky bit, so such a mode goes through
    # Hadoop's chmod; plain modes are set through java.nio
    jvm = spark._jvm
    fs, path = _local_fs(spark), jvm.org.apache.hadoop.fs.Path(f"file:{tmp_path}/d")
    assert fs.mkdirs(path)
    for mode in (0o1755, 0o750, 0o1700):
        fs.setPermission(path, jvm.org.apache.hadoop.fs.permission.FsPermission(f"{mode:o}"))
        assert stat.S_IMODE(os.stat(tmp_path / "d").st_mode) == mode


def test_only_launched_local_sessions_set_the_local_fs_confs(monkeypatch):
    # the jar must be on the class path when the JVM starts, and a
    # session the engine did not launch would copy fs.file.impl into
    # its Hadoop confs and fail to load the class on its next file read
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda b: dict(b._options))
    assert not set(_LOCAL_FS_CONFS) & set(session.get_spark(master="local[2]"))

    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    opts = session.get_spark(master="local[2]")
    assert [opts.get(k) for k in _LOCAL_FS_CONFS] == [session.LOCAL_FS_JAR, session.LOCAL_FS_CLASS]
    assert os.path.isfile(session.LOCAL_FS_JAR)
    for master in (None, "spark://host:7077", "yarn"):
        assert not set(_LOCAL_FS_CONFS) & set(session.get_spark(master=master)), master


def test_jar_matches_its_source(tmp_path):
    # the committed jar holds exactly what its Java source compiles to
    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    import build_jvm

    built = build_jvm.compile_classes(tmp_path)
    assert built and build_jvm.jar_classes() == built
