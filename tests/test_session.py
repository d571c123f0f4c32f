"""Session defaults that change behaviour rather than plans."""

import pytest
from pyspark.errors import ArithmeticException
from pyspark.errors.utils import is_debugging_enabled
from pyspark.sql import functions as F


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
