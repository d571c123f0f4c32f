"""SparkSession factory with scale-oriented defaults.

The engine is designed for a multi-executor cluster reading ~100 TB;
tests run on ``local[N]``. Defaults chosen so the same code path works
in both regimes:

- AQE on (runtime join selection, skew-join splitting, partition
  coalescing) — replaces hand-tuned shuffle partition counts at scale.
- Session timezone pinned to UTC and parquet NTZ inference off so
  timestamp arithmetic is identical across engines (the DuckDB oracle
  evaluates naive timestamps).
- Arrow enabled for the few pandas-UDF paths (multimodal decode).
- PySpark's per-call origin capture off. With it on, every Column
  function records its Python call site over py4j (about ten round
  trips per call: building one pass of perfbench's interactive_mix
  took 3675 py4j commands with it on, 1435 with it off). Runtime
  errors keep their error class and message; only their DataFrame
  context block changes, from the Python function and ``file:line``
  that built the failing expression (``"__truediv__" was called from
  job.py:7``) to the JVM method py4j reached (``"divide" was called
  from ...NativeMethodAccessorImpl.invoke0(Native Method)``).
- Local sessions write streaming checkpoints through Spark's
  ``FileSystemBasedCheckpointFileManager``. Every micro-batch writes an
  offset log entry, the state deltas and a commit entry, each as a
  temporary file renamed into place. Spark's default manager renames
  through Hadoop's ``FileContext``, and without libhadoop's native
  code the local ``FileContext`` rename starts ``readlink`` processes
  on every call: one perfbench stream_replay replay (rollup plus alerts,
  6 micro-batches) started 368 ``readlink`` processes with the default
  manager and 0 with this one, and its median micro-batch fell from
  0.67 s to 0.51 s on a 4-core host. This manager renames with a plain
  ``rename(2)``, which on a local disk is atomic and replaces the
  target in one step. It writes the same files, Spark's per-file
  ``.delta.crc`` checksums and Hadoop's ``.crc`` companions included.
  Cluster sessions keep Spark's default: on HDFS only the
  ``FileContext`` rename replaces a file atomically, which the state
  store relies on when a failed batch is run again.
- Local sessions that launch their own JVM serve ``file:`` paths with
  ``jvm/NioLocalFileSystem.java`` (``LOCAL_FS_CLASS``, shipped built
  as ``LOCAL_FS_JAR``). Without libhadoop, Hadoop's local filesystem
  sets the mode of every file and directory it creates by starting a
  ``chmod`` process, about 4 ms each: 162 per stream_replay replay,
  one for each checkpoint entry, state delta and ``.crc`` companion.
  This class sets the same umask-applied bits with one ``chmod(2)``
  through ``java.nio`` and starts none; only a sticky-bit mode, which
  ``java.nio`` cannot express, still goes through Hadoop's own path.
  The files and their modes are unchanged. The jar has to be on the
  driver's class path when the JVM starts, so both confs are set only
  when this process launches it: a session the engine did not launch
  copies its SQL confs into every Hadoop conf it builds and would fail
  with ``ClassNotFoundException`` on its next file read. Cluster
  sessions keep Hadoop's default.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark import SparkContext
from pyspark.sql import SparkSession

# Hadoop's local filesystem without a forked chmod per created file
# (module docstring); tools/build_jvm.py builds the jar from its source
LOCAL_FS_JAR = str(Path(__file__).with_name("jvm") / "nio-localfs.jar")
LOCAL_FS_CLASS = "rtdbms.fs.NioLocalFileSystem"


def get_spark(
    app_name: str = "rtdbms-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master`` is only forced when given (tests/bench pass
    ``local[N]``); in production the cluster manager supplies it.
    """
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Origin capture off, for the trade in the module docstring.
        # PySpark reads this once per process and caches it, so it is
        # set at build time, before any Column function runs with a
        # session active.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # 100 TB posture: don't let tiny files explode task counts locally,
        # and keep broadcast threshold at default 10 MB (dimension tables
        # region/nation/supplier stay broadcast-able at any SF).
        .config("spark.sql.autoBroadcastJoinThreshold", "10485760")
        # The default 100-entry whole-stage-codegen class cache evicts
        # constantly once a workload carries 100+ distinct query shapes
        # (this engine registers 213): every re-run then re-compiles
        # every stage (~0.3-1.5 s each, measured — repeat runs never
        # went warm in bench.py). Static conf, so it must be set at
        # build time. Compiled-class metadata is small; 4096 entries is
        # comfortable inside any executor/driver heap.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # materialize()'s `reliable` mode writes checkpoint FILES (not
        # executor blocks); without this the ContextCleaner never
        # deletes them and a long-running session checkpointing per
        # operator accumulates disk unboundedly. Read once by the
        # ContextCleaner at SparkContext construction, so it must be a
        # builder-time conf. With it, each checkpoint's files are
        # removed as soon as its RDD is garbage-collected.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    if master:
        builder = builder.master(master)
        # launch-time confs, set together and only when this process
        # starts the JVM (module docstring)
        launches_jvm = (
            SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
        )
        if master.startswith("local") and launches_jvm:
            builder = builder.config("spark.driver.extraClassPath", LOCAL_FS_JAR)
            builder = builder.config("spark.hadoop.fs.file.impl", LOCAL_FS_CLASS)
    if driver_memory:
        builder = builder.config("spark.driver.memory", driver_memory)
    return builder.getOrCreate()


def get_local_spark(cpus: int | None = None) -> SparkSession:
    """local[N] session for tests and bench.

    `maxPartitionBytes` is lowered locally: the test tables are single
    ~1-20 MB parquet files, which the 128 MB cluster default would scan
    as ONE split (serializing every scan on one core). 4 MB splits give
    the same scan parallelism the file count of a real corpus provides.
    """
    n = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # local mode = one JVM for driver AND executors: the 1g default
    # heap starves 32 concurrent tasks (GC thrash, spills, and evicted
    # localCheckpoint blocks — measured 3× total bench regression).
    # Size it like the per-executor memory a real cluster would get,
    # but never past half the host's physical memory: the heap grows
    # toward -Xmx before collecting hard, so a 24g heap on a 15 GB host
    # ends with the kernel OOM-killing the JVM (~12.6 GB RSS) mid-run.
    host_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    spark = get_spark(
        master=f"local[{n}]",
        shuffle_partitions=n,
        driver_memory=os.environ.get(
            "SPARK_GRAFT_DRIVER_MEM", f"{min(24 << 10, host_mb // 2)}m"
        ),
    )
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
    spark.conf.set("spark.sql.files.openCostInBytes", str(512 * 1024))
    # local checkpoints rename with rename(2); see the module docstring
    spark.conf.set(
        "spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager",
    )
    return spark
