"""Mutation layer: upsert / delete / update / archive emulation on
immutable storage (SURVEY §2.10 M1-M4, §2.1 S9-S12).

The reference mutates PostgreSQL tables in place (``INSERT … ON
CONFLICT DO NOTHING`` views.py:33-44, DELETE views.py:113/277-280,
UPDATE views.py:168-170, archive pipeline views.py:913-994). On
parquet-style immutable storage these become *functional* DataFrame
transforms whose result is written back with overwrite (or, with a
table format like Delta/Iceberg, a MERGE). The functions here return
the post-mutation DataFrame; sinks are the caller's choice.

Scale notes: upsert shuffles both sides on the key once (left_anti +
union); delete/update are map-only filters/projections — no shuffle.
Cross-table rollback-on-error (M4, the guarantee the reference's
``transaction.atomic`` actually provides) is `multi_table_transaction`
below; CRASH atomicity across tables additionally needs a
transactional catalog (Delta/Iceberg — unavailable here, probe in
NOTES.md), the documented remaining trade.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from .util import materialize


def upsert(target: DataFrame, updates: DataFrame, key_cols: list[str]) -> DataFrame:
    """M1 upsert, last-writer-wins on `key_cols`: rows from `updates`
    replace matching target rows; unmatched target rows pass through.
    (``INSERT … ON CONFLICT DO UPDATE`` shape; for the reference's
    DO NOTHING shape swap the anti-join sides.)"""
    remaining = target.join(updates.select(*key_cols), key_cols, "left_anti")
    return remaining.unionByName(updates)


def insert_ignore(target: DataFrame, inserts: DataFrame, key_cols: list[str]) -> DataFrame:
    """M1 ``INSERT … ON CONFLICT DO NOTHING`` (views.py:33-44,
    apps.py:7-11): only rows whose key is absent are appended.

    PG keeps exactly one row per conflicting key even when the incoming
    batch itself repeats a key, so the batch is deduplicated on
    `key_cols` first — with a deterministic pick (row_number over the
    orderable non-key columns) rather than dropDuplicates, whose
    survivor depends on partitioning."""
    orderable = [
        f.name
        for f in inserts.schema.fields
        if f.name not in key_cols and not isinstance(f.dataType, (T.MapType, T.ArrayType, T.StructType))
    ]
    if orderable:
        w = Window.partitionBy(*key_cols).orderBy(*[F.col(c) for c in orderable])
        deduped = (
            inserts.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    else:
        deduped = inserts.dropDuplicates(key_cols)
    new_rows = deduped.join(target.select(*key_cols), key_cols, "left_anti")
    return target.unionByName(new_rows)


def delete_where(target: DataFrame, pred: Column) -> DataFrame:
    """M2 DELETE by predicate (views.py:113, 277-280): keep the
    complement. NULL predicate rows are kept (SQL DELETE only removes
    rows where the predicate is TRUE)."""
    return target.filter(~F.coalesce(pred, F.lit(False)))


def update_where(target: DataFrame, pred: Column, assignments: dict[str, Column]) -> DataFrame:
    """M3 UPDATE by predicate (views.py:168-170): conditional
    projection per assigned column."""
    out = target
    for col_name, new_val in assignments.items():
        out = out.withColumn(col_name, F.when(pred, new_val).otherwise(F.col(col_name)))
    return out


def archive_split(source: DataFrame, pred: Column) -> tuple[DataFrame, DataFrame]:
    """S9-S12 archive pipeline core (views.py:947-956): rows matching
    `pred` move to the archive (stamped), the rest stay. Returns
    (archive_rows, remaining_rows); the caller writes archive with
    append and source with overwrite."""
    archived = source.filter(pred).withColumn("archive_timestamp", F.current_timestamp())
    remaining = source.filter(~F.coalesce(pred, F.lit(False)))
    return archived, remaining


def compact(df: DataFrame, target_partitions: int) -> DataFrame:
    """S13 VACUUM-ANALYZE stand-in: small-file compaction. The
    reference issues ``VACUUM ANALYZE`` (views.py:897-900); the Spark
    analog is rewriting a fragmented table at a sane partition count
    (callers follow with ``ANALYZE TABLE ... COMPUTE STATISTICS`` when
    a catalog table is involved). ``coalesce`` avoids a shuffle when
    reducing; ``repartition`` only when growing."""
    n = df.rdd.getNumPartitions()
    if target_partitions < n:
        return df.coalesce(target_partitions)
    return df.repartition(target_partitions)


def restore_expired(archive: DataFrame, target: DataFrame, age_pred: Column) -> tuple[DataFrame, DataFrame]:
    """The generated PL/pgSQL restore routine (views.py:959-988) as
    DataFrame algebra: archived rows older than the retention period
    are appended back to the target and removed from the archive."""
    expired = archive.filter(age_pred).drop("archive_timestamp")
    kept = archive.filter(~F.coalesce(age_pred, F.lit(False)))
    return target.unionByName(expired), kept


def multi_table_transaction(
    spark, writes: dict[str, DataFrame], staging_suffix: str = "__txn_stage"
) -> None:
    """M4 rollback-on-error multi-table update (the semantics the
    reference actually uses: ``transaction.atomic`` wrappers around
    RBAC mutations, ``/root/reference/myapp/views.py:102-119``,
    152-171, 266-281 — any Python/SQL error unwinds every table).

    Two-phase protocol on plain managed parquet tables:

    1. STAGE: every result DataFrame is fully computed and written to
       `<table><staging_suffix>`. All compute/IO failures — bad
       expressions, OOM, corrupt input — happen HERE, before any
       target is touched; the exception handler drops the staging
       tables and re-raises, leaving every target exactly as it was.
    2. COMMIT: each staging table's content replaces its target
       (overwrite + drop staging). These are small metadata-bound
       rewrites of already-materialized data.

    Honest contract: phase 2 is sequential, so a PROCESS CRASH between
    its steps can leave a subset committed — this catalog-table variant
    provides the reference's observable guarantee (rollback-on-
    exception inside a live process) only. For CRASH atomicity across
    tables use `sources.txn.SnapshotCatalog`, which gets the full
    all-or-nothing guarantee from immutable version directories plus a
    single atomic manifest rename — no Delta/Iceberg required (both
    remain absent in this environment; probe in NOTES.md).
    """
    def _drop_stage(stage: str) -> None:
        spark.sql(f"DROP TABLE IF EXISTS {stage}")
        # a FAILED write can leave the managed location on disk with no
        # catalog entry (the in-memory catalog also forgets tables
        # across sessions while directories persist) — either would
        # block the next attempt with LOCATION_ALREADY_EXISTS, so the
        # location is removed physically as well
        warehouse = spark.conf.get("spark.sql.warehouse.dir")
        jvm = spark._jvm
        path = jvm.org.apache.hadoop.fs.Path(f"{warehouse}/{stage}")
        fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
        fs.delete(path, True)

    for table in writes:
        _drop_stage(f"{table}{staging_suffix}")  # stale-retry debris
    staged: list[str] = []
    try:
        for table, df in writes.items():
            stage = f"{table}{staging_suffix}"
            df.write.mode("overwrite").saveAsTable(stage)
            staged.append(table)
    except Exception:
        for table in writes:
            _drop_stage(f"{table}{staging_suffix}")
        raise
    for table in writes:
        stage = f"{table}{staging_suffix}"
        # lineage-free read of the materialized staging data
        materialize(spark.table(stage)).write.mode("overwrite").saveAsTable(table)
        _drop_stage(stage)
