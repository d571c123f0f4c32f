"""Bucketed storage for co-located joins.

At 100 TB the dominant cost of fact⋈fact joins (lineitem⋈orders,
events⋈events) is the shuffle. Writing both sides bucketed by the join
key with the same bucket count lets Spark plan a SortMergeJoin with
NO Exchange on either side — the join runs bucket-by-bucket where the
data already lives. The write pays one shuffle once; every subsequent
join is shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist as a bucketed (and optionally sorted) managed table.
    Sorting within buckets additionally removes the join's Sort node
    and makes min/max skipping effective."""
    writer = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def write_date_partitioned(
    df: DataFrame, path: str, ts_col: str = "ts", partition_col: str = "event_date"
) -> None:
    """Persist a time-series feed partitioned by date — the 100 TB
    layout for append-only feeds: each day is a directory, so
    time-range predicates prune at the directory level before any file
    is opened (PartitionFilters in the scan). Writers append one new
    partition per day; compaction (`mutation.compact`) runs per
    partition."""
    from pyspark.sql import functions as F

    df.withColumn(partition_col, F.to_date(ts_col)).write.mode("overwrite").partitionBy(
        partition_col
    ).parquet(path)


def zvalue_sql(col_a: str, col_b: str, bits: int = 16) -> str:
    """SQL expression interleaving the low `bits` bits of two
    non-negative integer columns into one Z-order (Morton) value —
    `col_a` on even bit positions, `col_b` on odd. One parsed
    expression (the repo wide-literal rule), all JVM bit math.

    CALLER CONTRACT: scale both columns to comparable bit widths
    first (quantize the wider domain). Interleaving a 4-bit domain
    with a 12-bit one degenerates the curve into a plain sort on the
    wide column — the narrow dimension's spans stay global-width in
    every file (empirically pinned in test_bucketing)."""
    terms = []
    for i in range(bits):
        terms.append(f"(shiftleft((shiftright({col_a}, {i}) & 1L), {2 * i}))")
        terms.append(f"(shiftleft((shiftright({col_b}, {i}) & 1L), {2 * i + 1}))")
    return " + ".join(terms)


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    bits: int = 16,
    n_files: int = 8,
) -> None:
    """Write parquet clustered along the Z-order (Morton) curve of two
    columns — the multi-dimensional locality layout: a linear sort on
    (a, b) gives tight min/max row-group statistics on `a` only, while
    the Z-curve keeps rows close in BOTH dimensions, so parquet
    min/max skipping prunes row groups for predicates on EITHER
    column (the Delta OPTIMIZE ZORDER technique, expressed with plain
    Spark primitives).

    Plan: compute the z-value map-side, range-repartition on it (one
    skew-aware shuffle — range partitioning samples the distribution),
    sort within partitions, drop the helper column at write. At 100 TB
    this replaces the single-column sort a naive layout would use;
    the write cost is identical (one shuffle + local sort).
    """
    z = zvalue_sql(col_a, col_b, bits)
    (
        df.withColumn("__z", F.expr(z))
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
