"""Incremental materialized-view maintenance (IVM): apply a CDC delta
to a stored rollup instead of recomputing it from the raw feed.

The reference recomputes every dashboard aggregate from the base table
on each page load (`myapp/views.py` re-runs its GROUP BY queries per
request — fine at Postgres scale, impossible at 100 TB). The
warehouse-scale equivalent keeps the rollup as a materialized view and
maintains it from the change stream: a delta of N rows touches O(N)
groups, never the historical feed. This module implements the
classic count/sum self-maintainable-aggregate algebra (signed delta
aggregation + merge). Its streaming counterpart,
`streaming/rollup.stream_rollup_incremental`, needs no delta algebra:
the complete-mode state store holds the rollup itself, and foreachBatch
overwrites the table with it once per micro-batch.

Scale shape:
- The signed delta aggregates map-side first — the only data-sized
  shuffle is over the CHANGED rows, not the corpus.
- The merge is a keyed outer join between the stored view (partitioned
  by its group key) and the tiny per-group delta; with the view stored
  bucketed on the group key (sources/bucketing.py) the join is
  shuffle-free on the view side.
- Groups whose maintained count reaches zero are dropped — the view
  never accumulates tombstones.

Determinism: counts are exact integers; value sums accumulate as
DECIMAL(18,2)→DECIMAL(38,2) (order-independent, subtraction-safe) and
cast to double only at the output edge, so the maintained view is
bit-identical to a from-scratch recompute on ANY engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_BUCKET = "(unix_micros(cast(ts as timestamp)) div 300000000) * 300"


def bucket_rollup(events: DataFrame) -> DataFrame:
    """The maintained view's defining query: per (5-min bucket,
    event_type) exact count and DECIMAL value sum. One column-pruned
    scan + one keyed aggregation with map-side partials."""
    return events.groupBy(
        F.expr(_BUCKET).alias("bucket_s"), "event_type"
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_raw"),
    )


def delta_rollup_apply(old: DataFrame, new: DataFrame) -> DataFrame:
    """Maintain `bucket_rollup(old)` into `bucket_rollup(new)` from the
    key-level CDC diff, touching only changed groups.

    Steps (all declarative, one plan):
      1. diff: inserts = new ∖ old, deletes = old ∖ new (by event_id)
         — two anti-joins, the `snapshot_diff` reconciliation shape.
         In production this relation arrives FROM the CDC stream; the
         anti-joins here double as the derivation for snapshot inputs.
         Events are immutable facts, so the key-level diff is the
         whole story; for mutable rows a CDC feed carries an UPDATE as
         its (-old, +new) pair and the signed algebra below handles it
         unchanged — only this key-diff derivation would need
         `snapshot_diff`'s content comparison.
      2. signed aggregation: Σ sign and Σ sign·value per group over
         the delta only (COUNT and SUM are self-maintainable — no
         group ever needs the historical rows).
      3. merge: full outer join view × delta-aggregate on the group
         key; counts/sums add, zero-count groups drop.

    The result is bit-identical to recomputing the view on `new` —
    pinned by `tests/test_ivm.py` and by the DuckDB oracle, which
    recomputes directly. At 100 TB the from-scratch twin costs a full
    feed scan; this path costs the delta plus a view-sized join."""
    keys_old = old.select("event_id")
    keys_new = new.select("event_id")
    inserts = new.join(keys_old, "event_id", "left_anti").withColumn(
        "sign", F.lit(1)
    )
    deletes = old.join(keys_new, "event_id", "left_anti").withColumn(
        "sign", F.lit(-1)
    )
    delta = inserts.unionByName(deletes)
    delta_agg = delta.groupBy(
        F.expr(_BUCKET).alias("bucket_s"), "event_type"
    ).agg(
        F.sum("sign").alias("d_n"),
        F.sum(F.col("sign") * F.col("value").cast("decimal(18,2)")).alias("d_sum"),
    )
    base = bucket_rollup(old)
    merged = base.join(delta_agg, ["bucket_s", "event_type"], "full_outer").select(
        "bucket_s",
        "event_type",
        (
            F.coalesce(F.col("n_events"), F.lit(0))
            + F.coalesce(F.col("d_n"), F.lit(0))
        ).alias("n_events"),
        (
            F.coalesce(F.col("sum_raw"), F.lit(0).cast("decimal(18,2)"))
            + F.coalesce(F.col("d_sum"), F.lit(0).cast("decimal(18,2)"))
        ).alias("sum_raw"),
    )
    return (
        merged.filter(F.col("n_events") > 0)
        .select(
            "bucket_s",
            "event_type",
            F.col("n_events").cast("bigint").alias("n_events"),
            F.col("sum_raw").cast("double").alias("sum_value"),
        )
        .orderBy("bucket_s", "event_type")
    )


def forget_users(events: DataFrame, modulus: int = 97) -> DataFrame:
    """Right-to-be-forgotten cascade: remove a deletion cohort's rows
    from the maintained rollup WITHOUT re-scanning the feed — the
    governance twin of `delta_rollup_apply`. The reference deletes
    users row-by-row inside a transaction (`myapp/views.py` delete
    paths); at warehouse scale the expensive part is not the base-table
    delete (a tombstoning rewrite) but keeping every derived aggregate
    consistent — which COUNT/SUM self-maintainability gives for the
    cost of the cohort's rows only.

    The cohort here is the deterministic fixture `user_id % modulus ==
    0` (a production call passes the erasure list as a predicate or a
    broadcast-joined key table). The delta is a map-side FILTER — no
    anti-join, since erasure requests name their rows directly — then
    the same signed aggregation + keyed merge as `delta_rollup_apply`.
    Groups losing all members drop from the view."""
    if modulus <= 0:
        raise ValueError("forget_users: modulus must be positive")
    cohort = F.col("user_id") % modulus == 0
    delta_agg = events.filter(cohort).groupBy(
        F.expr(_BUCKET).alias("bucket_s"), "event_type"
    ).agg(
        F.count("*").alias("d_n"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("d_sum"),
    )
    base = bucket_rollup(events)
    merged = base.join(delta_agg, ["bucket_s", "event_type"], "left").select(
        "bucket_s",
        "event_type",
        (F.col("n_events") - F.coalesce(F.col("d_n"), F.lit(0))).alias("n_events"),
        (
            F.col("sum_raw")
            - F.coalesce(F.col("d_sum"), F.lit(0).cast("decimal(18,2)"))
        ).alias("sum_raw"),
    )
    return (
        merged.filter(F.col("n_events") > 0)
        .select(
            "bucket_s",
            "event_type",
            F.col("n_events").cast("bigint").alias("n_events"),
            F.col("sum_raw").cast("double").alias("sum_value"),
        )
        .orderBy("bucket_s", "event_type")
    )
