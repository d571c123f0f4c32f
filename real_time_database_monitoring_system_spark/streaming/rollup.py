"""Structured Streaming layer (SURVEY §2.8 T1-T4).

The reference's "real time" is request-time polling — every page load
re-runs ~19 snapshot queries (``/root/reference/myapp/views.py:394-680``).
The idiomatic Spark replacement is a streaming pipeline over the
append-only feed: windowed rollups (T1/T2) and threshold alert streams
(T3). Here the parquet `events` table is replayed as a file stream with
``availableNow`` (process-everything-then-stop), which keeps the exact
same code shape that a live file/Kafka source would run continuously.

Batch equivalence: each streaming result is checked against its batch
twin (`operators.monitoring.downsample_5min`, `threshold_flags`) in
tests and against the DuckDB oracle by the driver.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.util import FEED_US, half_counts, materialize, tag_halves
from ..sources.registry import (
    configure_session,
    events_read_schema,
    events_ts_is_long,
    normalize_events_ts,
)

_counter = itertools.count()


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    configure_session(spark)
    raw = (
        spark.readStream.schema(events_read_schema(spark, sf_dir))
        .option("maxFilesPerTrigger", 1)
        # glob form: the file-stream source then resolves the sf dir as
        # basePath (a bare file path would be rejected as basePath)
        .option("basePath", sf_dir)
        .parquet(f"{sf_dir}/events.parque[t]")
    )
    # same µs normalization as the batch loader (registry.load_table)
    return normalize_events_ts(raw, events_ts_is_long(spark, sf_dir))


def _run_to_memory(stream_df: DataFrame, mode: str) -> DataFrame:
    """Run a streaming DataFrame to completion into a memory sink and
    return the materialized result as a batch DataFrame."""
    name = f"stream_result_{next(_counter)}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark = stream_df.sparkSession
    return spark.table(name)


def _rollup_agg(src: DataFrame, bucket_seconds: int) -> DataFrame:
    """The windowed-rollup transformation, factored out so tests can
    drive it over sources with any file/trigger batching (the result
    must be batch-count-independent)."""
    return (
        src.groupBy(F.window("ts", f"{bucket_seconds} seconds").alias("w"))
        .agg(
            F.count("*").alias("n_points"),
            F.max_by("value", "event_id").alias("last_value"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            (F.expr("unix_micros(cast(w.start as timestamp)) div 1000000")).alias("bucket_s"),
            "n_points",
            "last_value",
            "sum_value",
        )
    )


def stream_rollup(
    spark: SparkSession,
    sf_dir: str,
    bucket_seconds: int = 300,
    source: DataFrame | None = None,
) -> DataFrame:
    """T1/T2: event-time tumbling-window rollup of the metric feed —
    the streaming twin of the JS 5-minute downsampler
    (``index_resource.html:230-245``). Complete output mode: the full
    rollup is the dashboard's state. Window starts are epoch-aligned
    (session tz UTC), emitted as exact integer bucket seconds.

    `source` lets tests inject a differently-batched stream (multiple
    files × maxFilesPerTrigger) over the same rows."""
    src = source if source is not None else _events_stream(spark, sf_dir)
    return _run_to_memory(_rollup_agg(src, bucket_seconds), "complete").orderBy("bucket_s")


def stream_sliding_rollup(
    spark: SparkSession,
    sf_dir: str,
    width_seconds: int = 600,
    slide_seconds: int = 300,
) -> DataFrame:
    """Hopping-window streaming rollup — the streaming twin of
    `operators.monitoring.sliding_rollup` (identical `F.window(ts,
    width, slide)` expression, identical aggregates), in complete
    output mode on the replayed feed. Checked against the same SQL
    oracle as the batch operator, so stream and batch cannot drift."""
    if width_seconds % slide_seconds != 0:
        # same contract as the batch twin — a silently-misaligned hop
        # here would diverge from sliding_rollup, which raises
        raise ValueError("width must be a multiple of slide for aligned hops")
    src = _events_stream(spark, sf_dir).withColumn("ts", F.col("ts").cast("timestamp"))
    windowed = (
        src.groupBy(
            F.window("ts", f"{width_seconds} seconds", f"{slide_seconds} seconds").alias("w")
        )
        .agg(
            F.count("*").alias("n_points"),
            F.max_by("value", "event_id").alias("last_value"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.expr("unix_micros(cast(w.start as timestamp)) div 1000000").alias("window_s"),
            "n_points",
            "last_value",
            "sum_value",
        )
    )
    return _run_to_memory(windowed, "complete").orderBy("window_s")


def stream_rollup_watermarked(
    spark: SparkSession, sf_dir: str, bucket_seconds: int = 300, lateness: str = "10 minutes"
) -> DataFrame:
    """T2 with late-data handling: watermarked tumbling windows in
    APPEND mode — the production shape for unbounded feeds (state for a
    window is dropped once the watermark passes, emitted exactly once).
    On a replayed finite feed the trailing windows (newer than the
    final watermark) are withheld by design; the equivalence test
    checks emitted ⊂ batch and completeness up to the watermark."""
    src = _events_stream(spark, sf_dir)
    # withWatermark requires LTZ; the cast is value-preserving under
    # the engine's pinned UTC session timezone
    src = src.withColumn("ts", F.col("ts").cast("timestamp"))
    windowed = (
        src.withWatermark("ts", lateness)
        .groupBy(F.window("ts", f"{bucket_seconds} seconds").alias("w"))
        .agg(
            F.count("*").alias("n_points"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            (F.expr("unix_micros(cast(w.start as timestamp)) div 1000000")).alias("bucket_s"),
            "n_points",
            "sum_value",
        )
    )
    return _run_to_memory(windowed, "append").orderBy("bucket_s")


def stream_alerts_to_table(
    spark: SparkSession, sf_dir: str, table: str, threshold: float = 99.0
) -> None:
    """T3 with a production sink: foreachBatch appends each
    micro-batch of alerts to a managed table — the place a real
    deployment calls the notifier (the reference emails from Python,
    views.py:371-378). foreachBatch gives per-batch exactly-once
    append semantics against transactional table formats; on plain
    parquet it is at-least-once on retry, which is the documented
    trade."""
    src = _events_stream(spark, sf_dir)
    alerts = src.filter(F.col("value") > threshold).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").saveAsTable(table)

    q = (
        alerts.writeStream.foreachBatch(_sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # the sink wrote through the query's cloned session; drop this
    # session's cached file listing so spark.table(table) sees every batch
    spark.catalog.refreshTable(table)


def stream_rollup_incremental(
    spark: SparkSession, sf_dir: str, table: str, bucket_seconds: int = 300
) -> DataFrame:
    """Continuous-aggregate maintenance (the TimescaleDB
    continuous-aggregate / materialized-rollup shape): the windowed agg
    runs in COMPLETE output mode, so the query's state store IS the
    rollup, and foreachBatch keeps a persistent rollup table equal to
    it with one overwrite per micro-batch — no table read, no anti-join
    and no lineage break inside a batch.

    That overwrite is never more I/O than a per-batch MERGE on plain
    parquet: a MERGE of the changed windows into the table rewrites the
    whole table anyway (every window seen so far), which is exactly the
    complete-mode state — and it first reads the table back. The raw
    feed is never re-scanned; each batch folds only its new files into
    the state.

    A table that already exists keeps the last-writer-wins MERGE
    contract (`mutation.upsert` on the bucket): its rows are read once,
    before the stream starts, and every batch writes them with each
    bucket the stream holds replaced by the stream's row — the same
    final table as merging batch by batch. On plain parquet the
    overwrite is at-least-once on retry; with a transactional format
    (Delta/Iceberg) the same foreachBatch body is atomic — documented
    trade, same as `stream_alerts_to_table`. Returns the final rollup
    table, which equals the batch `downsample_5min`
    (equivalence-tested)."""
    from ..operators.mutation import upsert

    src = _events_stream(spark, sf_dir)
    # the one shared rollup contract — any change to the aggregate
    # (cast, tiebreak) must reach stream_rollup, this incremental
    # variant, and the batch twin together
    windowed = _rollup_agg(
        src.withColumn("ts", F.col("ts").cast("timestamp")), bucket_seconds
    )
    # break lineage once: the batches overwrite the table this reads
    prior = materialize(spark.table(table)) if spark.catalog.tableExists(table) else None

    def _overwrite(batch_df: DataFrame, batch_id: int) -> None:
        rows = batch_df if prior is None else upsert(prior, batch_df, ["bucket_s"])
        rows.write.mode("overwrite").saveAsTable(table)

    q = (
        windowed.writeStream.foreachBatch(_overwrite)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # the batches wrote through the query's cloned session; drop this
    # session's cached file listing of the table they replaced
    spark.catalog.refreshTable(table)
    return spark.table(table).orderBy("bucket_s")


def stream_alerts(spark: SparkSession, sf_dir: str, threshold: float = 99.0) -> DataFrame:
    """T3: threshold alert stream — the reference's Python flagging +
    email notifier (views.py:618-638, 371-378) as a streaming filter.
    Append mode, stateless; a production sink would be foreachBatch →
    notifier."""
    src = _events_stream(spark, sf_dir)
    alerts = src.filter(F.col("value") > threshold).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    return _run_to_memory(alerts, "append").orderBy("event_id")


def stream_dedup(spark: SparkSession, sf_dir: str, lateness: str = "10 minutes") -> DataFrame:
    """Exactly-once ingestion dedup: the feed is replayed TWICE (a
    union of two file streams — the standard simulation of
    at-least-once delivery, where a source retry re-sends rows) and
    `dropDuplicatesWithinWatermark` collapses each event_id back to a
    single row.

    This is the streaming member of the dedup family
    (`operators.dedup` covers the batch corpus side): state per key is
    kept only until the watermark passes its event time, so memory is
    bounded by the lateness horizon instead of the stream's lifetime —
    the property that makes dedup feasible on an unbounded 100 TB/day
    feed, where a batch `dropDuplicates` would need all history.
    Duplicate rows are byte-identical here, so which copy survives is
    immaterial and the result is deterministic."""
    a = _events_stream(spark, sf_dir)
    b = _events_stream(spark, sf_dir)
    src = a.unionByName(b).withColumn("ts", F.col("ts").cast("timestamp"))
    deduped = (
        src.withWatermark("ts", lateness)
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "ts", "user_id", "event_type", "value")
    )
    return _run_to_memory(deduped, "append").orderBy("event_id")


def stream_join_alert_context(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 99.0,
    horizon_minutes: int = 5,
    lateness: str = "10 minutes",
) -> DataFrame:
    """Stream-stream interval join: each threshold alert is joined with
    the same user's other events in the `horizon_minutes` after it —
    the "what did this session do right after the spike" enrichment the
    reference answers by re-querying on page load (views.py:618-638).

    Both sides carry a watermark and the join condition bounds ctx_ts
    to [alert_ts, alert_ts + horizon], so Spark can expire join state
    once the watermark passes an alert's horizon — the property that
    keeps state bounded by the lateness + horizon window instead of the
    stream's lifetime on an unbounded feed. Inner join in append mode
    emits a match as soon as both rows have arrived (no withheld tail),
    so the result equals the batch self-join exactly
    (equivalence-tested and oracle-checked)."""
    alerts = (
        _events_stream(spark, sf_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .filter(F.col("value") > threshold)
        .select(
            F.col("event_id").alias("alert_id"),
            F.col("user_id").alias("alert_user"),
            F.col("ts").alias("alert_ts"),
            F.col("value").alias("alert_value"),
        )
        .withWatermark("alert_ts", lateness)
    )
    ctx = (
        _events_stream(spark, sf_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .select(
            F.col("event_id").alias("ctx_id"),
            F.col("user_id").alias("ctx_user"),
            F.col("ts").alias("ctx_ts"),
            F.col("event_type").alias("ctx_type"),
        )
        .withWatermark("ctx_ts", lateness)
    )
    joined = alerts.join(
        ctx,
        (F.col("alert_user") == F.col("ctx_user"))
        & (F.col("ctx_ts") >= F.col("alert_ts"))
        & (F.col("ctx_ts") <= F.col("alert_ts") + F.expr(f"INTERVAL {horizon_minutes} MINUTES"))
        & (F.col("alert_id") != F.col("ctx_id")),
        "inner",
    ).select(
        "alert_id",
        "ctx_id",
        F.col("alert_user").alias("user_id"),
        F.unix_micros("alert_ts").alias("alert_us"),
        F.unix_micros("ctx_ts").alias("ctx_us"),
        "ctx_type",
        "alert_value",
    )
    return _run_to_memory(joined, "append").orderBy("alert_id", "ctx_id")


def stream_join_alert_context_outer(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 99.0,
    horizon_minutes: int = 5,
    lateness: str = "10 minutes",
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join with late-data
    semantics: like `stream_join_alert_context`, but alerts with NO
    follow-up activity in their horizon are still emitted (NULL ctx
    columns) — the alerting deployment shape, where silence after a
    spike is itself signal.

    Outer-side emission is governed by the watermark: an unmatched
    alert's NULL row appears only once the join state can be proven
    complete, i.e. when `alert_ts + horizon` falls behind the global
    watermark `min(max(alert_ts), max(ctx_ts)) − lateness` (each
    withWatermark node tracks the max event time that flowed through
    IT, so the alert side's clock lags the feed's when alerts are
    sparse). Alerts newer than that stay withheld on a finite replay —
    exactly the rows a live deployment could not yet decide either.

    The emitted set depends only on the FINAL watermark, not on how
    many micro-batches the files were split into (watermark
    monotonicity: earlier evictions emit the same rows earlier), so
    the availableNow replay is deterministic and the batch twin is
    expressible in SQL: inner matches ∪ expired unmatched alerts —
    oracle-checked by the driver.
    """
    horizon_us = horizon_minutes * 60 * 1_000_000
    alerts = (
        _events_stream(spark, sf_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .filter(F.col("value") > threshold)
        .select(
            F.col("event_id").alias("alert_id"),
            F.col("user_id").alias("alert_user"),
            F.col("ts").alias("alert_ts"),
            F.col("value").alias("alert_value"),
        )
        .withWatermark("alert_ts", lateness)
    )
    ctx = (
        _events_stream(spark, sf_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .select(
            F.col("event_id").alias("ctx_id"),
            F.col("user_id").alias("ctx_user"),
            F.col("ts").alias("ctx_ts"),
            F.col("event_type").alias("ctx_type"),
        )
        .withWatermark("ctx_ts", lateness)
    )
    joined = alerts.join(
        ctx,
        (F.col("alert_user") == F.col("ctx_user"))
        & (F.col("ctx_ts") >= F.col("alert_ts"))
        & (F.col("ctx_ts") <= F.col("alert_ts") + F.expr(f"INTERVAL {horizon_minutes} MINUTES"))
        & (F.col("alert_id") != F.col("ctx_id")),
        "leftOuter",
    ).select(
        "alert_id",
        "ctx_id",
        F.col("alert_user").alias("user_id"),
        F.unix_micros("alert_ts").alias("alert_us"),
        F.unix_micros("ctx_ts").alias("ctx_us"),
        "ctx_type",
        "alert_value",
    )
    return _run_to_memory(joined, "append").orderBy("alert_id", "ctx_id")


def stream_join_alert_context_full(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 99.0,
    horizon_minutes: int = 5,
    lateness: str = "10 minutes",
) -> DataFrame:
    """Stream-stream FULL OUTER interval join — completes the join
    matrix (inner / leftOuter / fullOuter): silent alerts emit with
    NULL ctx (as in the left-outer form) AND context events that no
    alert explains emit with NULL alert columns — the "unattributed
    activity" feed an auditing deployment watches alongside alerts.

    Eviction semantics extend the left-outer derivation: an unmatched
    ctx row can only be matched by alerts with `alert_ts ≤ ctx_ts`,
    so its NULL row emits once the global watermark passes `ctx_ts`
    itself (no horizon term on that side); unmatched alerts emit once
    the watermark passes `alert_ts + horizon` as before. Both
    emissions depend only on the final watermark, so the availableNow
    replay is deterministic (model-tested in test_streaming)."""
    alerts = (
        _events_stream(spark, sf_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .filter(F.col("value") > threshold)
        .select(
            F.col("event_id").alias("alert_id"),
            F.col("user_id").alias("alert_user"),
            F.col("ts").alias("alert_ts"),
            F.col("value").alias("alert_value"),
        )
        .withWatermark("alert_ts", lateness)
    )
    ctx = (
        _events_stream(spark, sf_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .select(
            F.col("event_id").alias("ctx_id"),
            F.col("user_id").alias("ctx_user"),
            F.col("ts").alias("ctx_ts"),
            F.col("event_type").alias("ctx_type"),
        )
        .withWatermark("ctx_ts", lateness)
    )
    joined = alerts.join(
        ctx,
        (F.col("alert_user") == F.col("ctx_user"))
        & (F.col("ctx_ts") >= F.col("alert_ts"))
        & (F.col("ctx_ts") <= F.col("alert_ts") + F.expr(f"INTERVAL {horizon_minutes} MINUTES"))
        & (F.col("alert_id") != F.col("ctx_id")),
        "fullOuter",
    ).select(
        "alert_id",
        "ctx_id",
        F.coalesce("alert_user", "ctx_user").alias("user_id"),
        F.unix_micros("alert_ts").alias("alert_us"),
        F.unix_micros("ctx_ts").alias("ctx_us"),
        "ctx_type",
        "alert_value",
    )
    return _run_to_memory(joined, "append").orderBy("alert_id", "ctx_id")


def stream_throttled_alerts(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 99.0,
    bucket_seconds: int = 600,
) -> DataFrame:
    """Rate-limited alerting: at most ONE alert per (user, 10-minute
    bucket) — the notifier-side throttle every paging deployment needs
    (the reference emails on every threshold crossing,
    views.py:371-378; a noisy metric would page hundreds of times).
    Suppressed duplicates are counted, not lost.

    The winner per key is min(struct(µs, event_id, value)) —
    lexicographic struct min, an AGGREGATE (usable under streaming,
    where row_number windows are not) whose unique (µs, event_id)
    prefix makes it deterministic and identical to the batch
    row_number-=-1 form the oracle runs. Complete mode on the replayed
    feed; state is one row per active (user, bucket).
    """
    bucket_us = bucket_seconds * 1_000_000
    src = _events_stream(spark, sf_dir)
    alerts = src.filter(F.col("value") > threshold).select(
        "user_id",
        (F.expr(f"unix_micros(cast(ts as timestamp)) div {bucket_us}") * bucket_seconds).alias(
            "bucket_s"
        ),
        F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
        "event_id",
        "value",
    )
    first = alerts.groupBy("user_id", "bucket_s").agg(
        F.min(F.struct("us", "event_id", "value")).alias("f"),
        F.count("*").alias("n_alerts"),
    )
    out = first.select(
        "user_id",
        "bucket_s",
        F.col("f.us").alias("alert_us"),
        F.col("f.event_id").alias("alert_id"),
        F.col("f.value").alias("alert_value"),
        (F.col("n_alerts") - 1).alias("n_suppressed"),
    )
    return _run_to_memory(out, "complete").orderBy("user_id", "bucket_s")


def stream_session_paths(
    spark: SparkSession, sf_dir: str, gap_minutes: int = 30, k: int = 25
) -> DataFrame:
    """Streaming twin of `event_analytics.top_session_paths`: the
    per-session path strings are built by ONE streaming
    `session_window` aggregation (a sorted struct collect — streaming
    allows a single stateful aggregation, so the path COUNT cannot be
    chained behind it in the same query); the #sessions-sized result
    lands in the sink and the tiny path-frequency rollup runs as a
    batch coda over it — the dashboard-side shape a live deployment
    would use anyway. Session boundaries equal the batch sessionizer's
    (`stream_sessions` pins that equivalence); the path string sorts
    on (µs, event_id) structs, so it is deterministic under any merge
    order of the streaming state. Checked against the SAME oracle as
    the batch operator.
    """
    src = _events_stream(spark, sf_dir).withColumn("ts", F.col("ts").cast("timestamp"))
    sess = (
        src.groupBy(F.session_window("ts", f"{gap_minutes} minutes").alias("w"), "user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.unix_micros("ts").alias("us"),
                                "event_id",
                                "event_type",
                            )
                        )
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path"),
            F.count("*").alias("path_len"),
        )
        .select("user_id", "path", "path_len")
    )
    per_session = _run_to_memory(sess, "complete")
    from ..operators.event_analytics import paths_from_sessions

    return paths_from_sessions(per_session, k)


def stream_sessions(spark: SparkSession, sf_dir: str, gap_minutes: int = 30) -> DataFrame:
    """Session-window aggregation — the streaming twin of
    `operators.monitoring.sessionize` (same 30-minute inactivity gap).

    ``F.session_window`` merges events per user into dynamic windows
    that close after `gap` of silence — the stateful-streaming
    restatement of the batch lag/cumsum sessionizer. Spark reports the
    window end as ``last_event + gap``, so the gap is subtracted to
    match the batch twin's ``end_us = max(event ts)``. Complete mode on
    the replayed finite feed (production uses a watermark + append, at
    the price of withholding trailing sessions — see
    `stream_rollup_watermarked` for that shape)."""
    src = _events_stream(spark, sf_dir).withColumn("ts", F.col("ts").cast("timestamp"))
    gap_us = gap_minutes * 60 * 1_000_000
    sess = (
        src.groupBy(F.session_window("ts", f"{gap_minutes} minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.expr("unix_micros(cast(w.start as timestamp))").alias("start_us"),
            (F.expr("unix_micros(cast(w.end as timestamp))") - F.lit(gap_us)).alias("end_us"),
            "n_events",
        )
        .withColumn("duration_us", F.col("end_us") - F.col("start_us"))
    )
    return _run_to_memory(sess, "complete").orderBy("user_id", "start_us")


def stream_enrich_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–static join: enrich the live event feed with a batch
    dimension table (per-user profile derived from `customer`). The
    canonical Structured Streaming enrichment shape: the static side
    is planned as a broadcast per micro-batch — no streaming state at
    all (unlike stream-stream joins), no watermark needed, and the
    static table may be re-read/refreshed between batches.

    At scale: the dimension broadcast is the same plan a batch
    enrichment would use; the stream side stays partition-local. Rows
    with no matching profile keep NULL tier (left join) — dropping
    them silently would make the stream lossy.

    Batch twin: identical left join on the batch events table; the
    driver checks it against the DuckDB oracle.
    """
    from ..sources.registry import load_table

    stream = _events_stream(spark, sf_dir)
    profile = (
        load_table(spark, sf_dir, "customer")
        .select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
            F.when(F.col("c_acctbal") >= 5000.0, "gold")
            .when(F.col("c_acctbal") >= 0.0, "standard")
            .otherwise("delinquent")
            .alias("tier"),
        )
    )
    enriched = stream.join(profile, "user_id", "left").select(
        "event_id", "user_id", "event_type", "value", "segment", "tier"
    )
    return _run_to_memory(enriched, "append").orderBy("event_id")


def stream_mad_alerts(spark: SparkSession, sf_dir: str, n_sigmas: float = 3.0) -> DataFrame:
    """Stream–static anomaly alerting: the live feed joins the BATCH
    robust baseline (per-type median/MAD from `operators.anomaly`) and
    emits only readings beyond n·1.4826·MAD — the streaming deployment
    shape for statistical monitoring: baselines are re-fit offline on
    history (and may be refreshed between micro-batches, the
    stream-static contract), while flagging itself is a stateless
    map-side comparison against the tiny broadcast baseline.

    Batch twin: `anomaly.mad_outliers(...).filter(is_outlier)` —
    flag-only columns, checked against the DuckDB oracle.
    """
    from ..operators.anomaly import _MAD_SIGMA, mad_baseline
    from ..sources.registry import load_table

    baseline = mad_baseline(load_table(spark, sf_dir, "events"))
    stream = _events_stream(spark, sf_dir)
    alerts = (
        stream.join(F.broadcast(baseline), "event_type")
        .filter(
            F.abs(F.col("value") - F.col("med"))
            > F.lit(n_sigmas * _MAD_SIGMA) * F.col("mad")
        )
        .select("event_id", "event_type", "value", "med", "mad")
    )
    return _run_to_memory(alerts, "append").orderBy("event_id")


def stream_freshness_audit(
    spark: SparkSession, sf_dir: str, stale_minutes: int = 60
) -> DataFrame:
    """Streaming twin of `monitoring.freshness_audit`: the live
    ingestion-health panel. The per-source (max event time, count)
    state is ONE streaming aggregation — bounded at #types rows — and
    the lag/stale projection against the global snapshot instant runs
    as a batch coda over that tiny sink (streaming allows a single
    stateful aggregation per query; the global max is an aggregate OF
    the aggregate). Replayed under availableNow the state equals the
    batch aggregate exactly, so this shares the batch operator's
    oracle. In production the same panel updates per micro-batch and
    "now" would be the trigger's processing time; the snapshot-instant
    form is what makes the result reproducible (SURVEY §7 rule).
    """
    src = _events_stream(spark, sf_dir).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    per_type = src.groupBy("event_type").agg(
        F.max(F.unix_micros("ts")).alias("last_us"),
        F.count("*").alias("n_events"),
    )
    state = _run_to_memory(per_type, "complete")
    as_of = state.agg(F.max("last_us").alias("as_of_us"))
    return (
        state.crossJoin(F.broadcast(as_of))
        .select(
            "event_type",
            "n_events",
            "last_us",
            (F.col("as_of_us") - F.col("last_us")).alias("lag_us"),
            (
                F.col("as_of_us") - F.col("last_us")
                > F.lit(stale_minutes * 60_000_000).cast("bigint")
            ).alias("is_stale"),
        )
        .orderBy("event_type")
    )


def stream_value_histogram(
    spark: SparkSession,
    sf_dir: str,
    lo: float = 0.0,
    hi: float = 500.0,
    nbins: int = 10,
) -> DataFrame:
    """Streaming twin of `analytics.value_histogram`: a live
    distribution panel. State is ONE streaming aggregation bounded at
    nbins+2 groups (count/min/max per width_bucket) — constant memory
    at any feed size; the lo_edge projection is stateless. Replayed
    under availableNow the state equals the batch aggregate exactly,
    so it shares the batch operator's oracle verbatim."""
    width = (hi - lo) / nbins
    src = _events_stream(spark, sf_dir)
    bucket = F.width_bucket(F.col("value"), F.lit(lo), F.lit(hi), F.lit(nbins)).alias(
        "bucket"
    )
    agg = (
        src.select(bucket, "value")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )
    return (
        _run_to_memory(agg, "complete")
        .withColumn(
            "lo_edge",
            (F.lit(lo) + (F.col("bucket") - 1).cast("double") * F.lit(width)),
        )
        .orderBy("bucket")
    )


def stream_trending_types(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Streaming twin of `monitoring.trending_types`: live "what's
    trending today" panel. The per-(day, type) count is the single
    streaming aggregation (state = #days × #types rows); the top-k
    rank runs as a batch coda over that tiny sink (the
    `stream_freshness_audit` pattern — streaming allows one stateful
    aggregation per query and a rank is a second). availableNow state
    equals the batch counts, so the batch operator's oracle is shared
    verbatim."""
    src = _events_stream(spark, sf_dir)
    day = F.expr(
        "unix_micros(cast(ts as timestamp)) div 86400000000"
    ).alias("day_no")
    counts = src.select(day, "event_type").groupBy("day_no", "event_type").agg(
        F.count("*").alias("n")
    )
    state = _run_to_memory(counts, "complete")
    from ..operators.monitoring import trending_from_daily

    return trending_from_daily(state, k)


def stream_contract_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `curation.data_contract_audit`: the live
    ingest admission gate. The stateful part is ONE streaming
    aggregation keyed by event_id carrying per-key violation sums —
    exact key-uniqueness on a stream requires per-key state (that IS
    the cost of the exactness contract; production would bound it with
    `dropDuplicatesWithinWatermark` or accept an approximate
    uniqueness check — documented trade, the state is #keys rows).
    The expectation panel itself is a batch coda aggregating that
    sink, so replayed under availableNow the result equals the batch
    audit exactly and shares its oracle verbatim."""
    domain = ["click", "error", "purchase", "signup", "view"]
    src = _events_stream(spark, sf_dir).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    per_key = src.groupBy("event_id").agg(
        F.count("*").alias("cnt"),
        F.sum(F.when(F.col("user_id").isNull(), 1).otherwise(0)).alias("null_user"),
        F.sum(F.when(F.col("value") < 0, 1).otherwise(0)).alias("neg_value"),
        F.sum(F.when(F.col("value") > 400, 1).otherwise(0)).alias("high_value"),
        F.sum(
            F.when(~F.col("event_type").isin(domain), 1).otherwise(0)
        ).alias("bad_type"),
        F.sum(
            F.when(
                (F.col("ts") < F.lit("2020-01-01").cast("timestamp"))
                | (F.col("ts") >= F.lit("2035-01-01").cast("timestamp")),
                1,
            ).otherwise(0)
        ).alias("bad_ts"),
    )
    state = _run_to_memory(per_key, "complete")
    a = state.agg(
        F.sum("cnt").alias("n"),
        F.count(F.col("event_id")).alias("n_key"),
        F.sum(
            F.when(F.col("event_id").isNull(), F.col("cnt")).otherwise(0)
        ).alias("null_key"),
        F.sum("null_user").alias("null_user"),
        F.sum("neg_value").alias("neg_value"),
        F.sum("high_value").alias("high_value"),
        F.sum("bad_type").alias("bad_type"),
        F.sum("bad_ts").alias("bad_ts"),
    )
    return a.selectExpr(
        """stack(8,
        'event_id_not_null', CAST(null_key AS DOUBLE), null_key = 0,
        'event_id_unique', CAST(n - n_key AS DOUBLE), n = n_key,
        'event_type_in_domain', CAST(bad_type AS DOUBLE), bad_type = 0,
        'row_count_min_1', CAST(n AS DOUBLE), n >= 1,
        'ts_in_2020_2035', CAST(bad_ts AS DOUBLE), bad_ts = 0,
        'user_id_not_null', CAST(null_user AS DOUBLE), null_user = 0,
        'value_below_400', CAST(high_value AS DOUBLE), high_value = 0,
        'value_non_negative', CAST(neg_value AS DOUBLE), neg_value = 0
        ) AS (expectation, observed, pass)"""
    ).orderBy("expectation")


def stream_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `monitoring.period_over_period`: the live
    growth dashboard. The stateful part is ONE streaming aggregation
    over (event_type, integer epoch day) — state bounded at
    #types×#days rows; the gap-safe DoD/WoW comparison runs as a batch
    coda over that tiny sink via the SHARED helper
    (`monitoring.pop_from_daily`), so the batch-twin contract cannot
    drift between copies. Replayed under availableNow the state equals
    the batch daily counts exactly, hence the shared oracle."""
    from ..operators.monitoring import pop_from_daily

    src = _events_stream(spark, sf_dir).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    daily = src.groupBy(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("day_no"),
    ).agg(F.count("*").alias("n"))
    # materialize: the coda self-joins the state relation, and a
    # memory-sink View self-join trips conflicting-attribute analysis;
    # the checkpointed LogicalRDD deduplicates per consumer (and is
    # what the batch path materializes anyway)
    state = materialize(_run_to_memory(daily, "complete"))
    return pop_from_daily(state)


def stream_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `event_analytics.rfm_segments`: live customer
    segmentation. The stateful part is ONE per-user streaming
    aggregation over the purchase-filtered feed (max last-seen µs,
    count, cent-quantized spend — state is #purchasers rows, the same
    relation the batch op materializes); the quintile cuts and scoring
    run as the SHARED batch coda (`event_analytics.rfm_from_per_user`)
    over that sink. Replayed under availableNow the state equals the
    batch per-user relation exactly, hence the shared oracle.
    materialize() guards the coda's self-consumption of the memory
    sink (the conflicting-references gotcha, NOTES)."""
    from ..operators.event_analytics import rfm_from_per_user

    src = _events_stream(spark, sf_dir).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    per_user = (
        src.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max(F.unix_micros("ts")).alias("last_us"),
            F.count("*").alias("freq"),
            (F.sum(F.col("value").cast("decimal(18,2)")) * 100)
            .cast("bigint")
            .alias("mon_cents"),
        )
    )
    state = materialize(_run_to_memory(per_user, "complete"))
    return rfm_from_per_user(state)


def stream_user_feature_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `event_analytics.user_feature_table`: the
    continuously-maintained feature store. Streaming aggregations
    cannot hold DISTINCT aggregates (n_types, active_days), so the
    stateful part is ONE aggregation keyed by (user, type, epoch day)
    — distinctness becomes key existence, the same trick as
    `stream_contract_audit`'s per-key uniqueness — and the per-user
    feature vector plus snapshot/rate coda run batch-side over that
    sink via the SHARED helper (`event_analytics.
    features_from_per_user`). State is #(user, type, active-day) rows
    — bounded by actual activity, not the cross product. availableNow
    state equals the batch aggregate exactly, hence the shared
    oracle."""
    from ..operators.event_analytics import features_from_per_user

    src = _events_stream(spark, sf_dir).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    per_key = src.groupBy(
        "user_id",
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("day_no"),
    ).agg(
        F.count("*").alias("cnt"),
        F.min(F.unix_micros("ts")).alias("min_us"),
        F.max(F.unix_micros("ts")).alias("max_us"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value"),
    )
    state = materialize(_run_to_memory(per_key, "complete"))
    per_user = state.groupBy("user_id").agg(
        F.sum("cnt").cast("bigint").alias("n_events"),
        F.count_distinct("event_type").cast("int").alias("n_types"),
        *[
            F.sum(F.when(F.col("event_type") == t, F.col("cnt")).otherwise(0))
            .cast("bigint")
            .alias(f"n_{t}")
            for t in ("view", "click", "purchase", "signup", "error")
        ],
        F.min("min_us").alias("first_us"),
        F.max("max_us").alias("last_us"),
        F.count_distinct("day_no").cast("bigint").alias("active_days"),
        (
            F.sum(
                F.when(
                    F.col("event_type") == "purchase", F.col("sum_value")
                ).otherwise(F.lit(0).cast("decimal(18,2)"))
            )
            * 100
        )
        .cast("bigint")
        .alias("spend_cents"),
    )
    return features_from_per_user(per_user)


def stream_slo_burn(
    spark: SparkSession, sf_dir: str, budget_pct: float = 1.0
) -> DataFrame:
    """Streaming twin of `monitoring.slo_burn`: the live error-budget
    panel. ONE streaming aggregation over (epoch day) carries the
    daily totals/errors (state = #days rows); the burn/cumulative coda
    is the SHARED batch coda (`monitoring.slo_burn_from_daily`) over
    that sink — budget parameter included, so batch and stream cannot
    drift. availableNow state == batch daily counts, so it shares the
    batch oracle verbatim."""
    src = _events_stream(spark, sf_dir).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    daily = src.groupBy(
        F.expr("unix_micros(ts) div 86400000000").alias("day_no")
    ).agg(
        F.count("*").alias("n_total"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("bigint")
        .alias("n_errors"),
    )
    state = materialize(_run_to_memory(daily, "complete"))
    from ..operators.monitoring import slo_burn_from_daily

    return slo_burn_from_daily(state, budget_pct)


def stream_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `monitoring.bounce_rate_daily`: live
    engagement. The stateful part is the `F.session_window`
    aggregation `stream_sessions` already uses (same 30-minute gap —
    batch-equivalence of the sessionizer is already pinned); the
    bounce panel is a batch coda over the session sink keyed by the
    session's start day. availableNow sessions == batch sessions, so
    it shares the batch panel's oracle verbatim."""
    sessions = stream_sessions(spark, sf_dir)
    from ..operators.monitoring import bounce_panel_from_sessions

    return bounce_panel_from_sessions(
        sessions.select(
            F.expr("start_us div 86400000000").alias("day_no"), "n_events"
        )
    )


def stream_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `analytics.trend_slope_panel`: the live drift
    panel. The five sufficient sums are DECIMAL aggregates — exact and
    MERGEABLE, so they are legal streaming state (running double
    state would not be reproducible); state is #types rows. The
    pinned-order combine (slope/intercept/R²) runs as a batch coda
    over the sink. availableNow state == the batch sums, hence the
    shared oracle."""
    from ..operators.analytics import TREND_FINAL_SQL, TREND_SUMS_SQL, TREND_X_SPARK

    src = _events_stream(spark, sf_dir).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    # TREND_X_SPARK verbatim (its cast is a no-op here): batch,
    # stream, and oracle share one hour-bucket definition
    sums = src.groupBy("event_type").agg(
        *[
            F.expr(sql.format(x=TREND_X_SPARK, y="value")).alias(name)
            for name, sql in TREND_SUMS_SQL.items()
        ]
    )
    state = materialize(_run_to_memory(sums, "complete"))
    return (
        state.select(
            "event_type",
            "n",
            *[F.expr(sql).alias(name) for name, sql in TREND_FINAL_SQL.items()],
        )
        .orderBy("event_type")
    )


def _stream_timed_state(spark: SparkSession, sf_dir: str, *keys) -> DataFrame:
    """The two-sample twins' ONE state: the events stream counted per
    (keys…, event-µs) into a complete-mode memory sink — the
    ``(keys…, us, n)`` relation `util.tag_halves` splits with
    ``us="us"`` (midpoint, NULL and parity-versus-production trade
    documented there). NULL values stay in state: the midpoint is
    fixed over the WHOLE feed before any coda drops them. Always
    materialized: `stream_welch`'s coda self-joins the state, and a
    memory-sink self-join fails analysis (the
    `stream_period_over_period` gotcha)."""
    state_agg = _events_stream(spark, sf_dir).groupBy(
        *keys, F.expr(FEED_US).alias("us")
    ).agg(F.count("*").alias("n"))
    return materialize(_run_to_memory(state_agg, "complete"))


def _stream_half_counts(
    spark: SparkSession, sf_dir: str, value: str, prefix: str
) -> DataFrame:
    """The streaming `util.half_counts`: per-(event_type, value) half
    counts over `_stream_timed_state`, NULL values dropped — the
    relation the batch member reduces the feed to, so every coda runs
    unchanged. ``value`` is ``"value"`` or the integer ``"cents"``
    axis."""
    axis = (
        F.expr("CAST(round(value * 100) AS BIGINT)")
        if value == "cents"
        else F.col("value")
    )
    state = _stream_timed_state(spark, sf_dir, "event_type", axis.alias(value))
    per_value = half_counts(
        state, ["event_type"], value, prefix, weight="n", us="us"
    )
    return per_value.filter(F.col(value).isNotNull())


def stream_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `anomaly.ks_drift`: the live distribution-
    drift monitor over `_stream_half_counts` (the two-sample state and
    its trade: `util.tag_halves`). The coda is `ks_from_value_counts`,
    the SAME core as the batch operator, so replayed under
    availableNow the result equals `ks_drift` exactly and shares its
    oracle verbatim."""
    from ..operators.anomaly import ks_from_value_counts

    # same diamond as the batch op: per_value feeds totals + the ECDF
    per_value = _stream_half_counts(spark, sf_dir, "value", "d")
    return ks_from_value_counts(materialize(per_value))


def stream_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `anomaly.changepoint_detect`: the live
    level-shift monitor ("traffic stepped on day X"). The per-(type,
    day) count is the single streaming aggregation — state is
    #types × #days rows, constant-bounded like `stream_trending_types`
    — and the breakpoint search runs as a batch coda via
    `changepoint_from_daily`, the SAME core as the batch operator.
    availableNow state == the batch daily counts, hence the shared
    oracle verbatim."""
    from ..operators.anomaly import changepoint_from_daily

    src = _events_stream(spark, sf_dir)
    day = F.expr("unix_micros(cast(ts as timestamp)) div 86400000000")
    counts = src.groupBy("event_type", day.alias("day")).agg(
        F.count("*").alias("y")
    )
    return changepoint_from_daily(materialize(_run_to_memory(counts, "complete")))


def _documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `documents` table replayed as a file stream — the corpus-
    ingest twin of `_events_stream` for the curation-side streaming
    operators (a live pipeline would read the crawler's landing
    directory or a Kafka topic with the same schema)."""
    configure_session(spark)
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("basePath", sf_dir)
        .parquet(f"{sf_dir}/documents.parque[t]")
    )


def stream_line_boilerplate(
    spark: SparkSession,
    sf_dir: str,
    max_docs: int = 20,
    mutate=None,
) -> DataFrame:
    """Streaming twin of `dedup.boilerplate_lines`: the live hot-line
    monitor a continuously-ingesting curation pipeline runs so new
    boilerplate (a template change upstream) is caught as it appears,
    not at the next batch sweep.

    Streaming state is the (line, doc_id) pair-count aggregation —
    bounded by distinct (line, doc) pairs, the `stream_dedup` /
    `stream_contract_audit` documented trade (production bounds it
    with a watermark over ingest time + state TTL). The coda over the
    availableNow sink is the SAME reduction the batch panel runs —
    doc_freq = count of distinct docs (already distinct in state),
    occurrences = Σ pair counts — so the result equals
    `boilerplate_lines` exactly and shares its oracle verbatim.

    ``mutate`` is the entry-layer plug point (the registry injects
    deterministic boilerplate, since the synthetic corpus is
    single-line)."""
    src = _documents_stream(spark, sf_dir)
    if mutate is not None:
        src = mutate(src)
    pairs = src.select(
        "doc_id", F.explode(F.split("text", "\n")).alias("line")
    ).groupBy("line", "doc_id").agg(F.count("*").alias("n"))
    state = _run_to_memory(pairs, "complete")
    return (
        state.groupBy("line")
        .agg(
            F.count("*").cast("bigint").alias("doc_freq"),
            F.sum("n").cast("bigint").alias("n_occurrences"),
        )
        .filter(F.col("doc_freq") > F.lit(int(max_docs)))
        .select(
            "line",
            "doc_freq",
            "n_occurrences",
            (F.col("n_occurrences") * F.length("line").cast("bigint")).alias(
                "chars_mass"
            ),
        )
        .orderBy(F.col("doc_freq").desc(), F.col("line"))
    )


def stream_psi_drift(spark: SparkSession, sf_dir: str, nbins: int = 10) -> DataFrame:
    """Streaming twin of `anomaly.psi_drift`: the live distribution-
    stability monitor over the `_stream_timed_state` per-(value,
    event-µs) counts (the two-sample trade: `util.tag_halves`) — the
    feed midpoint AND the reference deciles are only known once the
    feed is seen. The coda reduces state to per-distinct-value half
    counts and runs `psi_from_value_counts`, the batch coda verbatim
    (exact `percentile_disc` replica, bin CASE, PSI term), so the
    availableNow result equals `psi_drift` and shares its oracle. NULL
    values ride to the ELSE bin exactly as the batch CASE sends
    them."""
    from ..operators.anomaly import psi_from_value_counts

    state = _stream_timed_state(spark, sf_dir, "value")
    per_value = half_counts(state, [], "value", "d", weight="n", us="us")
    return psi_from_value_counts(materialize(per_value), nbins)


def stream_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `analytics.mannwhitney_u`: the live
    distribution-free location-shift monitor over `_stream_half_counts`
    (trade: `util.tag_halves`); the coda is `mwu_from_value_counts`,
    the SAME exact-integer core as the batch operator, so the
    availableNow result equals `mannwhitney_u` and shares its oracle
    verbatim."""
    from ..operators.analytics import mwu_from_value_counts

    return mwu_from_value_counts(
        _stream_half_counts(spark, sf_dir, "value", "c")
    )


def stream_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `analytics.welch_ttest`: the live mean-shift
    monitor over the `_stream_timed_state` counts (trade:
    `util.tag_halves`). The coda rebuilds each side's exact decimal
    sufficient statistics from the per-distinct-value counts
    (n = Σc, Σx = Σ value·c, Σx² = Σ value²·c — exact decimal
    arithmetic, so identical to the batch row-wise sums digit for
    digit) and hands them to `welch_from_sides`, the SAME finals as
    the batch operator. availableNow result == `welch_ttest`, oracle
    shared verbatim."""
    from ..operators.analytics import welch_from_sides

    state = _stream_timed_state(spark, sf_dir, "event_type", "value")
    sides = (
        tag_halves(state, "us")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            "is_ref",
            F.col("value").cast("decimal(18,2)").alias("x"),
            "n",
        )
        .groupBy("event_type", "is_ref")
        .agg(
            F.sum("n").alias("n"),
            F.sum(F.expr("x * CAST(n AS DECIMAL(20,0))")).alias("sx"),
            F.sum(
                F.expr(
                    "CAST(CAST(x * x AS DECIMAL(38,4))"
                    " * CAST(n AS DECIMAL(20,0)) AS DECIMAL(38,4))"
                )
            ).alias("sxx"),
        )
    )
    return welch_from_sides(sides)


def stream_moment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `analytics.moment_stats`: live distribution-
    shape monitoring (mean/variance/skew/kurtosis per type). State is
    the (event_type, value) count relation — bounded by distinct
    values per type, the standard exactness trade for moment tracking
    (a production variant buckets values). The coda rebuilds the four
    exact decimal power sums from the counts: per-distinct-value
    powers are the IDENTICAL pinned double products the batch operator
    computes per row (v·v, (v·v)·v, ((v·v)·v)·v, each rounded into a
    decimal ONCE), multiplied by integer counts — operand precisions
    chosen so p1+p2+1 ≤ 38 and Spark's decimal-multiply keeps scale 10
    with NO precision-loss rounding. Sums therefore equal the batch
    row-wise sums digit for digit, and `moments_from_sums` is the
    SAME finals. availableNow == batch; oracle shared verbatim.
    NULL values stay in state (they count toward n, as in the batch
    count(*)) and are excluded from the power sums by SUM semantics."""
    from ..operators.analytics import moments_from_sums

    src = _events_stream(spark, sf_dir)
    state_agg = src.groupBy("event_type", "value").agg(F.count("*").alias("cnt"))
    state = materialize(_run_to_memory(state_agg, "complete"))
    c10 = "CAST(cnt AS DECIMAL(10,0))"
    sums = state.groupBy("event_type").agg(
        F.expr("CAST(SUM(cnt) AS BIGINT)").alias("n"),
        F.expr(
            "CAST(SUM(CAST(value AS DECIMAL(18,2))"
            f" * {c10}) AS DOUBLE)"
        ).alias("s1"),
        F.expr(
            f"CAST(SUM(CAST(value * value AS DECIMAL(27,10)) * {c10}) AS DOUBLE)"
        ).alias("s2"),
        F.expr(
            "CAST(SUM(CAST((value * value) * value AS DECIMAL(27,10))"
            f" * {c10}) AS DOUBLE)"
        ).alias("s3"),
        F.expr(
            "CAST(SUM(CAST(((value * value) * value) * value AS DECIMAL(27,10))"
            f" * {c10}) AS DOUBLE)"
        ).alias("s4"),
    )
    return moments_from_sums(sums)


def stream_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `analytics.cramers_v_stat` — the live
    association monitor with the BEST streaming state story in the
    stat-twin family: state is the (event_type, day-of-week) cell
    count, bounded by #types×7 regardless of feed size (no per-value
    or per-µs state at all). The coda is the SHARED
    `cramers_v_from_margins` finals over `margins_from_cells`;
    integer cell counts are accumulation-order-free, so availableNow
    == batch digit for digit and the oracle is shared verbatim."""
    from ..operators.analytics import cramers_v_from_margins, margins_from_cells

    src = _events_stream(spark, sf_dir)
    dow = F.expr("(unix_micros(cast(ts as timestamp)) div 86400000000) % 7")
    agg = src.groupBy("event_type", dow.alias("dow")).agg(
        F.count("*").alias("obs")
    )
    cells = materialize(_run_to_memory(agg, "complete"))
    return cramers_v_from_margins(*margins_from_cells(cells))


def stream_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `analytics.mutual_information_stat`: same
    #types×7-bounded cell-count state as `stream_cramers_v`, same
    shared coda contract (`mutual_information_from_margins` over
    `margins_from_cells`). availableNow == batch; oracle shared
    verbatim."""
    from ..operators.analytics import (
        margins_from_cells,
        mutual_information_from_margins,
    )

    src = _events_stream(spark, sf_dir)
    dow = F.expr("(unix_micros(cast(ts as timestamp)) div 86400000000) % 7")
    agg = src.groupBy("event_type", dow.alias("dow")).agg(
        F.count("*").alias("obs")
    )
    cells = materialize(_run_to_memory(agg, "complete"))
    return mutual_information_from_margins(*margins_from_cells(cells))


def stream_alerts_to_maildir(
    spark: SparkSession, sf_dir: str, maildir: str, threshold: float = 99.0
) -> int:
    """The production sink `stream_alerts`'s docstring promises:
    foreachBatch → `sinks.write_alert_maildir`. Each micro-batch's
    alert rows land as RFC-822 files (deterministic per-batch
    subdirectory + payload-hash Message-IDs, so a replayed batch
    after a failure overwrites its own mail instead of double-paging
    — the idempotence that makes foreachBatch's at-least-once
    contract safe). Returns the number of messages written."""
    import os

    from ..sources.sinks import write_alert_maildir

    src = _events_stream(spark, sf_dir)
    alerts = src.filter(F.col("value") > threshold).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    written = 0

    def _deliver(batch_df, batch_id: int) -> None:
        nonlocal written
        batch_dir = os.path.join(maildir, f"batch-{batch_id:06d}")
        written += len(
            write_alert_maildir(batch_df.orderBy("event_id"), batch_dir)
        )

    (
        alerts.writeStream.outputMode("append")
        .foreachBatch(_deliver)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return written


def stream_windowed_psi(
    spark: SparkSession,
    sf_dir: str,
    nbins: int = 10,
    bin_cents: int = 5000,
    lateness: str = "1 hour",
) -> DataFrame:
    """The WINDOWED/WATERMARKED drift twin: day-over-day PSI per event
    type against a sliding (previous-day) reference — unlike the
    complete-mode stat twins above, the stream here maintains only
    per-(window, type, bin) counts under a real watermark, so state is
    bounded by types × bins × in-flight windows and EVICTED as event
    time advances: the shape a for-real 24/7 drift monitor runs.
    Fixed-width integer-cent bins (`psi_fixed_bin_sql`) exist for
    exactly this reason — a stream cannot compute `psi_drift`'s
    reference deciles without seeing the future.

    Determinism (the `stream_join_alert_context_outer` precedent):
    under availableNow the final watermark is max(event time) −
    lateness, and APPEND mode emits exactly the windows whose end ≤
    that watermark — so the emitted day set is a deterministic
    function of the feed, and the batch coda/oracle apply the same
    cutoff (`windowed_psi` over the finalized days). Days whose
    previous day was cut by the horizon score against it only if both
    are finalized.

    Scale: the streaming aggregation is the only stateful stage; the
    PSI coda (`windowed_psi_from_counts`) runs on the tiny finalized
    count relation."""
    from ..operators.anomaly import psi_fixed_bin_sql, windowed_psi_from_counts

    src = _events_stream(spark, sf_dir)
    # withWatermark requires LTZ; value-preserving under pinned UTC
    src = src.withColumn("ts", F.col("ts").cast("timestamp"))
    binned = (
        src.filter(F.col("value").isNotNull())
        .withWatermark("ts", lateness)
        .groupBy(
            F.window("ts", "1 day").alias("w"),
            "event_type",
            F.expr(psi_fixed_bin_sql(nbins, bin_cents)).alias("bin"),
        )
        .agg(F.count("*").alias("c"))
    )
    state = _run_to_memory(binned, "append")
    counts = state.select(
        "event_type",
        F.expr("unix_micros(cast(w.start as timestamp)) div 86400000000").alias(
            "day"
        ),
        "bin",
        F.col("c").alias("c"),
    )
    return windowed_psi_from_counts(counts, nbins)


def stream_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `monitoring.value_percentiles_interp`: the
    live exact-percentile panel. The counts conversion pays its
    streaming dividend here — the state is the per-(type, value)
    count relation (bounded by the value alphabet — no µs axis, unlike
    `_stream_timed_state`), which is exactly the input
    `util.cont_quantiles_from_counts` takes in weighted form, so the
    coda is the SAME rank arithmetic and the batch oracle applies
    verbatim. (Spark's own `percentile` aggregate is not allowed in
    streaming complete mode without buffering every value per group —
    the OOM shape this family exists to avoid.)"""
    from ..operators.util import cont_quantiles_from_counts

    src = _events_stream(spark, sf_dir)
    state_agg = src.groupBy("event_type", "value").agg(F.count("*").alias("n"))
    return cont_quantiles_from_counts(
        _run_to_memory(state_agg, "complete"),
        ["event_type"],
        "value",
        [("p50", 1, 2), ("p95", 19, 20), ("p99", 99, 100)],
        weight="n",
    ).orderBy("event_type")


def stream_apdex(
    spark: SparkSession, sf_dir: str, threshold_cents: int = 10000
) -> DataFrame:
    """Streaming twin of `analytics.apdex_score`: the live
    satisfaction index. The best state shape in the family — the
    stream maintains only (event_type, class) counts (≤ #types × 3
    rows, forever), and the coda is the SHARED
    `apdex_from_class_counts`, so availableNow equals the batch panel
    digit for digit and the batch oracle applies verbatim."""
    from ..operators.analytics import apdex_from_class_counts

    src = _events_stream(spark, sf_dir)
    cents = F.expr("CAST(round(value * 100) AS BIGINT)")
    classified = src.filter(F.col("value").isNotNull()).select(
        "event_type",
        F.when(cents <= threshold_cents, "sat")
        .when(cents <= 4 * threshold_cents, "tol")
        .otherwise("fru")
        .alias("cls"),
    )
    state = _run_to_memory(
        classified.groupBy("event_type", "cls").agg(F.count("*").alias("n")),
        "complete",
    )
    return apdex_from_class_counts(state)


def stream_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `event_analytics.burstiness_panel`: the live
    arrival-dispersion monitor. State is the (event_type, minute)
    count relation in complete mode — the `minute_counts` relation
    itself, bounded by #types × observed minutes (production bounds
    the horizon with a watermark + state TTL; the Fano reduction only
    ever reads counts, so expiry composes cleanly). The coda is the
    SHARED `burstiness_from_minute_counts`, so availableNow equals
    the batch panel digit for digit and the batch oracle applies
    verbatim."""
    from ..operators.event_analytics import burstiness_from_minute_counts

    src = _events_stream(spark, sf_dir)
    minute = F.expr("unix_micros(cast(ts as timestamp)) div 60000000")
    counts = (
        src.filter(F.col("ts").isNotNull())
        .select("event_type", minute.alias("minute"))
        .groupBy("event_type", "minute")
        .agg(F.count("*").alias("c"))
    )
    state = _run_to_memory(counts, "complete")
    return burstiness_from_minute_counts(state)


def stream_encoding_audit(
    spark: SparkSession, sf_dir: str, mutate=None
) -> DataFrame:
    """Streaming twin of `text.encoding_audit`: the live mojibake
    monitor a crawl-ingest pipeline runs so a charset regression
    upstream (a source suddenly full of U+FFFD) pages within a
    micro-batch instead of at the next batch sweep. The best state
    shape in the curation family — per-source 4 integer counters
    (≤ #sources × 4 cells, forever); the classify projection and the
    rate coda are the SHARED `encoding_doc_stats` /
    `encoding_panel_from_source_counts`, so availableNow equals the
    batch panel digit for digit and the batch oracle applies
    verbatim. ``mutate`` is the entry-layer contamination plug (the
    synthetic corpus is clean ASCII)."""
    from ..operators.text import (
        encoding_doc_stats,
        encoding_panel_from_source_counts,
        encoding_source_counts,
    )

    src = _documents_stream(spark, sf_dir)
    if mutate is not None:
        src = mutate(src)
    state = _run_to_memory(
        encoding_source_counts(encoding_doc_stats(src)), "complete"
    )
    return encoding_panel_from_source_counts(state)


def stream_wasserstein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `analytics.wasserstein_drift`: the live
    earth-mover drift monitor over the per-cents `_stream_half_counts`
    (trade: `util.tag_halves`); coda `wasserstein_from_value_counts`
    shared verbatim, so availableNow equals `wasserstein_drift` digit
    for digit and shares its oracle."""
    from ..operators.analytics import wasserstein_from_value_counts

    return wasserstein_from_value_counts(
        _stream_half_counts(spark, sf_dir, "cents", "c")
    )


def stream_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `analytics.cliffs_delta`: the live ordinal
    effect-size monitor over the per-cents `_stream_half_counts`
    (trade: `util.tag_halves`); coda `cliffs_from_value_counts` shared
    verbatim, so availableNow equals `cliffs_delta` digit for digit
    and shares its oracle."""
    from ..operators.analytics import cliffs_from_value_counts

    return cliffs_from_value_counts(
        _stream_half_counts(spark, sf_dir, "cents", "c")
    )


def stream_jackknife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `analytics.jackknife_variance`: live error
    bars on every per-type mean the dashboard shows. The BEST state
    bound in the stats family — the (event_type, bucket) sufficient-
    statistic relation is exactly B·#types rows FOREVER (the md5
    bucket and integer cents are stateless row projections; the sums
    are map-side-combinable), unlike the drift twins' per-distinct-
    value state. The coda replays the batch finals over that relation:
    identical window + quantized-pseudo-value arithmetic, so
    availableNow == `jackknife_variance` and the batch oracle applies
    verbatim."""
    from ..operators.analytics import jackknife_from_bucket_stats

    src = _events_stream(spark, sf_dir)
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("event_id").cast("string").cast("binary")), 1, 8),
            16,
            10,
        ).cast("bigint")
        % 20
    )
    state_agg = (
        src.filter(F.col("value").isNotNull())
        .select(
            "event_type",
            bucket.alias("bucket"),
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.sum(F.col("cents").cast("decimal(20,0)")).alias("s_b"),
            F.count("*").alias("n_b"),
        )
    )
    state = materialize(_run_to_memory(state_agg, "complete"))
    return jackknife_from_bucket_stats(state)


def stream_kendall(
    spark: SparkSession, sf_dir: str, x_quant: int = 8
) -> DataFrame:
    """Streaming twin of `analytics.kendall_tau`: the live
    ordinal-association monitor over a document ingest stream. State
    is the (source, x, y) joint count relation — bounded by the
    LENGTH ALPHABETS (max chars/x_quant × max token count), never the
    corpus — and the coda is
    the SHARED `kendall_from_joint_counts`, so availableNow equals
    the batch τ-b digit for digit and the batch oracle applies
    verbatim. materialize() before the coda: the grid spine joins
    three derivations of the state (distinct-x × distinct-y ×
    counts), the memory-sink self-join gotcha."""
    from ..operators.analytics import kendall_from_joint_counts

    src = _documents_stream(spark, sf_dir)
    toks = F.filter(F.split("text", r"\s+"), lambda t: t != "")
    state_agg = (
        src.filter(F.col("text").isNotNull() & F.col("n_chars").isNotNull())
        .select(
            "source",
            F.expr(f"n_chars div {int(x_quant)}").alias("x"),
            F.size(toks).cast("bigint").alias("y"),
        )
        .groupBy("source", "x", "y")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    state = materialize(_run_to_memory(state_agg, "complete"))
    return kendall_from_joint_counts(state)


def _watermarked_day_cents_counts(
    spark: SparkSession, sf_dir: str, lateness: str, by_cohort: bool = False
) -> DataFrame:
    """The ONE watermarked state shape behind every windowed drift
    twin (W1/KS/AD/CvM/Kuiper/Cliff's): per-(window, type, cents)
    counts under a real watermark, EVICTED as event time advances
    (bounded by types × value alphabet × in-flight windows), replayed
    availableNow in APPEND mode so only FINALIZED days emit — the
    `stream_windowed_psi` determinism argument word for word. Returns
    the finalized (event_type[, cohort], day, cents, c) relation the
    batch `*_from_counts` codas take verbatim; ``by_cohort`` adds the
    bounded cohort key via `util.with_cohort` — a pre-enriched stream
    carrying a materialized ``cohort`` ingest column skips the per-row
    parse exactly like the batch path (state grows by the cohort
    factor, still bounded)."""
    from ..operators.util import with_cohort

    src = _events_stream(spark, sf_dir)
    src = src.withColumn("ts", F.col("ts").cast("timestamp"))
    keys = ["event_type"]
    if by_cohort:
        src = with_cohort(src)
        keys.append("cohort")
    binned = (
        src.filter(F.col("value").isNotNull())
        .withWatermark("ts", lateness)
        .groupBy(
            F.window("ts", "1 day").alias("w"),
            *keys,
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        )
        .agg(F.count("*").alias("c"))
    )
    state = _run_to_memory(binned, "append")
    return state.select(
        *keys,
        F.expr("unix_micros(cast(w.start as timestamp)) div 86400000000").alias(
            "day"
        ),
        "cents",
        "c",
    )


def stream_windowed_wasserstein(
    spark: SparkSession, sf_dir: str, lateness: str = "1 hour"
) -> DataFrame:
    """Watermarked twin of `analytics.windowed_wasserstein`: the live
    day-over-day earth-mover monitor. Same state discipline as
    `stream_windowed_psi` — per-(window, type, cents) counts under a
    real watermark, EVICTED as event time advances (bounded by types ×
    value alphabet × in-flight windows) — but on the integer-cents
    value axis, so the finalized relation is exactly what
    `windowed_wasserstein_from_counts` takes and the coda/oracle are
    shared verbatim over the finalized day set (APPEND emits windows
    whose end ≤ final watermark; the scoring rule is monotone in day,
    so the cut is well-defined — the `stream_windowed_psi`
    determinism argument word for word)."""
    from ..operators.analytics import windowed_wasserstein_from_counts

    return windowed_wasserstein_from_counts(
        _watermarked_day_cents_counts(spark, sf_dir, lateness)
    )


def stream_windowed_ks(
    spark: SparkSession, sf_dir: str, lateness: str = "1 hour"
) -> DataFrame:
    """Watermarked twin of `anomaly.windowed_ks` — identical state
    discipline to `stream_windowed_wasserstein` (per-(window, type,
    cents) counts, real eviction, append over finalized days); only
    the coda differs (max ECDF gap instead of the trapezoid area), so
    the two twins together keep the full windowed drift triple live
    from ONE state shape."""
    from ..operators.anomaly import windowed_ks_from_counts

    return windowed_ks_from_counts(
        _watermarked_day_cents_counts(spark, sf_dir, lateness)
    )


def stream_kruskal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `analytics.kruskal_wallis`: the live k-sample
    location monitor. State is the (event_type, value) count relation
    — bounded by the value alphabet × k types, `_stream_timed_state`
    WITHOUT its µs axis (Kruskal needs no feed midpoint, so the state is the smaller pure count
    shape) — and the coda is the SHARED `kruskal_from_value_counts`,
    so availableNow equals the batch components digit for digit and
    the batch oracle applies verbatim."""
    from ..operators.analytics import kruskal_from_value_counts

    src = _events_stream(spark, sf_dir)
    state_agg = (
        src.filter(F.col("value").isNotNull())
        .groupBy("event_type", "value")
        .agg(F.count("*").alias("c"))
    )
    state = materialize(_run_to_memory(state_agg, "complete"))
    return kruskal_from_value_counts(state)


def _stream_dense_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily count state shared by the streaming trend-test twins:
    the (event_type, day) count aggregation run availableNow, then
    densified exactly as `anomaly._dense_daily_counts` does (the
    densify step is a coda over the bounded state, not state
    itself)."""
    src = _events_stream(spark, sf_dir)
    day = F.expr("unix_micros(cast(ts as timestamp)) div 86400000000")
    state_agg = src.groupBy("event_type", day.alias("day")).agg(
        F.count("*").alias("y")
    )
    state = materialize(_run_to_memory(state_agg, "complete"))
    span = state.groupBy("event_type").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    return materialize(
        span.select(
            "event_type", F.explode(F.expr("sequence(d0, d1)")).alias("day")
        )
        .join(state, ["event_type", "day"], "left")
        .select("event_type", "day", F.coalesce("y", F.lit(0)).alias("y"))
    )


def stream_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `anomaly.mann_kendall_trend`: the live
    monotone-trend monitor. State is the (event_type, day) count
    relation — bounded by types × calendar days — and the coda is the
    SHARED `mann_kendall_from_daily`, so availableNow equals the
    batch components digit for digit and the batch oracle applies
    verbatim."""
    from ..operators.anomaly import mann_kendall_from_daily

    return mann_kendall_from_daily(_stream_dense_daily(spark, sf_dir))


def stream_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `anomaly.runs_test` over the same daily
    count state as `stream_mann_kendall`; coda shared verbatim."""
    from ..operators.anomaly import runs_from_daily

    return runs_from_daily(_stream_dense_daily(spark, sf_dir))


def stream_quantile_drift(
    spark: SparkSession, sf_dir: str, lateness: str = "1 hour"
) -> DataFrame:
    """Watermarked twin of `analytics.quantile_drift` — the same
    state discipline as `stream_windowed_wasserstein` (per-(window,
    type, cents) counts under a real watermark, evicted as event time
    advances, append over finalized days); the coda is the SHARED
    `quantile_drift_from_counts` — one lazy chain over the finalized
    state, each day's deltas read from the same type's row for the day
    before through a range frame — so the finalized-day rows equal the
    batch panel digit for digit, and nothing runs after the replay
    until the caller's action."""
    from ..operators.analytics import quantile_drift_from_counts

    return quantile_drift_from_counts(
        _watermarked_day_cents_counts(spark, sf_dir, lateness)
    )


def stream_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `analytics.brown_forsythe`: the live
    spread-shift monitor. State is the (event_type, cents) count
    relation — the `stream_kruskal` shape on the cents axis — and the
    coda is the SHARED `brown_forsythe_from_counts`, so availableNow
    equals the batch components digit for digit and the batch oracle
    applies verbatim."""
    from ..operators.analytics import brown_forsythe_from_counts

    src = _events_stream(spark, sf_dir)
    state_agg = (
        src.filter(F.col("value").isNotNull())
        .groupBy(
            "event_type",
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        )
        .agg(F.count("*").alias("c"))
    )
    state = materialize(_run_to_memory(state_agg, "complete"))
    return brown_forsythe_from_counts(state)


def stream_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `analytics.anova_oneway` — the family's best
    state bound: 3 integers per event type, forever (no value
    alphabet, no calendar). Decimal accumulation makes the sums
    order-independent, so availableNow equals the batch components
    digit for digit and the batch oracle applies verbatim."""
    from ..operators.analytics import anova_from_moments

    src = _events_stream(spark, sf_dir)
    state_agg = (
        src.filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_i"),
            F.sum(F.expr("CAST(cents AS DECIMAL(38,0))")).alias("sx"),
            F.sum(
                F.expr(
                    "CAST(cents AS DECIMAL(38,0)) * CAST(cents AS DECIMAL(38,0))"
                )
            ).alias("sx2"),
        )
    )
    state = materialize(_run_to_memory(state_agg, "complete"))
    return anova_from_moments(state)


def stream_mood_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `analytics.mood_median_test` over the
    `stream_kruskal` state shape ((event_type, cents) counts); coda
    shared verbatim, so availableNow equals the batch table digit for
    digit and the batch oracle applies."""
    from ..operators.analytics import mood_from_value_counts

    src = _events_stream(spark, sf_dir)
    state_agg = (
        src.filter(F.col("value").isNotNull())
        .groupBy(
            "event_type",
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        )
        .agg(F.count("*").alias("c"))
    )
    state = materialize(_run_to_memory(state_agg, "complete"))
    return mood_from_value_counts(state)


def stream_anderson_darling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `anomaly.anderson_darling`: the live
    tail-sensitive drift monitor over the shared
    `_stream_half_counts`; coda (`ad_from_value_counts`)
    shared verbatim, so availableNow equals the batch panel digit for
    digit and the batch oracle applies."""
    from ..operators.anomaly import ad_from_value_counts

    return ad_from_value_counts(
        materialize(_stream_half_counts(spark, sf_dir, "value", "d"))
    )


def stream_cramer_von_mises(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `anomaly.cramer_von_mises` over the shared
    `_stream_half_counts`; coda shared verbatim (same
    integer numerator), batch oracle applies."""
    from ..operators.anomaly import cvm_from_value_counts

    return cvm_from_value_counts(
        materialize(_stream_half_counts(spark, sf_dir, "value", "d"))
    )


def stream_kuiper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `anomaly.kuiper_drift` over the shared
    `_stream_half_counts`; coda shared verbatim (signed
    integer gaps), batch oracle applies."""
    from ..operators.anomaly import kuiper_from_value_counts

    return kuiper_from_value_counts(
        materialize(_stream_half_counts(spark, sf_dir, "value", "d"))
    )


def stream_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `analytics.hodges_lehmann`: the live robust
    shift estimate over the per-cents `_stream_half_counts` (trade:
    `util.tag_halves`); coda `hl_from_value_counts` shared verbatim,
    so availableNow equals `hodges_lehmann` and shares its oracle."""
    from ..operators.analytics import hl_from_value_counts

    return hl_from_value_counts(
        _stream_half_counts(spark, sf_dir, "cents", "c")
    )


def stream_dow_gof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `analytics.dow_activity_gof`: the live
    weekly-shape monitor. State is the (event_type, day) daily count
    relation — ≤ types × days rows forever, one of the family's
    tightest bounds (no value alphabet) — and the coda is the SHARED
    `dow_gof_from_daily`, so availableNow equals the batch table
    digit for digit and the batch oracle applies verbatim."""
    from ..operators.analytics import dow_gof_from_daily

    src = _events_stream(spark, sf_dir)
    state_agg = src.groupBy(
        "event_type",
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("day"),
    ).agg(F.count("*").alias("n"))
    state = materialize(_run_to_memory(state_agg, "complete"))
    return dow_gof_from_daily(state)


def stream_windowed_anderson_darling(
    spark: SparkSession, sf_dir: str, lateness: str = "1 hour"
) -> DataFrame:
    """Watermarked twin of `anomaly.windowed_anderson_darling` —
    identical state discipline to `stream_windowed_ks` (per-(window,
    type, cents) counts, real eviction, append over finalized days);
    only the coda differs (the fixed-point tail-weighted terms), so
    the windowed drift family stays live from ONE state shape."""
    from ..operators.anomaly import windowed_ad_from_counts

    return windowed_ad_from_counts(
        _watermarked_day_cents_counts(spark, sf_dir, lateness)
    )


def stream_windowed_cliffs(
    spark: SparkSession, sf_dir: str, lateness: str = "1 hour"
) -> DataFrame:
    """Watermarked twin of `analytics.windowed_cliffs_delta` — the
    `stream_windowed_ks` state shape with the pair-class cumsum coda
    (`windowed_cliffs_from_counts`) over the finalized days."""
    from ..operators.analytics import windowed_cliffs_from_counts

    return windowed_cliffs_from_counts(
        _watermarked_day_cents_counts(spark, sf_dir, lateness)
    )


def stream_seasonal_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `anomaly.seasonal_mann_kendall` over the
    SAME daily count state as `stream_mann_kendall` (one state
    relation serves the whole trend-test family); the dow key and the
    shared keyed coda are pure coda work, so availableNow equals the
    batch components digit for digit and the batch oracle applies
    verbatim."""
    from ..operators.anomaly import mann_kendall_from_daily

    dense = _stream_dense_daily(spark, sf_dir).select(
        "event_type",
        ((F.col("day") + 4) % 7).cast("int").alias("dow"),
        "day",
        "y",
    )
    return mann_kendall_from_daily(dense, keys=["event_type", "dow"])


def stream_jonckheere(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `analytics.jonckheere_terpstra`: the live
    ordered-diurnal-trend monitor. State is the (event_type, hour,
    cents) count relation — bounded by 24 × value alphabet × k,
    forever — and the coda is the SHARED `jt_from_cell_counts`
    (dense-grid cascaded prefix sums), so availableNow equals the
    batch components digit for digit and the batch oracle applies
    verbatim."""
    from ..operators.analytics import jt_from_cell_counts

    src = _events_stream(spark, sf_dir)
    state_agg = (
        src.filter(F.col("value").isNotNull())
        .groupBy(
            "event_type",
            F.expr(
                "(unix_micros(cast(ts as timestamp)) div 3600000000) % 24"
            ).alias("h"),
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        )
        .agg(F.count("*").alias("c"))
    )
    state = _run_to_memory(state_agg, "complete")
    return jt_from_cell_counts(state)


def stream_ansari_bradley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `anomaly.ansari_bradley`: the live two-sample
    SCALE monitor over the shared `_stream_half_counts`;
    coda (`ab_from_value_counts`) shared verbatim, so availableNow
    equals the batch panel digit for digit and the batch oracle
    applies."""
    from ..operators.anomaly import ab_from_value_counts

    return ab_from_value_counts(
        materialize(_stream_half_counts(spark, sf_dir, "value", "d"))
    )


def stream_windowed_ks_by_cohort(
    spark: SparkSession, sf_dir: str, lateness: str = "1 hour"
) -> DataFrame:
    """Watermarked twin of `anomaly.windowed_ks_by_cohort` — the
    shared cohort-keyed `_watermarked_day_cents_counts` state (one
    more bounded key) with the cohort KS coda over the finalized
    days."""
    from ..operators.anomaly import windowed_ks_by_cohort_from_counts

    return windowed_ks_by_cohort_from_counts(
        _watermarked_day_cents_counts(spark, sf_dir, lateness, by_cohort=True)
    )


def stream_windowed_w1_by_cohort(
    spark: SparkSession, sf_dir: str, lateness: str = "1 hour"
) -> DataFrame:
    """Watermarked twin of `analytics.windowed_wasserstein_by_cohort`
    — the shared cohort-keyed state with the cohort W1 coda over the
    finalized days."""
    from ..operators.analytics import windowed_w1_by_cohort_from_counts

    return windowed_w1_by_cohort_from_counts(
        _watermarked_day_cents_counts(spark, sf_dir, lateness, by_cohort=True)
    )


def stream_windowed_lepage(
    spark: SparkSession, sf_dir: str, lateness: str = "1 hour"
) -> DataFrame:
    """Watermarked twin of `anomaly.windowed_lepage` — the shared
    `_watermarked_day_cents_counts` state with the omnibus
    location+scale coda over the finalized days."""
    from ..operators.anomaly import windowed_lepage_from_counts

    return windowed_lepage_from_counts(
        _watermarked_day_cents_counts(spark, sf_dir, lateness)
    )


def _stream_daily_cents_sums(
    spark: SparkSession, sf_dir: str, by_cohort: bool = False
) -> DataFrame:
    """Streaming construction of `util.daily_cents_sums`: the
    changepoint family's state is the (event_type[, cohort], day,
    Σcents, count) daily sufficient-statistics aggregation — BOUNDED
    by types × calendar days [× cohorts] (unlike the
    per-distinct-value complete-mode twins, this is the production
    state shape: a year of days is 365 rows per type no matter the
    feed rate)."""
    from ..operators.util import with_cohort

    src = _events_stream(spark, sf_dir)
    keys = ["event_type"]
    if by_cohort:
        src = with_cohort(src)
        keys.append("cohort")
    agg = (
        src.filter(F.col("value").isNotNull())
        .groupBy(
            *keys,
            F.expr(
                "unix_micros(cast(ts as timestamp)) div 86400000000"
            ).alias("day"),
        )
        .agg(
            F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("s"),
            F.count("*").alias("c"),
        )
    )
    return materialize(_run_to_memory(agg, "complete"))


def stream_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `analytics.friedman_test`: the live
    day-blocked k-sample monitor over the bounded daily state (the
    `stream_pettitt` shape — types × days, production-sized); coda
    (`friedman_from_daily`) shared verbatim."""
    from ..operators.analytics import friedman_from_daily

    return friedman_from_daily(_stream_daily_cents_sums(spark, sf_dir))


def stream_quade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `analytics.quade_test`: the live weighted
    day-blocked k-sample monitor over the bounded daily state; coda
    (`quade_from_daily`) shared verbatim."""
    from ..operators.analytics import quade_from_daily

    return quade_from_daily(_stream_daily_cents_sums(spark, sf_dir))


def stream_pettitt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `anomaly.pettitt_test`: the live
    retrospective changepoint estimate over the bounded daily state;
    coda (`pettitt_from_daily`) shared verbatim, so availableNow
    equals the batch operator and shares its oracle."""
    from ..operators.anomaly import pettitt_from_daily

    return pettitt_from_daily(_stream_daily_cents_sums(spark, sf_dir))


def stream_page_hinkley_by_cohort(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming twin of `anomaly.page_hinkley_by_cohort`: the live
    per-cohort sequential changepoint monitor over the cohort-keyed
    bounded daily state; coda shared verbatim — and like the other
    daily-state twins, this state shape IS the production
    deployment."""
    from ..operators.anomaly import page_hinkley_from_daily

    return page_hinkley_from_daily(
        _stream_daily_cents_sums(spark, sf_dir, by_cohort=True),
        keys=["event_type", "cohort"],
    )


def stream_pettitt_by_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `anomaly.pettitt_by_cohort`: the attribution
    changepoint over the cohort-keyed bounded daily state; coda shared
    verbatim."""
    from ..operators.anomaly import pettitt_from_daily

    return pettitt_from_daily(
        _stream_daily_cents_sums(spark, sf_dir, by_cohort=True),
        keys=["event_type", "cohort"],
    )


def stream_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `anomaly.page_hinkley`: the live sequential
    changepoint monitor over the bounded daily state; coda
    (`page_hinkley_from_daily`) shared verbatim — and unlike the
    complete-mode parity twins, this state shape (types × days) IS the
    production deployment."""
    from ..operators.anomaly import page_hinkley_from_daily

    return page_hinkley_from_daily(_stream_daily_cents_sums(spark, sf_dir))


def stream_lepage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `anomaly.lepage_test`: the live combined
    location+scale monitor over the shared `_stream_half_counts`
   ; coda (`lepage_from_value_counts`) shared verbatim, so
    availableNow equals the batch panel digit for digit and the batch
    oracle applies."""
    from ..operators.anomaly import lepage_from_value_counts

    return lepage_from_value_counts(
        materialize(_stream_half_counts(spark, sf_dir, "value", "d"))
    )


def stream_windowed_cvm(
    spark: SparkSession, sf_dir: str, lateness: str = "1 hour"
) -> DataFrame:
    """Watermarked twin of `anomaly.windowed_cramer_von_mises` — the
    shared `_watermarked_day_cents_counts` state with the integer-L2
    coda over the finalized days."""
    from ..operators.anomaly import windowed_cvm_from_counts

    return windowed_cvm_from_counts(
        _watermarked_day_cents_counts(spark, sf_dir, lateness)
    )


def stream_windowed_kuiper(
    spark: SparkSession, sf_dir: str, lateness: str = "1 hour"
) -> DataFrame:
    """Watermarked twin of `anomaly.windowed_kuiper` — the shared
    `_watermarked_day_cents_counts` state with the signed-gap
    two-maxima coda over the finalized days."""
    from ..operators.anomaly import windowed_kuiper_from_counts

    return windowed_kuiper_from_counts(
        _watermarked_day_cents_counts(spark, sf_dir, lateness)
    )


def stream_mood_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `anomaly.mood_scale_test`: the live
    tail-weighted dispersion monitor over the shared
    `_stream_half_counts`; coda
    (`mood_scale_from_value_counts`) shared verbatim, so availableNow
    equals the batch panel digit for digit and the batch oracle
    applies."""
    from ..operators.anomaly import mood_scale_from_value_counts

    return mood_scale_from_value_counts(
        materialize(_stream_half_counts(spark, sf_dir, "value", "d"))
    )
