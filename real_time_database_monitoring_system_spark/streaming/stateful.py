"""Custom stateful streaming operator (SURVEY §2.8/§2.9): per-key
running aggregates via ``applyInPandasWithState``.

The reference keeps "state" server-side in PostgreSQL and recomputes
panels per poll. The Spark-native replacement for continuously-updated
per-key panels is a keyed state store: here, a per-user running
max/count/last-value tracker over the event feed — the shape of any
custom stateful rollup (session windows, alert debouncing, counters).

State is one small tuple per user (bounded keys), grouped processing is
Arrow-batched, and the same code runs on a live source; tests replay
the parquet feed with availableNow and check against the batch twin.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .rollup import _events_stream, _run_to_memory

STATE_SCHEMA = "n_events bigint, max_value double, last_event_id bigint"
OUTPUT_SCHEMA = "user_id bigint, n_events bigint, max_value double, last_event_id bigint"


def _track_user(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        n, mx, last = state.get
    else:
        n, mx, last = 0, float("-inf"), -1
    for pdf in batches:
        if len(pdf) == 0:
            # empty Arrow chunks make max() NaN and int(NaN) raise —
            # the _gap_buckets guard, applied here too (r12 review)
            continue
        n += len(pdf)
        mx = max(mx, float(pdf["value"].max()))
        # event_id is monotone in the feed: the max is the latest
        last = max(last, int(pdf["event_id"].max()))
    state.update((n, mx, last))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_events": [n], "max_value": [mx], "last_event_id": [last]}
    )


def stream_user_tracker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the stateful per-user tracker over the replayed feed and
    return the final per-user state table."""
    src = _events_stream(spark, sf_dir).select("user_id", "event_id", "value")
    tracked = src.groupBy("user_id").applyInPandasWithState(
        _track_user,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = _run_to_memory(tracked, "update")
    # update-mode emits one row per key per micro-batch: latest wins
    latest = out.groupBy("user_id").agg(
        {"n_events": "max", "max_value": "max", "last_event_id": "max"}
    )
    return latest.select(
        "user_id",
        latest["max(n_events)"].alias("n_events"),
        latest["max(max_value)"].alias("max_value"),
        latest["max(last_event_id)"].alias("last_event_id"),
    ).orderBy("user_id")


FUNNEL_STATE_SCHEMA = "t1 bigint, t2 bigint, t3 bigint"
FUNNEL_OUT_SCHEMA = "user_id bigint, t1 bigint, t2 bigint, t3 bigint"
_FUNNEL_STEPS = ("view", "click", "purchase")


def _advance_funnel(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user ordered-funnel state machine: (t1, t2, t3) = the µs
    instants the user completed each step under the strict order
    constraint (step i strictly after step i−1's recorded instant;
    −1 = not reached). Rows are processed in (ts, event_id) order
    inside each batch; across batches correctness relies on
    event-time-ordered arrival (true of the replay and of an in-order
    live source — late data would need watermark+retraction, the
    documented trade)."""
    (user_id,) = key
    t1, t2, t3 = state.get if state.exists else (-1, -1, -1)
    for pdf in batches:
        if len(pdf) == 0:
            continue  # the _gap_buckets empty-chunk guard (r12 review)
        pdf = pdf.sort_values(["us", "event_id"])
        t1, t2, t3 = _fold_chain(
            t1, t2, t3, zip(pdf["us"], pdf["event_type"], strict=True)
        )
    state.update((t1, t2, t3))
    yield pd.DataFrame({"user_id": [user_id], "t1": [t1], "t2": [t2], "t3": [t3]})


def _funnel_panel(final: DataFrame) -> DataFrame:
    """Panel coda shared by both streaming funnels: per-step user
    counts + step-over-step conversion over the per-user (t1,t2,t3)
    state table. Batch-side over #users rows; shares the batch
    funnel's oracle verbatim."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    # ONE aggregation computes all three step counts, then stacks to
    # long form — the previous per-step agg loop launched three
    # independent subplans that each re-ran the per-user grouping
    # (r12 review)
    counts = final.agg(
        *[
            F.sum(F.when(F.col(col) >= 0, 1).otherwise(0))
            .cast("bigint")
            .alias(f"n{i + 1}")
            for i, col in enumerate(("t1", "t2", "t3"))
        ]
    )
    stack_args = ", ".join(
        f"{i + 1}, '{step}', n{i + 1}" for i, step in enumerate(_FUNNEL_STEPS)
    )
    rows = counts.select(
        F.expr(
            f"stack(3, {stack_args}) AS (step_no, step, n_users)"
        )
    )
    w_prev = F.lag("n_users").over(Window.orderBy("step_no"))
    return (
        rows.withColumn(
            "conversion",
            F.round(
                F.when(
                    w_prev.isNotNull() & (w_prev != 0),
                    F.col("n_users").cast("double") / w_prev.cast("double"),
                ),
                9,
            ),
        )
        .orderBy("step_no")
    )


def stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ordered funnel via a custom per-user state machine —
    the stateful-streaming restatement of `event_analytics.
    funnel_counts` (whose batch plan is one join pass per step; a
    stream cannot re-scan, so the state machine carries exactly the
    three step instants per user). The panel coda (counts +
    conversions) runs batch-side over the final state table and the
    result shares the batch funnel's oracle verbatim.

    Assumes event-time-ordered arrival ACROSS micro-batches (true of
    the single-file replay); `stream_funnel_watermarked` removes that
    assumption with a per-user buffer + watermark and emits
    corrections when late data regresses a step instant."""
    from pyspark.sql import functions as F

    src = _events_stream(spark, sf_dir).select(
        "user_id",
        "event_id",
        "event_type",
        F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
    )
    tracked = src.groupBy("user_id").applyInPandasWithState(
        _advance_funnel,
        outputStructType=FUNNEL_OUT_SCHEMA,
        stateStructType=FUNNEL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = _run_to_memory(tracked, "update")
    # update-mode: one row per key per batch; step instants only ever
    # move from −1 to a value, so max picks the final state
    final = out.groupBy("user_id").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3")
    )
    return _funnel_panel(final)


# watermarked funnel: committed chain + out-of-order buffer + emission
# version, so late arrivals CORRECT earlier optimistic emissions
# instead of silently corrupting the chain
WM_FUNNEL_STATE_SCHEMA = (
    "t1 bigint, t2 bigint, t3 bigint, wm bigint, ver bigint, "
    "buf_us array<bigint>, buf_et array<string>"
)
WM_FUNNEL_OUT_SCHEMA = (
    "user_id bigint, t1 bigint, t2 bigint, t3 bigint, ver bigint"
)


def _fold_chain(t1: int, t2: int, t3: int, events) -> tuple[int, int, int]:
    """Advance the greedy-earliest funnel chain over (us, event_type)
    pairs already sorted by event time — the one view→click→purchase
    transition rule, shared by `_advance_funnel` and the watermarked
    funnel."""
    for us, et in events:
        us = int(us)
        if et == "view" and t1 < 0:
            t1 = us
        elif et == "click" and t1 >= 0 and us > t1 and t2 < 0:
            t2 = us
        elif et == "purchase" and t2 >= 0 and us > t2 and t3 < 0:
            t3 = us
    return t1, t2, t3


def _make_watermarked_funnel(lateness_us: int):
    def _advance(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        """Per-user watermarked funnel: events newer than the fold
        horizon (max event time seen for this user − lateness) stay in
        a sorted buffer; events at or below it are folded irreversibly
        into the committed chain. Each batch EMITS the full evaluation
        committed⊕buffer with a monotone version, so a late in-bound
        arrival that changes the greedy chain simply produces a newer
        emission (the retraction mechanism — consumers take the
        highest version per user, never a max over instants, because
        corrections can move instants DOWN or steps back to −1).
        Events older than the horizon when they arrive violate the
        declared lateness bound and are dropped, the standard
        watermark contract.

        No per-batch pre-sort: `buf.sort()` below establishes the
        (us, event_type) fold order, and same-instant ties are
        outcome-invariant anyway — every transition gate is a strict
        `us > t_prev` inequality, so two events at the same µs can
        never chain off each other regardless of tie order."""
        (user_id,) = key
        if state.exists:
            t1, t2, t3, wm, ver, buf_us, buf_et = state.get
            buf = list(zip(list(buf_us), list(buf_et), strict=True))
        else:
            t1, t2, t3, wm, ver, buf = -1, -1, -1, -(1 << 62), 0, []
        horizon = wm - lateness_us
        for pdf in batches:
            for us, et in zip(pdf["us"], pdf["event_type"], strict=True):
                us = int(us)
                if us > wm:
                    wm = us
                if us > horizon:
                    buf.append((us, et))
        buf.sort()
        horizon = wm - lateness_us
        n_commit = 0
        while n_commit < len(buf) and buf[n_commit][0] <= horizon:
            n_commit += 1
        t1, t2, t3 = _fold_chain(t1, t2, t3, buf[:n_commit])
        buf = buf[n_commit:]
        ver += 1
        state.update(
            (t1, t2, t3, wm, ver, [u for u, _ in buf], [e for _, e in buf])
        )
        p1, p2, p3 = _fold_chain(t1, t2, t3, buf)
        yield pd.DataFrame(
            {"user_id": [user_id], "t1": [p1], "t2": [p2], "t3": [p3], "ver": [ver]}
        )

    return _advance


def stream_funnel_watermarked(
    spark: SparkSession, sf_dir: str, lateness_us: int = 24 * 3600 * 1_000_000
) -> DataFrame:
    """Ordered funnel over an out-of-order feed: per-user watermark +
    buffer + versioned emissions (see `_make_watermarked_funnel`).
    Equals the batch funnel whenever every event arrives within
    `lateness_us` of the newest event already seen for its user —
    verified against a deliberately shuffled multi-file feed in
    tests/test_streaming.py. State per user is the committed chain
    plus only the not-yet-final tail of the feed (bounded by the
    lateness window at steady state)."""
    from pyspark.sql import functions as F

    # no event_id: the processor reads only (us, event_type) — its
    # former consumer was the removed per-batch pre-sort, and carrying
    # a dead bigint through the stateful exchange costs Arrow transfer
    src = _events_stream(spark, sf_dir).select(
        "user_id",
        "event_type",
        F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
    )
    tracked = src.groupBy("user_id").applyInPandasWithState(
        _make_watermarked_funnel(int(lateness_us)),
        outputStructType=WM_FUNNEL_OUT_SCHEMA,
        stateStructType=WM_FUNNEL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = _run_to_memory(tracked, "update")
    # corrections make instants non-monotone: take the latest VERSION
    # per user, not a max over instants
    final = (
        out.groupBy("user_id")
        .agg(
            F.max_by(F.struct("t1", "t2", "t3"), "ver").alias("s"),
        )
        .select("user_id", F.col("s.t1").alias("t1"), F.col("s.t2").alias("t2"), F.col("s.t3").alias("t3"))
    )
    return _funnel_panel(final)


GAP_STATE_SCHEMA = "last_us bigint"
GAP_OUT_SCHEMA = (
    "gap_bucket int, n_gaps bigint, min_gap_us bigint, max_gap_us bigint"
)


def _gap_buckets(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user gap tracker: state = the user's latest event-time µs;
    each batch emits that batch's (bucket, count, min, max) DELTAS —
    the boundary gap (first in-batch event vs state) included, so the
    union of all emissions is exactly the batch operator's gap set.
    Rows are sorted by (us, event_id) INSIDE the batch (Arrow group
    batches arrive in partition order, not time order); cross-batch
    correctness rides the feed's file-time order, the documented
    file-stream contract every stateful twin in this module shares."""
    last = state.get[0] if state.exists else None
    frames = []
    for pdf in batches:
        pdf = pdf.sort_values(["us", "event_id"])
        us = pdf["us"].to_numpy()
        if len(us) == 0:
            continue
        gaps = []
        if last is not None:
            gaps.append(int(us[0]) - int(last))
        if len(us) > 1:
            gaps.extend((us[1:] - us[:-1]).tolist())
        last = int(us[-1])
        if gaps:
            rows = {}
            for g in gaps:
                g = int(g)
                b = 0 if g < 1_000_000 else (g // 1_000_000).bit_length()
                n, mn, mx = rows.get(b, (0, g, g))
                rows[b] = (n + 1, min(mn, g), max(mx, g))
            frames.append(
                pd.DataFrame(
                    {
                        "gap_bucket": list(rows),
                        "n_gaps": [rows[b][0] for b in rows],
                        "min_gap_us": [rows[b][1] for b in rows],
                        "max_gap_us": [rows[b][2] for b in rows],
                    }
                )
            )
    if last is not None:
        state.update((last,))
    yield from frames


def stream_gap_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming twin of `event_analytics.gap_histogram`:
    the live arrival-pattern panel. Batch LAG needs the whole ordered
    series; the streaming shape is ONE bigint of state per user (the
    latest event time) with per-batch delta emissions — the union of
    deltas equals the batch gap set exactly, so the coda aggregation
    reproduces the batch panel digit for digit and shares its oracle
    verbatim. State is bounded by the user population; a production
    deployment adds a state TTL for dormant users (the documented
    watermark trade every per-user stateful op makes)."""
    from pyspark.sql import functions as F

    src = _events_stream(spark, sf_dir).select(
        "user_id",
        "event_id",
        F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
    )
    tracked = src.groupBy("user_id").applyInPandasWithState(
        _gap_buckets,
        outputStructType=GAP_OUT_SCHEMA,
        stateStructType=GAP_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = _run_to_memory(tracked, "update")
    from ..operators.util import materialize

    # diamond rule (and the memory-sink self-join guard): the bucket
    # rollup feeds the total row AND the final select
    counted = materialize(
        out.groupBy("gap_bucket").agg(
            F.sum("n_gaps").cast("bigint").alias("n_gaps"),
            F.min("min_gap_us").alias("min_gap_us"),
            F.max("max_gap_us").alias("max_gap_us"),
        )
    )
    total = counted.agg(F.sum("n_gaps").cast("bigint").alias("n_total"))
    return (
        counted.crossJoin(F.broadcast(total))
        .select(
            "gap_bucket",
            "n_gaps",
            "min_gap_us",
            "max_gap_us",
            (
                F.col("n_gaps").cast("double") / F.col("n_total").cast("double")
            ).alias("share"),
        )
        .orderBy("gap_bucket")
    )
