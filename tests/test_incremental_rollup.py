"""The persistent rollup table behind `stream_rollup_incremental`, and
the caller-visible state of both foreachBatch table sinks.

The test data ships `events.parquet` as one file, so a stream over it
runs a single micro-batch. These tests replay the same rows as a
directory of time-ordered part files — one micro-batch per file, a few
rows arriving late in a later file — so windows an earlier batch wrote
are revised by a later one."""

from __future__ import annotations

import os
import uuid

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from real_time_database_monitoring_system_spark.operators import monitoring
from real_time_database_monitoring_system_spark.sources.registry import load_table
from real_time_database_monitoring_system_spark.streaming import rollup as sr

N_FILES = 4


@pytest.fixture(scope="module")
def multi_file_feed(sf_dir, tmp_path_factory) -> str:
    """An sf dir whose `events.parquet/` holds the feed as N_FILES
    ts-ordered parts, mtimes in file order; every 40th row of the first
    three parts is moved to the next part (late arrivals)."""
    events = pq.read_table(f"{sf_dir}/events.parquet")
    order = np.argsort(events.column("ts").to_numpy(), kind="stable")
    file_of = np.empty(len(order), dtype=int)
    file_of[order] = np.arange(len(order)) * N_FILES // len(order)
    late = (np.arange(len(order)) % 40 == 0) & (file_of < N_FILES - 1)
    file_of[late] += 1
    out = tmp_path_factory.mktemp("multi_file_feed")
    feed = out / "events.parquet"
    feed.mkdir()
    for i in range(N_FILES):
        path = feed / f"part-{i:05d}.parquet"
        pq.write_table(events.take(np.flatnonzero(file_of == i)), path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    return str(out)


@pytest.fixture
def batch_count(monkeypatch) -> list[int]:
    """Counts the foreachBatch calls of every query started in the test."""
    calls = [0]
    original = DataStreamWriter.foreachBatch

    def counting(self, func):
        def wrapped(batch_df, batch_id):
            calls[0] += 1
            return func(batch_df, batch_id)

        return original(self, wrapped)

    monkeypatch.setattr(DataStreamWriter, "foreachBatch", counting)
    return calls


@pytest.fixture
def materialize_calls(monkeypatch) -> list[int]:
    calls = [0]
    original = sr.materialize

    def counting(df):
        calls[0] += 1
        return original(df)

    monkeypatch.setattr(sr, "materialize", counting)
    return calls


@pytest.fixture
def table(spark):
    name = f"rollup_{uuid.uuid4().hex[:8]}"
    yield name
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def _batch_rollup(spark, sf_dir) -> list[tuple]:
    return sorted(
        map(tuple, monitoring.downsample_5min(load_table(spark, sf_dir, "events")).collect())
    )


def _seed_table(spark, table, sf_dir) -> tuple[tuple, tuple]:
    """Create `table` with one bucket before the feed and one bucket
    that the feed also holds (with values the feed never produces)."""
    batch = monitoring.downsample_5min(load_table(spark, sf_dir, "events"))
    first = batch.orderBy("bucket_s").first().bucket_s
    outside = (first - 3600, 7, 1.5, 10.5)
    colliding = (first, -1, -1.0, -1.0)
    spark.createDataFrame([outside, colliding], batch.schema).write.saveAsTable(table)
    return outside, colliding


def test_multi_batch_merge_equals_batch(spark, sf_dir, multi_file_feed, batch_count, table):
    out = sr.stream_rollup_incremental(spark, multi_file_feed, table).collect()
    assert batch_count[0] == N_FILES
    assert sorted(map(tuple, out)) == _batch_rollup(spark, sf_dir)


def test_existing_table_keeps_outside_rows_and_takes_stream_values(
    spark, sf_dir, multi_file_feed, table
):
    outside, colliding = _seed_table(spark, table, sf_dir)
    out = sorted(map(tuple, sr.stream_rollup_incremental(spark, multi_file_feed, table).collect()))
    expected = _batch_rollup(spark, sf_dir)
    assert colliding not in out
    assert any(r[0] == colliding[0] for r in expected)
    assert out == sorted(expected + [outside])


def test_fresh_table_never_breaks_lineage(
    spark, multi_file_feed, batch_count, materialize_calls, table
):
    sr.stream_rollup_incremental(spark, multi_file_feed, table).collect()
    assert batch_count[0] >= 3
    assert materialize_calls[0] == 0


def test_existing_table_breaks_lineage_once(
    spark, sf_dir, multi_file_feed, batch_count, materialize_calls, table
):
    _seed_table(spark, table, sf_dir)
    sr.stream_rollup_incremental(spark, multi_file_feed, table).collect()
    assert batch_count[0] >= 3
    assert materialize_calls[0] == 1


def test_rollup_readable_after_caller_resolved_the_table(spark, sf_dir, multi_file_feed, table):
    """The caller's session listed the table's files before the stream
    replaced them; the returned rollup must read the new files."""
    outside, _ = _seed_table(spark, table, sf_dir)
    assert spark.table(table).count() == 2
    out = sorted(map(tuple, sr.stream_rollup_incremental(spark, multi_file_feed, table).collect()))
    assert out == sorted(_batch_rollup(spark, sf_dir) + [outside])


def test_alert_table_count_current_after_second_run(spark, sf_dir, table):
    n = load_table(spark, sf_dir, "events").filter(F.col("value") > 99.0).count()
    assert n > 0
    sr.stream_alerts_to_table(spark, sf_dir, table)
    assert spark.table(table).count() == n
    sr.stream_alerts_to_table(spark, sf_dir, table)
    assert spark.table(table).count() == 2 * n
