"""The two-sample drift family's one temporal split (`util.tag_halves`
/ `util.half_counts`) against the oracle's split text on DuckDB.

Every batch member and streaming twin of the family (KS, PSI, AD, CvM,
Kuiper, Ansari–Bradley, Mood, Lepage, Welch, Mann–Whitney,
Hodges–Lehmann, Wasserstein, Cliff's delta) splits through this core,
so these cases pin the contract once: the midpoint row is reference,
a single-timestamp feed is all reference, pre-1970 midpoints truncate
like DuckDB ``//``, NULL values move the midpoint but not the counts,
and weighted state rows count like the feed rows they summarize."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from __spark_entry__ import oracle_sql
from real_time_database_monitoring_system_spark.operators.util import half_counts

# (event_type, value, event µs)
CASES = {
    # midpoint (0 + 10) div 2 = 5: the row AT 5 is reference
    "row_on_midpoint": [("a", 1.0, 0), ("a", 2.0, 5), ("a", 3.0, 10)],
    # min = max: every row is reference, the current half is empty
    "single_timestamp": [("a", 1.0, 7), ("a", 2.0, 7), ("b", 1.0, 7)],
    # (-3 + 0) div 2 = -1 (truncation; floor would give -2 and move
    # the row at -1 to the current half)
    "pre_1970": [("a", 1.0, -3), ("a", 2.0, -1), ("a", 3.0, 0)],
    # the NULL row at 100 moves the midpoint from 2 to 50, so the row
    # at 4 is reference, and it is counted nowhere itself
    "null_moves_midpoint": [("a", 1.0, 0), ("a", 2.0, 4), ("a", None, 100)],
    # repeated (type, value, µs) rows: weights > 1 in the state form
    "repeats": [
        ("a", 1.0, 0), ("a", 1.0, 0), ("a", 1.0, 9), ("b", 2.0, 3),
        ("b", 2.0, 3), ("b", 2.0, 3), ("a", 1.0, 20), ("b", None, 20),
    ],
}

EXPECTED = {
    "row_on_midpoint": {("a", 1.0, 1, 0), ("a", 2.0, 1, 0), ("a", 3.0, 0, 1)},
    "single_timestamp": {("a", 1.0, 1, 0), ("a", 2.0, 1, 0), ("b", 1.0, 1, 0)},
    "pre_1970": {("a", 1.0, 1, 0), ("a", 2.0, 1, 0), ("a", 3.0, 0, 1)},
    "null_moves_midpoint": {("a", 1.0, 1, 0), ("a", 2.0, 1, 0)},
    "repeats": {("a", 1.0, 3, 1), ("b", 2.0, 3, 0)},
}


def _oracle_half_counts(rows):
    """The ks_drift oracle's own split-and-count CTEs (st, tagged,
    pv), cut from its query text, run on DuckDB."""
    sql = oracle_sql()["ks_drift"]
    head = sql[: sql.index("tot AS")].rstrip().rstrip(",")
    con = duckdb.connect()
    con.execute("CREATE TABLE raw (event_type VARCHAR, value DOUBLE, us BIGINT)")
    con.executemany("INSERT INTO raw VALUES (?, ?, ?)", rows)
    con.execute(
        "CREATE VIEW events AS"
        " SELECT event_type, value, make_timestamp(us) AS ts FROM raw"
    )
    out = con.execute(f"{head} SELECT event_type, value, d_ref, d_cur FROM pv")
    return {tuple(r) for r in out.fetchall()}


def _feed(spark, rows):
    return spark.createDataFrame(
        rows, "event_type string, value double, us long"
    ).select("event_type", "value", F.expr("timestamp_micros(us)").alias("ts"))


def _collect(df):
    return {
        (r.event_type, r.value, r.d_ref, r.d_cur)
        for r in df.filter(F.col("value").isNotNull()).collect()
    }


@pytest.mark.parametrize("case", sorted(CASES))
def test_half_counts_match_oracle_split(spark, case):
    rows = CASES[case]
    feed = _feed(spark, rows)
    got = _collect(half_counts(feed, ["event_type"], "value", "d"))
    assert got == EXPECTED[case]
    assert got == _oracle_half_counts(rows)


@pytest.mark.parametrize("case", sorted(CASES))
def test_weighted_state_counts_like_the_feed(spark, case):
    """Streaming twins count a (keys…, value, us, n) state with
    weight n: the same relation as the unit-weight feed rows."""
    feed = _feed(spark, CASES[case])
    state = feed.groupBy(
        "event_type",
        "value",
        F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
    ).agg(F.count("*").alias("n"))
    weighted = half_counts(state, ["event_type"], "value", "d", weight="n", us="us")
    assert _collect(weighted) == _collect(
        half_counts(feed, ["event_type"], "value", "d")
    )
