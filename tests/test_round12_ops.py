"""Round-12 consolidation checks: the ADVICE r11 hardening items made
falsifiable — both dense-grid loud-failure caps actually FIRE, and the
Spark/DuckDB cohort expressions agree on MALFORMED props (the latent
operator/oracle divergence ADVICE r11 flagged)."""

from __future__ import annotations

import duckdb
import pytest

from real_time_database_monitoring_system_spark.operators import (
    analytics,
    pipeline,
    util,
)


# ---------------------------------------------------------------------------
# Dense-grid caps: firing, not just documented
# ---------------------------------------------------------------------------


def test_hl_alphabet_cap_fires(spark, monkeypatch):
    """hl_from_value_counts raises at the operator boundary when a
    single event_type's value alphabet exceeds the per-type cap."""
    monkeypatch.setattr(analytics, "_HL_MAX_ALPHABET_ROWS", 4)
    pv = spark.createDataFrame(
        [("t", c, 1, 1) for c in range(6)],
        "event_type string, cents bigint, c_ref bigint, c_cur bigint",
    )
    with pytest.raises(ValueError, match="dense-grid|alphabet"):
        analytics.hl_from_value_counts(pv)


def test_hl_alphabet_cap_is_per_type(spark, monkeypatch):
    """Two types of 3 values each pass a per-type cap of 4 even though
    the GLOBAL row count (6) exceeds it — the r11 self-review fix."""
    monkeypatch.setattr(analytics, "_HL_MAX_ALPHABET_ROWS", 4)
    pv = spark.createDataFrame(
        [(t, c, 2, 2) for t in ("a", "b") for c in range(3)],
        "event_type string, cents bigint, c_ref bigint, c_cur bigint",
    )
    rows = analytics.hl_from_value_counts(pv).collect()
    assert {r["event_type"] for r in rows} == {"a", "b"}


def test_source_length_drift_alphabet_cap_fires(spark, monkeypatch):
    """source_length_drift raises loudly when the distinct n_chars
    alphabet exceeds the grid/broadcast cap (ADVICE r11)."""
    monkeypatch.setattr(pipeline, "_SLD_MAX_LENGTH_ALPHABET", 5)
    docs = spark.createDataFrame(
        [(i, "s%d" % (i % 2), 10 + i) for i in range(8)],
        "doc_id bigint, source string, n_chars bigint",
    )
    with pytest.raises(ValueError, match="distinct n_chars"):
        pipeline.source_length_drift(docs)


def test_source_length_drift_under_cap_unchanged(spark, monkeypatch):
    """The guard is transparent below the cap: same 4-stat panel."""
    monkeypatch.setattr(pipeline, "_SLD_MAX_LENGTH_ALPHABET", 100)
    docs = spark.createDataFrame(
        [(1, "a", 5), (2, "a", 6), (3, "b", 50), (4, "b", 60)],
        "doc_id bigint, source string, n_chars bigint",
    )
    rows = {r["source"]: r for r in pipeline.source_length_drift(docs).collect()}
    assert set(rows) == {"a", "b"}
    # a's lengths are entirely below b's → KS D = 1 for both; delta is
    # from the REST side's perspective (δ = P(rest > src) − P(rest <
    # src), the cliffs_from_value_counts c_ref convention): the rest
    # runs longer than a (δ=+1) and shorter than b (δ=−1)
    assert rows["a"]["ks_d"] == pytest.approx(1.0)
    assert rows["a"]["delta"] == pytest.approx(1.0)
    assert rows["b"]["delta"] == pytest.approx(-1.0)


# ---------------------------------------------------------------------------
# Cohort expression: Spark and the (guarded) DuckDB mirror agree on
# malformed / NULL / missing-key props — ADVICE r11's latent divergence
# ---------------------------------------------------------------------------

# The oracle-side expression, imported from the entry module itself so
# this file always tests the EXACT string the cohort oracles
# interpolate (a test-local copy could drift silently): json_valid
# guards json_extract_string, which otherwise HARD-ERRORS on a
# non-NULL non-JSON string while Spark's try_parse_json folds to NULL.
from __spark_entry__ import COHORT_DUCK_SQL as _COHORT_DUCK_MIRROR

_PROPS_CASES = [
    '{"k": 60}',  # valid, k present → 60 div 25 = 2
    '{"k": 3}',  # valid → 0
    "{}",  # valid, k missing → -1
    "{bad json",  # MALFORMED → -1 (the divergence case)
    None,  # NULL → -1
    "",  # empty string: invalid JSON → -1
]

_EXPECTED = [2, 0, -1, -1, -1, -1]


def test_cohort_sql_spark_on_malformed(spark):
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(_PROPS_CASES)], "i int, props string"
    )
    from pyspark.sql import functions as F

    got = [
        r["c"]
        for r in df.select("i", F.expr(util.COHORT_SQL).alias("c"))
        .orderBy("i")
        .collect()
    ]
    assert got == _EXPECTED


def test_cohort_duck_mirror_on_malformed():
    con = duckdb.connect()
    rows = ", ".join(
        "(%d, %s)" % (i, "NULL" if p is None else "'%s'" % p.replace("'", "''"))
        for i, p in enumerate(_PROPS_CASES)
    )
    got = [
        r[0]
        for r in con.execute(
            f"SELECT {_COHORT_DUCK_MIRROR} FROM (VALUES {rows}) t(i, props)"
            " ORDER BY i"
        ).fetchall()
    ]
    assert got == _EXPECTED


def test_cohort_nonnumeric_k_errs_loudly_in_both_engines(spark):
    """Feed invariant boundary: props.k, when present, is an exact
    JSON integer. A non-numeric STRING k hard-errors in BOTH engines
    (Spark INVALID_VARIANT_CAST, DuckDB ConversionException) — loud
    and consistent, not a silent divergence. Documented at
    util.COHORT_SQL; this test pins that the boundary stays loud."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([('{"k": "notanum"}',)], "props string")
    with pytest.raises(Exception, match="INVALID_VARIANT_CAST"):
        df.select(F.expr(util.COHORT_SQL)).collect()
    con = duckdb.connect()
    with pytest.raises(duckdb.ConversionException):
        con.execute(
            f"SELECT {_COHORT_DUCK_MIRROR} FROM "
            "(VALUES ('{\"k\": \"notanum\"}')) t(props)"
        ).fetchall()


def test_cohort_boolean_k_known_engine_asymmetry(spark):
    """The ONE shape where the engines disagree, pinned so drift is
    visible: a boolean k folds to 1/0 under Spark's variant cast but
    hard-errors in DuckDB's CAST('true' AS BIGINT). Excluded by the
    feed contract (k is an exact JSON integer; the admission gate is
    curation.data_contract_audit) — documented at util.COHORT_SQL. If
    either engine changes behavior here, this test fails and the
    contract comment must be revisited."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([('{"k": true}',)], "props string")
    got = df.select(F.expr(util.COHORT_SQL).alias("c")).collect()
    assert [r["c"] for r in got] == [0]  # true → 1 → 1 div 25 = 0
    con = duckdb.connect()
    with pytest.raises(duckdb.ConversionException):
        con.execute(
            f"SELECT {_COHORT_DUCK_MIRROR} FROM "
            "(VALUES ('{\"k\": true}')) t(props)"
        ).fetchall()


def test_cohort_duck_sql_is_what_the_oracles_interpolate():
    """COHORT_DUCK_SQL (the constant the agreement tests above drive)
    is the literal expression inside the shipped cohort oracles — so
    the agreement proof covers the real driver gate, not a lookalike."""
    import __spark_entry__ as entry

    sqls = entry.oracle_sql()
    for name in ("windowed_ks_by_cohort", "windowed_wasserstein_by_cohort"):
        assert entry.COHORT_DUCK_SQL in sqls[name], name


def test_props_histogram_oracles_survive_malformed_props():
    """The guarded oracle expressions run (not hard-error) over a feed
    containing a malformed props row, and fold it exactly as Spark
    does. Uses DuckDB directly on an in-memory VALUES view standing in
    for the events table."""
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM (VALUES "
        "(1, '{\"k\": 10}'), (2, '{oops'), (3, NULL)"
        ") t(event_id, props)"
    )
    import __spark_entry__ as entry

    sql = entry.oracle_sql()["props_histogram"]
    got = dict(con.execute(sql).fetchall())
    # k=10 parses; malformed + NULL fold to NULL bucket
    assert got == {10: 1, None: 2}


# ---------------------------------------------------------------------------
# Cohort-as-ingest-column path (VERDICT r11 task 3)
# ---------------------------------------------------------------------------


def test_with_cohort_adds_column_and_is_idempotent(spark):
    from real_time_database_monitoring_system_spark.operators.util import (
        with_cohort,
    )

    df = spark.createDataFrame(
        [('{"k": 60}',), (None,)], "props string"
    )
    enr = with_cohort(df)
    assert "cohort" in enr.columns
    assert [r["cohort"] for r in enr.collect()] == [2, -1]
    # idempotent: re-applying to an already-enriched feed is a no-op
    # on values (the normalization pass keeps the same rows/typing)
    again = with_cohort(enr)
    assert [r["cohort"] for r in again.collect()] == [2, -1]
    assert dict(again.dtypes)["cohort"] == "bigint"


def test_with_cohort_normalizes_external_column(spark):
    """An EXTERNALLY materialized cohort column is normalized, not
    trusted: NULLs fold to -1 (a raw NULL group key would silently
    vanish from the full-outer day pairing) and the type is cast to
    bigint (an int32 writer must not change the panel schema)."""
    from real_time_database_monitoring_system_spark.operators.util import (
        with_cohort,
    )

    df = spark.createDataFrame(
        [(1, 2), (2, None)], "event_id int, cohort int"
    )
    out = with_cohort(df)
    assert dict(out.dtypes)["cohort"] == "bigint"
    assert sorted(r["cohort"] for r in out.collect()) == [-1, 2]


def test_windowed_counts_use_ingest_column_without_props(spark):
    """The fast path keys on a pre-existing ``cohort`` column — proven
    by feeding a frame with NO props column at all: were the parse
    path taken, props would fail to resolve."""
    import datetime

    from real_time_database_monitoring_system_spark.operators.util import (
        daily_cents_sums,
        windowed_day_cents_counts,
    )

    ts = datetime.datetime(2024, 1, 1, 12, 0, 0)
    df = spark.createDataFrame(
        [("t", ts, 1.5, 2), ("t", ts, 2.5, -1)],
        "event_type string, ts timestamp, value double, cohort bigint",
    )
    w = windowed_day_cents_counts(df, by_cohort=True).collect()
    assert {r["cohort"] for r in w} == {2, -1}
    d = daily_cents_sums(df, by_cohort=True).collect()
    assert {r["cohort"] for r in d} == {2, -1}


def test_cohort_column_path_matches_parse_path(spark):
    """Lazy with_cohort projection → bit-identical panel to the parse
    path (the 100M cross-check in SCALE.md, miniaturized)."""
    import datetime

    from real_time_database_monitoring_system_spark.operators import anomaly
    from real_time_database_monitoring_system_spark.operators.util import (
        with_cohort,
    )

    rows = []
    for day in range(1, 9):
        for i in range(6):
            rows.append(
                (
                    "sale",
                    datetime.datetime(2024, 1, day, 8 + i),
                    float(day * 3 + i),
                    '{"k": %d}' % ((i * 20) % 100) if i % 3 else None,
                )
            )
    df = spark.createDataFrame(
        rows, "event_type string, ts timestamp, value double, props string"
    )
    a = anomaly.windowed_ks_by_cohort(df)
    b = anomaly.windowed_ks_by_cohort(with_cohort(df))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    assert a.count() > 0


# ---------------------------------------------------------------------------
# Reliable-materialize on the EMBEDDING SIGNATURE pipeline (VERDICT r11
# task 4): the decade-4 scratch-volume failure's prescribed fix,
# demonstrated rather than asserted. The generic local/reliable parity
# test (test_plans.py) covers ngram_jaccard; this one drives the exact
# pipeline whose signature-pass materialization hit the boundary
# (similarity.embedding_near_dup_pairs' materialized signature
# table) and proves (a) identical pairs, (b) checkpoint FILES actually
# written to the configured dir — i.e. the signature relation really
# moved from executor block storage to the durable store.
# ---------------------------------------------------------------------------


def test_embedding_signature_pipeline_reliable_parity(spark, sf_dir, tmp_path):
    import os

    from real_time_database_monitoring_system_spark.operators import similarity
    from real_time_database_monitoring_system_spark.sources.registry import (
        load_table,
    )

    from pyspark.sql import functions as F

    base = load_table(spark, sf_dir, "embeddings")
    # plant exact duplicates (re-id'd copies): identical vectors agree
    # in EVERY band, so the fixture is non-empty regardless of the
    # random-hyperplane draw — sf0.001's 500 organic vectors carry no
    # ≥0.9 pair of their own
    emb = base.unionByName(
        base.limit(25).withColumn(
            "vec_id", F.col("vec_id") + F.lit(1_000_000_000)
        )
    )
    assert spark.conf.get("spark.graft.materialize.mode", "local") == "local"
    local_pairs = {
        (r.vec_a, r.vec_b)
        for r in similarity.embedding_near_dup_pairs(
            emb, threshold=0.9
        ).collect()
    }
    ckpt = str(tmp_path / "graft-ckpt")
    sc = spark.sparkContext
    prev_dir = sc.getCheckpointDir()
    sc.setCheckpointDir(ckpt)
    spark.conf.set("spark.graft.materialize.mode", "reliable")
    try:
        reliable_pairs = {
            (r.vec_a, r.vec_b)
            for r in similarity.embedding_near_dup_pairs(
                emb, threshold=0.9
            ).collect()
        }
        # checkpoint files physically exist under the configured dir
        written = [
            os.path.join(d, f)
            for d, _, fs in os.walk(ckpt)
            for f in fs
        ]
        assert written, "reliable mode wrote no checkpoint files"
    finally:
        spark.conf.set("spark.graft.materialize.mode", "local")
        if prev_dir is not None:
            sc.setCheckpointDir(prev_dir.removeprefix("file:"))
        else:
            # don't leave the session-scoped context pointed at this
            # test's pruned tmp_path: park it on the warehouse fallback
            # util.materialize itself would choose
            wh = spark.conf.get(
                "spark.sql.warehouse.dir", "/tmp"
            ).removeprefix("file:")
            sc.setCheckpointDir(os.path.join(wh, ".graft-checkpoints"))
    assert reliable_pairs == local_pairs
    assert local_pairs, "parity fixture must be non-empty"
