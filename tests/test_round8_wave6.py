"""Behavior tests for the round-8 sixth-wave operators: Wasserstein-1
drift (batch + streaming twin), Cliff's delta effect size, the
delete-one-bucket jackknife, Spearman rank correlation on doubled
tie-averaged ranks, the vocabulary-richness panel (Yule's K /
Simpson's D / hapax), and per-state transition entropy — planted
fixtures with hand-computable truth, plus plan budgets."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from real_time_database_monitoring_system_spark.operators import (
    analytics,
    event_analytics,
    text as text_ops,
)
from real_time_database_monitoring_system_spark.plans import checks


def _events_vals(spark, rows):
    """rows: (event_id, us, event_type, value) → events-shaped frame."""
    return spark.createDataFrame(
        rows, "event_id long, us long, event_type string, value double"
    ).select(
        "event_id",
        F.expr("cast(timestamp_micros(us) as timestamp_ntz)").alias("ts"),
        "event_type",
        "value",
    )


def _docs(spark, rows):
    """rows: (doc_id, source, text, n_chars) → documents-shaped frame."""
    return spark.createDataFrame(
        rows, "doc_id long, source string, text string, n_chars long"
    ).select("doc_id", "text", F.lit("en").alias("lang"), "source", "n_chars")


# ---------------------------------------------------------------------------
# Wasserstein-1 drift
# ---------------------------------------------------------------------------


def test_wasserstein_pure_shift(spark):
    """ref {1.00, 2.00} vs cur {2.00, 3.00}: a +1.00 location shift of
    an identical shape has W1 exactly 1.00. Trapezoids: cents 100
    (|1·2−0·2|·100) + 200 (|2·2−1·2|·100) = 400 → 400/(2·2·100)."""
    rows = [
        (1, 0, "a", 1.0),
        (2, 100, "a", 2.0),
        (3, 1_000_000, "a", 2.0),
        (4, 1_000_100, "a", 3.0),
    ]
    out = analytics.wasserstein_drift(_events_vals(spark, rows)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["n_ref"], r["n_cur"]) == (2, 2)
    assert r["w1_value"] == 1.0


def test_wasserstein_identical_halves_zero(spark):
    """Same multiset on both sides → every cross-difference is 0."""
    rows = [(i, 0, "a", v) for i, v in enumerate([1.0, 5.0, 5.0])] + [
        (10 + i, 1_000_000, "a", v) for i, v in enumerate([1.0, 5.0, 5.0])
    ]
    r = analytics.wasserstein_drift(_events_vals(spark, rows)).collect()[0]
    assert r["w1_value"] == 0.0


def test_wasserstein_null_values_fix_midpoint_then_drop(spark):
    """A NULL-value event extends the time span (midpoint moves) but
    contributes no mass: with the NULL at us=3e6, the midpoint is
    1.5e6, so BOTH valued events of type 'a' land in the ref half →
    the type drops (n_cur = 0)."""
    rows = [
        (1, 0, "a", 1.0),
        (2, 1_000_000, "a", 2.0),
        (3, 3_000_000, "a", None),
    ]
    out = analytics.wasserstein_drift(_events_vals(spark, rows)).collect()
    assert out == []


# ---------------------------------------------------------------------------
# Cliff's delta
# ---------------------------------------------------------------------------


def test_cliffs_delta_closed_form(spark):
    """ref {1, 2} vs cur {2, 3}: pairs (1,2)< (1,3)< (2,2)= (2,3)< →
    gt=0, lt=3, ties=1, δ = (0−3)/4 = −0.75."""
    rows = [
        (1, 0, "a", 1.0),
        (2, 100, "a", 2.0),
        (3, 1_000_000, "a", 2.0),
        (4, 1_000_100, "a", 3.0),
    ]
    r = analytics.cliffs_delta(_events_vals(spark, rows)).collect()[0]
    assert (r["gt_pairs"], r["lt_pairs"], r["tie_pairs"]) == (0, 3, 1)
    assert r["delta"] == -0.75


def test_cliffs_delta_total_dominance(spark):
    """Every ref value above every cur value → δ = +1 exactly; pair
    classes partition n_ref·n_cur."""
    rows = [(i, 0, "a", 9.0 + i) for i in range(3)] + [
        (10 + i, 1_000_000, "a", 1.0 + i) for i in range(2)
    ]
    r = analytics.cliffs_delta(_events_vals(spark, rows)).collect()[0]
    assert (r["gt_pairs"], r["lt_pairs"], r["tie_pairs"]) == (6, 0, 0)
    assert r["delta"] == 1.0
    assert r["gt_pairs"] + r["lt_pairs"] + r["tie_pairs"] == (
        r["n_ref"] * r["n_cur"]
    )


# ---------------------------------------------------------------------------
# jackknife
# ---------------------------------------------------------------------------


def _py_bucket(event_id: int, b: int = 20) -> int:
    return int(hashlib.md5(str(event_id).encode()).hexdigest()[:8], 16) % b


def _py_jackknife(vals_by_id: dict[int, float], b: int = 20):
    """Reference replica of the operator's arithmetic: integer cents,
    floor-quantized micro-cent pseudo-values, (B−1)/B moment form."""
    buckets: dict[int, list[int]] = {}
    for eid, v in vals_by_id.items():
        buckets.setdefault(_py_bucket(eid, b), []).append(round(v * 100))
    s_all = sum(sum(v) for v in buckets.values())
    n_all = sum(len(v) for v in buckets.values())
    nb = len(buckets)
    qs = [
        math.floor((s_all - sum(v)) / (n_all - len(v)) * 1e6)
        for v in buckets.values()
    ]
    sq, sq2 = sum(qs), sum(q * q for q in qs)
    if nb < 2:
        return None
    var = (sq2 - sq * sq / nb) * (nb - 1) / nb
    return 0.0 if var <= 0 else math.sqrt(var) / 1e8


def test_jackknife_matches_python_replica(spark):
    vals = {i: float(i % 7) + 0.25 for i in range(1, 60)}
    rows = [(eid, eid * 1000, "a", v) for eid, v in vals.items()]
    r = analytics.jackknife_variance(_events_vals(spark, rows)).collect()[0]
    expect = _py_jackknife(vals)
    assert r["jk_se"] == pytest.approx(expect, rel=1e-12)
    assert r["n_events"] == 59
    assert r["mean_value"] == pytest.approx(
        sum(vals.values()) / len(vals), rel=1e-12
    )


def test_jackknife_constant_feed_pins_zero(spark):
    """All values equal → every pseudo-value identical → the CASE pins
    the variance to exactly 0.0 (not a −1e−30 sqrt NaN)."""
    rows = [(i, i * 1000, "a", 5.0) for i in range(1, 50)]
    r = analytics.jackknife_variance(_events_vals(spark, rows)).collect()[0]
    assert r["jk_se"] == 0.0


def test_jackknife_single_bucket_null(spark):
    """One event → one nonempty bucket → B < 2 → jk_se is NULL (the
    estimator is undefined, not zero)."""
    rows = [(1, 0, "a", 5.0)]
    r = analytics.jackknife_variance(_events_vals(spark, rows)).collect()[0]
    assert r["n_buckets"] == 1 and r["jk_se"] is None


# ---------------------------------------------------------------------------
# Spearman
# ---------------------------------------------------------------------------


def test_spearman_perfect_monotone(spark):
    docs = _docs(
        spark,
        [
            (1, "s", "a", 10),
            (2, "s", "b\nb", 20),
            (3, "s", "c\nc\nc", 30),
        ],
    )
    r = analytics.spearman_corr(docs).collect()[0]
    assert r["n_docs"] == 3 and r["spearman_rho"] == 1.0


def test_spearman_perfect_antitone(spark):
    docs = _docs(
        spark,
        [
            (1, "s", "a\na\na", 10),
            (2, "s", "b\nb", 20),
            (3, "s", "c", 30),
        ],
    )
    r = analytics.spearman_corr(docs).collect()[0]
    assert r["spearman_rho"] == -1.0


def _py_spearman(pairs):
    """Average-rank Spearman, plain Python (no scipy in the image)."""

    def ranks(vals):
        order = sorted(range(len(vals)), key=lambda i: vals[i])
        r = [0.0] * len(vals)
        i = 0
        while i < len(order):
            j = i
            while j + 1 < len(order) and vals[order[j + 1]] == vals[order[i]]:
                j += 1
            avg = (i + j) / 2 + 1
            for k in range(i, j + 1):
                r[order[k]] = avg
            i = j + 1
        return r

    rx = ranks([p[0] for p in pairs])
    ry = ranks([p[1] for p in pairs])
    n = len(pairs)
    mx, my = sum(rx) / n, sum(ry) / n
    num = sum((a - mx) * (b - my) for a, b in zip(rx, ry))
    dx = math.sqrt(sum((a - mx) ** 2 for a in rx))
    dy = math.sqrt(sum((b - my) ** 2 for b in ry))
    return num / (dx * dy)


def test_spearman_ties_match_average_rank_replica(spark):
    pairs = [(10, 1), (10, 3), (20, 2), (20, 2), (30, 2), (40, 9), (40, 1)]
    docs = _docs(
        spark,
        [
            (i, "s", "x" + "\n" * (y - 1), x)
            for i, (x, y) in enumerate(pairs)
        ],
    )
    r = analytics.spearman_corr(docs).collect()[0]
    assert r["spearman_rho"] == pytest.approx(_py_spearman(pairs), rel=1e-12)


# ---------------------------------------------------------------------------
# vocabulary richness
# ---------------------------------------------------------------------------


def test_vocab_richness_closed_form(spark):
    """'a a b' + 'a c': freq a=3 b=1 c=1 → N=5 V=3 V1=2 M2=11;
    TTR 0.6, hapax 2/3, K = 10⁴·6/25 = 2400, D = 6/20 = 0.3."""
    docs = _docs(spark, [(1, "s", "a a b", 5), (2, "s", "a c", 3)])
    r = text_ops.vocab_richness(docs).collect()[0]
    assert (r["n_tokens"], r["n_types"], r["n_hapax"]) == (5, 3, 2)
    assert r["ttr"] == 0.6
    assert r["hapax_ratio"] == 2.0 / 3.0
    assert r["yule_k"] == 2400.0
    assert r["simpson_d"] == 0.3


def test_vocab_richness_all_hapax(spark):
    """Every token unique → M2 = N → K = 0, D = 0 (no collisions)."""
    docs = _docs(spark, [(1, "s", "q w e r t y", 11)])
    r = text_ops.vocab_richness(docs).collect()[0]
    assert r["yule_k"] == 0.0 and r["simpson_d"] == 0.0
    assert r["ttr"] == 1.0 and r["hapax_ratio"] == 1.0


# ---------------------------------------------------------------------------
# transition entropy
# ---------------------------------------------------------------------------


def test_transition_entropy_closed_form(spark):
    """User 1 walks a,b,a,b (a→b ×2, b→a ×1); user 2 walks c,a,c
    (c→a, a→c). From 'a': counts {b:2, c:1}, H = round(round(ln3,9)
    − 2·round(ln2,9)/3, 9); from 'b' and 'c': deterministic → 0."""
    seq = [
        (1, 0, "a"),
        (1, 1, "b"),
        (1, 2, "a"),
        (1, 3, "b"),
        (2, 0, "c"),
        (2, 1, "a"),
        (2, 2, "c"),
    ]
    rows = [
        (i, us * 1_000_000, t, uid * 1.0)
        for i, (uid, us, t) in enumerate(seq)
    ]
    events = spark.createDataFrame(
        [
            (i, us * 1_000_000, uid, t)
            for i, (uid, us, t) in enumerate(seq)
        ],
        "event_id long, us long, user_id long, event_type string",
    ).select(
        "event_id",
        F.expr("cast(timestamp_micros(us) as timestamp_ntz)").alias("ts"),
        "user_id",
        "event_type",
    )
    out = {
        r["from_type"]: r
        for r in event_analytics.transition_entropy(events).collect()
    }
    a = out["a"]
    assert (a["n_out"], a["out_degree"]) == (3, 2)
    expect = round(round(math.log(3), 9) - 2 * round(math.log(2), 9) / 3, 9)
    assert a["entropy"] == pytest.approx(expect, abs=1e-9)
    assert a["top_share"] == 2.0 / 3.0
    assert out["b"]["entropy"] == 0.0 and out["b"]["top_share"] == 1.0
    assert out["c"]["entropy"] == 0.0


# ---------------------------------------------------------------------------
# streaming twin + plan budgets
# ---------------------------------------------------------------------------


def test_stream_wasserstein_equals_batch(spark, sf_dir):
    from real_time_database_monitoring_system_spark.sources.registry import (
        load_table,
    )
    from real_time_database_monitoring_system_spark.streaming import rollup

    batch = analytics.wasserstein_drift(
        load_table(spark, sf_dir, "events")
    ).collect()
    stream = rollup.stream_wasserstein(spark, sf_dir).collect()
    assert [tuple(r) for r in stream] == [tuple(r) for r in batch]


def test_wave6_plan_budgets(spark, sf_dir):
    """Exchange-count ceilings + no cartesian products, measured at
    authoring time — a regression that adds a shuffle fails here."""
    from real_time_database_monitoring_system_spark.sources.registry import (
        load_table,
    )

    events = load_table(spark, sf_dir, "events")
    docs = load_table(spark, sf_dir, "documents")
    budgets = [
        # stats 1-row agg + (type,cents) agg + window + type agg + sort
        ("wasserstein_drift", analytics.wasserstein_drift(events), 5),
        ("cliffs_delta", analytics.cliffs_delta(events), 5),
        # (type,bucket) agg + window + type agg + sort
        ("jackknife_variance", analytics.jackknife_variance(events), 4),
        # joint agg + 2 marginal (agg+window) + 2 joins + final agg + sort
        ("spearman_corr", analytics.spearman_corr(docs), 9),
        # spread + (source,term) agg + source agg + sort
        ("vocab_richness", text_ops.vocab_richness(docs), 4),
        # user window + edge agg + from agg + sort
        ("transition_entropy", event_analytics.transition_entropy(events), 4),
    ]
    for name, df, ceiling in budgets:
        plan = checks.explain_str(df, "simple")
        assert "CartesianProduct" not in plan, f"{name}: cartesian crept in"
        n = checks.count_exchanges(df)
        assert n <= ceiling, f"{name}: {n} exchanges > budget {ceiling}"


def test_bpe_atom_decomposition_identical(spark, sf_dir):
    """token_stats' three positive-class scans must count exactly what
    the literal BPE alternation counts — the arms partition the atom
    set (alpha runs / digit runs / single punct chars), checked on the
    corpus plus unicode/uppercase edges."""
    from real_time_database_monitoring_system_spark.sources.registry import (
        load_table,
    )

    old = F.size(
        F.regexp_extract_all(F.col("text"), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0)
    )
    new = (
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[a-z]+"), 0))
        + F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[0-9]+"), 0))
        + F.length("text")
        - F.length(
            F.array_join(
                F.regexp_extract_all(F.col("text"), F.lit(r"[a-z0-9\s]+"), 0), ""
            )
        )
    )
    docs = load_table(spark, sf_dir, "documents")
    assert docs.select((old != new).alias("d")).filter("d").count() == 0
    edge = spark.createDataFrame(
        [
            ("...x9 !@# λμ ϟ\t\nAB c_d",),
            ("üñïçødé, 'quotes' & <tags>!",),
            ("",),
            ("a1b2 33 zz",),
        ],
        "text string",
    )
    assert edge.select((old != new).alias("d")).filter("d").count() == 0


def test_stream_cliffs_equals_batch(spark, sf_dir):
    from real_time_database_monitoring_system_spark.sources.registry import (
        load_table,
    )
    from real_time_database_monitoring_system_spark.streaming import rollup

    batch = analytics.cliffs_delta(load_table(spark, sf_dir, "events")).collect()
    stream = rollup.stream_cliffs_delta(spark, sf_dir).collect()
    assert [tuple(r) for r in stream] == [tuple(r) for r in batch]


def test_stream_jackknife_equals_batch(spark, sf_dir):
    """The streaming state IS the (type, bucket) sufficient-stat
    relation — B·#types rows forever — and the shared coda replays the
    batch finals digit for digit."""
    from real_time_database_monitoring_system_spark.sources.registry import (
        load_table,
    )
    from real_time_database_monitoring_system_spark.streaming import rollup

    batch = analytics.jackknife_variance(
        load_table(spark, sf_dir, "events")
    ).collect()
    stream = rollup.stream_jackknife(spark, sf_dir).collect()
    assert [tuple(r) for r in stream] == [tuple(r) for r in batch]


def test_drift_cusum_two_level_identity(spark, sf_dir):
    """The two-level distributed prefix sum must equal the single
    per-type window digit for digit — decimal addition is associative,
    and the day chunk is monotone in the (µs, event_id) order."""
    from real_time_database_monitoring_system_spark.operators import anomaly
    from real_time_database_monitoring_system_spark.operators.util import (
        disc_quantiles_from_counts,
    )
    from real_time_database_monitoring_system_spark.sources.registry import (
        load_table,
    )
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    new = {r["event_id"]: tuple(r) for r in anomaly.drift_cusum(ev).collect()}
    stats = disc_quantiles_from_counts(ev, ["event_type"], "value", [("med", 1, 2)])
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.expr("unix_micros(cast(ts as timestamp))"), "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_dev = (
        F.sum(F.col("value").cast("decimal(18,2)")).over(w)
        - F.count("*").over(w) * F.col("med").cast("decimal(18,2)")
    )
    old = {
        r["event_id"]: tuple(r)
        for r in ev.join(F.broadcast(stats), "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            "med",
            cum_dev.cast("double").alias("cum_dev"),
            (F.abs(cum_dev) > F.lit(500.0).cast("decimal(18,2)")).alias("is_drift"),
        )
        .collect()
    }
    assert new == old
