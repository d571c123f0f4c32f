"""Round-9 operators: Kendall τ-b (batch + streaming twin) and the
rest of the round-9 wave. Each new statistic gets (a) a brute-force
identity test on a planted relation and (b) textbook-value pins."""

import pytest
from pyspark.sql import functions as F

from real_time_database_monitoring_system_spark.operators import analytics


def _tau_brute(rows):
    """O(n²) reference Kendall τ-b over (x, y) tuples."""
    n = len(rows)
    conc = disc = tie_x = tie_y = 0
    for i in range(n):
        for j in range(i + 1, n):
            dx = (rows[i][0] > rows[j][0]) - (rows[i][0] < rows[j][0])
            dy = (rows[i][1] > rows[j][1]) - (rows[i][1] < rows[j][1])
            if dx == 0:
                tie_x += 1
            if dy == 0:
                tie_y += 1
            if dx * dy > 0:
                conc += 1
            elif dx * dy < 0:
                disc += 1
    n0 = n * (n - 1) // 2
    denom = ((n0 - tie_x) * (n0 - tie_y)) ** 0.5
    tau = (conc - disc) / denom if denom > 0 else None
    return conc - disc, tau


def _run_kendall(spark, xy_rows):
    df = spark.createDataFrame(
        [("s", int(x), int(y), 1) for x, y in xy_rows],
        "source string, x bigint, y bigint, cnt bigint",
    ).groupBy("source", "x", "y").agg(F.sum("cnt").alias("cnt"))
    return analytics.kendall_from_joint_counts(df).collect()[0]


def test_kendall_brute_force_identity(spark):
    # deterministic mixed relation: monotone core + ties + reversals
    rows = [
        ((i * 7) % 23, ((i * 7) % 23) * 2 + (i % 5) - 2) for i in range(40)
    ] + [(3, 9), (3, 9), (11, 1), (11, 40)]
    cd_ref, tau_ref = _tau_brute(rows)
    got = _run_kendall(spark, rows)
    assert got["cd"] == cd_ref
    assert got["tau_b"] == pytest.approx(tau_ref, rel=1e-12)


def test_kendall_textbook_values(spark):
    # perfect concordance
    got = _run_kendall(spark, [(i, i * 3) for i in range(10)])
    assert got["tau_b"] == pytest.approx(1.0)
    assert got["cd"] == 45
    # perfect discordance
    got = _run_kendall(spark, [(i, -i) for i in range(10)])
    assert got["tau_b"] == pytest.approx(-1.0)
    # all tied on x: denominator zero -> NULL
    got = _run_kendall(spark, [(5, i) for i in range(6)])
    assert got["tau_b"] is None and got["cd"] == 0
    # independence on a full grid: C == D -> tau == 0
    got = _run_kendall(spark, [(x, y) for x in range(4) for y in range(4)])
    assert got["cd"] == 0 and got["tau_b"] == pytest.approx(0.0)


def test_kendall_pair_accounting(spark):
    # C + D + ties partition all pairs: recompute each class from the
    # emitted exact columns and pin the identity 2*(C+D) = dx' + dy'
    # cross-check via brute force on a random-ish planted relation
    rows = [((i * 13) % 17, (i * 5) % 11) for i in range(60)]
    cd_ref, tau_ref = _tau_brute(rows)
    got = _run_kendall(spark, rows)
    assert got["cd"] == cd_ref
    n = got["n_docs"]
    assert n == 60
    # doubled tie terms match brute-force pair counts... tie pairs
    # counted per-axis (pairs tied on BOTH axes appear in both)
    conc = disc = tie_x2 = tie_y2 = 0
    for i in range(len(rows)):
        for j in range(len(rows)):
            if i == j:
                continue
            if rows[i][0] == rows[j][0]:
                tie_x2 += 1
            if rows[i][1] == rows[j][1]:
                tie_y2 += 1
    assert got["tie_x"] == tie_x2
    assert got["tie_y"] == tie_y2
    assert got["tau_b"] == pytest.approx(tau_ref, rel=1e-12)


def test_round9_shuffle_budgets(spark):
    """Exchange budgets for the round-9 wave (the r8 rule: budget
    pinned BEFORE the scale run). kendall_tau: 1 feed-width exchange
    (the joint groupBy); everything after rides the materialized
    alphabet-bounded grid (3 window partitionings, 2 marginals + tie
    aggs, the final joins/sort)."""
    from real_time_database_monitoring_system_spark.plans import checks
    from real_time_database_monitoring_system_spark.sources.registry import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    budgets = [
        ("kendall_tau", analytics.kendall_tau(docs), 10),
    ]
    for name, df, max_ex in budgets:
        n = checks.count_exchanges(df)
        assert n <= max_ex, f"{name}: {n} exchanges > budget {max_ex}"


def test_windowed_wasserstein_hand_values(spark):
    # day0: two values at 1.00; day1: two at 1.02 -> W1 = 0.02 exactly;
    # day2 identical to day1 -> W1 = 0; day0 has no previous day -> absent
    us = 86400000000
    rows = [
        (0 * us, "a", 1.00), (0 * us + 5, "a", 1.00),
        (1 * us, "a", 1.02), (1 * us + 5, "a", 1.02),
        (2 * us, "a", 1.02), (2 * us + 5, "a", 1.02),
    ]
    ev = spark.createDataFrame(
        [(i, ts, t, v) for i, (ts, t, v) in enumerate(rows)],
        "event_id long, us long, event_type string, value double",
    ).select(
        "event_id",
        F.expr("timestamp_micros(us)").cast("timestamp_ntz").alias("ts"),
        "event_type",
        "value",
    )
    got = {
        r["day"]: r for r in analytics.windowed_wasserstein(ev).collect()
    }
    assert set(got) == {1, 2}
    assert got[1]["w1_value"] == pytest.approx(0.02)
    assert got[2]["w1_value"] == 0.0
    assert got[1]["n_ref"] == 2 and got[1]["n_cur"] == 2


def test_len_quality_histogram_shares(spark):
    from real_time_database_monitoring_system_spark.operators import curation
    from real_time_database_monitoring_system_spark.sources.registry import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    rows = curation.len_quality_histogram(docs).collect()
    assert rows, "non-empty histogram"
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
        assert 0 <= r["q_band"] <= 9
        assert r["n_docs"] >= 1
    for src, cells in by_src.items():
        assert sum(c["share"] for c in cells) == pytest.approx(1.0)
    # totals reconcile with the quality-scored doc count (n_tokens>0)
    from real_time_database_monitoring_system_spark.operators.text import quality_score

    n_scored = quality_score(docs).count()
    assert sum(r["n_docs"] for r in rows) == n_scored


def test_dedup_agreement_kappa_planted(spark):
    from real_time_database_monitoring_system_spark.operators import dedup

    base = [
        (0, "alpha beta gamma delta epsilon zeta eta theta", "s1"),
        (1, "alpha beta gamma delta epsilon zeta eta theta", "s1"),  # mirror
        (2, "one two three four five six seven eight nine", "s1"),
        (3, "red orange yellow green blue indigo violet", "s1"),
        (4, "north south east west up down left right", "s1"),
    ]
    docs = spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, t, s in base],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = dedup.dedup_agreement_kappa(docs).collect()[0]
    # the exact mirror is found by BOTH paths; everything else by neither
    assert got["n_docs"] == 5
    assert got["both_dup"] == 2
    assert got["sig_only"] == 0 and got["exact_only"] == 0
    assert got["agree_rate"] == pytest.approx(1.0)
    assert got["kappa"] == pytest.approx(1.0)


def test_kappa_sql_algebra(spark):
    from real_time_database_monitoring_system_spark.operators.dedup import KAPPA_SQL

    # hand-checked 2x2: a=20 both, b=5 sig-only, c=10 exact-only, d=65
    a, b, c, d = 20, 5, 10, 65
    n = a + b + c + d
    po = (a + d) / n
    pe = ((a + b) * (a + c) + (c + d) * (b + d)) / (n * n)
    expect = (po - pe) / (1 - pe)
    row = spark.sql(
        f"SELECT {KAPPA_SQL} AS kappa FROM (SELECT CAST({n} AS BIGINT) n,"
        f" CAST({a} AS BIGINT) a, CAST({b} AS BIGINT) b,"
        f" CAST({c} AS BIGINT) c, CAST({d} AS BIGINT) d)"
    ).collect()[0]
    assert row["kappa"] == pytest.approx(expect, rel=1e-12)
    # degenerate margin (pe == 1): NULL, not a division error
    row = spark.sql(
        f"SELECT {KAPPA_SQL} AS kappa FROM (SELECT CAST(10 AS BIGINT) n,"
        " CAST(10 AS BIGINT) a, CAST(0 AS BIGINT) b,"
        " CAST(0 AS BIGINT) c, CAST(0 AS BIGINT) d)"
    ).collect()[0]
    assert row["kappa"] is None


def test_winnow_chain_lengths_planted(spark):
    from real_time_database_monitoring_system_spark.operators import dedup

    # a 3-doc chain via a SHARED PASSAGE: A~B share passage p1, B~C
    # share p2, A and C share nothing -> transitive closure = one
    # chain of 3; plus an isolated near-pair (chain of 2) and a
    # singleton (excluded from the histogram)
    p1 = " ".join(f"p1tok{i}" for i in range(30))
    p2 = " ".join(f"p2tok{i}" for i in range(30))
    docs = [
        (0, p1 + " unique tail zero aa bb cc dd ee"),
        (1, p1 + " " + p2),
        (2, p2 + " unique tail two ff gg hh ii jj"),
        (3, "completely different text one two three four five six seven"),
        (4, "completely different text one two three four five six seven"),
        (5, "nothing shared here at all nine ten eleven twelve thirteen"),
    ]
    df = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {r["chain_len"]: r for r in dedup.winnow_chain_lengths(df).collect()}
    assert set(got) == {2, 3}
    assert got[3]["n_chains"] == 1 and got[3]["n_docs"] == 3
    assert got[2]["n_chains"] == 1 and got[2]["n_docs"] == 2
    assert got[3]["doc_share"] == pytest.approx(3 / 5)


def test_windowed_ks_hand_values(spark):
    from real_time_database_monitoring_system_spark.operators import anomaly

    # day0: values {1.00, 2.00}; day1: {2.00, 3.00} -> ECDF gaps at
    # cents 100 (1/2 vs 0), 200 (1 vs 1/2), 300 (1 vs 1) -> KS = 0.5;
    # day2 == day1 -> KS = 0
    us = 86400000000
    rows = [
        (0 * us, 1.00), (0 * us + 5, 2.00),
        (1 * us, 2.00), (1 * us + 5, 3.00),
        (2 * us, 2.00), (2 * us + 5, 3.00),
    ]
    ev = spark.createDataFrame(
        [(i, ts, "a", v) for i, (ts, v) in enumerate(rows)],
        "event_id long, us long, event_type string, value double",
    ).select(
        "event_id",
        F.expr("timestamp_micros(us)").cast("timestamp_ntz").alias("ts"),
        "event_type",
        "value",
    )
    got = {r["day"]: r for r in anomaly.windowed_ks(ev).collect()}
    assert set(got) == {1, 2}
    assert got[1]["ks_d"] == pytest.approx(0.5)
    assert got[2]["ks_d"] == 0.0


def _kw_brute(samples):
    """Scipy-free Kruskal–Wallis H from raw per-group samples."""
    import itertools

    allv = sorted(itertools.chain.from_iterable(samples.values()))
    n = len(allv)
    # midranks with ties
    ranks = {}
    i = 0
    while i < n:
        j = i
        while j < n and allv[j] == allv[i]:
            j += 1
        r = (i + 1 + j) / 2  # average of ranks i+1..j
        ranks[allv[i]] = r
        i = j
    h = 0.0
    for vals in samples.values():
        rsum = sum(ranks[v] for v in vals)
        h += rsum * rsum / len(vals)
    h = 12.0 * h / (n * (n + 1)) - 3 * (n + 1)
    ties = {}
    for v in allv:
        ties[v] = ties.get(v, 0) + 1
    tie_cube = sum(t**3 - t for t in ties.values())
    if tie_cube:
        h /= 1 - tie_cube / (n**3 - n)
    return h


def _h_from_components(rows):
    """Consumer-side H from the emitted exact integer components
    (the docstring formula; R_i = r2_sum/2)."""
    n = rows[0]["n_total"]
    tie_cube = rows[0]["tie_cube"]
    s = sum((r["r2_sum"] / 2) ** 2 / r["n_i"] for r in rows)
    h = 12.0 * s / (n * (n + 1)) - 3 * (n + 1)
    if tie_cube:
        h /= 1 - tie_cube / (n**3 - n)
    return h


def _run_kruskal(spark, samples):
    rows = [
        (g, float(v)) for g, vals in samples.items() for v in vals
    ]
    pv = (
        spark.createDataFrame(rows, "event_type string, value double")
        .groupBy("event_type", "value")
        .agg(F.count("*").alias("c"))
    )
    return analytics.kruskal_from_value_counts(pv).collect()


def test_kruskal_brute_force_identity(spark):
    samples = {
        "a": [1.0, 2.5, 2.5, 4.0, 7.0, 7.0],
        "b": [2.5, 3.0, 7.0, 8.0, 9.0],
        "c": [1.0, 1.0, 5.0, 6.0, 10.0, 11.0, 12.0],
    }
    rows = _run_kruskal(spark, samples)
    assert {r["event_type"] for r in rows} == {"a", "b", "c"}
    got_h = _h_from_components(rows)
    assert got_h == pytest.approx(_kw_brute(samples), rel=1e-12)
    # component-level exactness: rank sums are integers when doubled
    n = sum(len(v) for v in samples.values())
    assert rows[0]["n_total"] == n
    assert sum(r["r2_sum"] for r in rows) == 2 * n * (n + 1) // 2


def test_kruskal_textbook_value(spark):
    # classic 3-group example (Conover): no ties -> tie_cube == 0
    samples = {
        "g1": [27.0, 2.0, 4.0, 18.0, 7.0, 9.0],
        "g2": [20.0, 8.0, 14.0, 36.0, 21.0, 22.0],
        "g3": [34.0, 31.0, 3.0, 23.0, 30.0, 6.0],
    }
    rows = _run_kruskal(spark, samples)
    assert rows[0]["tie_cube"] == 0
    assert _h_from_components(rows) == pytest.approx(
        _kw_brute(samples), rel=1e-12
    )
    # identical distributions across groups -> H ~ 0 exactly when all
    # groups hold the same multiset (rank sums proportional to n_i)
    same = {"x": [1.0, 2.0, 3.0], "y": [1.0, 2.0, 3.0]}
    rows = _run_kruskal(spark, same)
    assert _h_from_components(rows) == pytest.approx(0.0, abs=1e-12)


def test_kruskal_shuffle_budget(spark):
    from real_time_database_monitoring_system_spark.plans import checks
    from real_time_database_monitoring_system_spark.sources.registry import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    n = checks.count_exchanges(analytics.kruskal_wallis(ev))
    # 1 feed-width exchange (the (type, value) groupBy); the rank
    # spine, per-group join and k-row final all ride materialized
    # alphabet-bounded relations
    assert n <= 8, f"kruskal_wallis: {n} exchanges > budget 8"


def _make_daily(spark, series):
    """Build a dense (event_type, day, y) relation from {type: [y0, y1, ...]}."""
    rows = [
        (t, d, int(y)) for t, ys in series.items() for d, y in enumerate(ys)
    ]
    return spark.createDataFrame(
        rows, "event_type string, day bigint, y bigint"
    )


def test_mann_kendall_brute_force(spark):
    from real_time_database_monitoring_system_spark.operators import anomaly

    series = {
        "up": [1, 2, 2, 3, 5, 5, 8],
        "flat": [4, 4, 4, 4],
        "mixed": [3, 1, 4, 1, 5, 9, 2, 6],
    }
    got = {
        r["event_type"]: r
        for r in anomaly.mann_kendall_from_daily(
            _make_daily(spark, series)
        ).collect()
    }
    for t, ys in series.items():
        n = len(ys)
        s_ref = sum(
            (ys[j] > ys[i]) - (ys[j] < ys[i])
            for i in range(n)
            for j in range(i + 1, n)
        )
        ties = {}
        for y in ys:
            ties[y] = ties.get(y, 0) + 1
        tie_ref = sum(t_ * (t_ - 1) * (2 * t_ + 5) for t_ in ties.values())
        assert got[t]["s_stat"] == s_ref, t
        assert got[t]["n_days"] == n
        assert got[t]["tie_term"] == tie_ref, t
    # strictly increasing: S = n(n-1)/2, no ties
    assert got["up"]["s_stat"] > 0
    assert got["flat"]["s_stat"] == 0
    assert got["flat"]["tie_term"] == 4 * 3 * 13


def test_runs_test_hand_values(spark):
    from real_time_database_monitoring_system_spark.operators import anomaly

    # median of [1,9,1,9,1,9,1] is 1 (disc: smallest value with
    # cume >= .5) -> days AT the median drop, leaving three "above"
    # days that are CONSECUTIVE in the reduced sequence -> one run
    # (the classical convention: dropped days close the gap)
    series = {
        "osc": [1, 9, 1, 9, 1, 9, 1],
        # [5,5,1,1,9,9]: median (disc, 0.5) = 1? sorted [1,1,5,5,9,9]
        # -> percentile_disc(0.5) picks 5 (cume_dist 4/6 >= 0.5 first
        # at value 5... actually value 1 has cume 2/6 < .5, 5 has 4/6)
        # days == 5 drop; signs by day: -,-,+,+ -> 2 runs
        "blocks": [5, 5, 1, 1, 9, 9],
    }
    got = {
        r["event_type"]: r
        for r in anomaly.runs_from_daily(_make_daily(spark, series)).collect()
    }
    assert got["osc"]["n_above"] == 3 and got["osc"]["n_below"] == 0
    assert got["osc"]["n_runs"] == 1
    assert got["blocks"]["n_above"] == 2 and got["blocks"]["n_below"] == 2
    assert got["blocks"]["n_runs"] == 2


def test_trend_tests_shuffle_budget(spark):
    from real_time_database_monitoring_system_spark.operators import anomaly
    from real_time_database_monitoring_system_spark.plans import checks
    from real_time_database_monitoring_system_spark.sources.registry import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    for name, df, budget in [
        ("mann_kendall_trend", anomaly.mann_kendall_trend(ev), 10),
        ("runs_test", anomaly.runs_test(ev), 10),
    ]:
        n = checks.count_exchanges(df)
        assert n <= budget, f"{name}: {n} exchanges > budget {budget}"


def test_dedup_quality_shift_planted(spark):
    from real_time_database_monitoring_system_spark.operators import curation

    # corpus: 3 distinct docs + 3 copies of the FIRST one -> dedup
    # removes 3 docs, all from the mirror's quality cell; ref counts
    # include every doc, cur counts only the 4 keepers
    mirror = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = [
        (0, mirror),
        (1, mirror),
        (2, mirror),
        (3, mirror),
        (4, "one two three four five six seven eight nine ten"),
        (5, "red orange yellow green blue indigo violet white black grey"),
    ]
    df = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = curation.dedup_quality_shift(df).collect()
    t_ref = sum(r["n_ref"] for r in rows)
    t_cur = sum(r["n_cur"] for r in rows)
    assert t_ref == 6 and t_cur == 3
    # the removed mass sits in exactly one bin: ref-cur == 3 there
    gaps = [r["n_ref"] - r["n_cur"] for r in rows]
    assert sorted(gaps, reverse=True)[0] == 3
    assert all(r["n_cur"] <= r["n_ref"] for r in rows)
    # a dedup-neutral corpus (no dups at all) scores PSI == 0 in every
    # bin: shares identical by construction
    nodup = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in docs[3:]],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    for r in curation.dedup_quality_shift(nodup).collect():
        assert r["psi_term"] == 0.0
        assert r["n_ref"] == r["n_cur"]


def test_dedup_quality_shift_budget(spark):
    from real_time_database_monitoring_system_spark.operators import curation
    from real_time_database_monitoring_system_spark.plans import checks
    from real_time_database_monitoring_system_spark.sources.registry import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    n = checks.count_exchanges(curation.dedup_quality_shift(docs))
    # two feed-width exchanges (quality token pass + digest groupBy);
    # the PSI cuts/bins ride the bounded q3 count relation
    assert n <= 14, f"dedup_quality_shift: {n} exchanges > budget 14"


def test_minhash_jaccard_calibration_planted(spark):
    from real_time_database_monitoring_system_spark.operators import dedup

    # exact mirrors: est == exact == 1 -> error 0 -> bucket 0 with
    # all 32 components matching; unrelated docs never become
    # candidates, so the histogram is exactly one row
    mirror = " ".join(f"tok{i}" for i in range(40))
    other = " ".join(f"zzz{i}" for i in range(40))
    df = spark.createDataFrame(
        [
            (0, mirror, "en", "s", len(mirror)),
            (1, mirror, "en", "s", len(mirror)),
            (2, other, "en", "s", len(other)),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = dedup.minhash_jaccard_calibration(df).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["err_bucket"] == 0
    assert r["n_pairs"] == 1
    assert r["sum_matches"] == 32
    assert r["share"] == 1.0


def test_minhash_calibration_bucket_arithmetic(spark):
    # the integer bucket floor(B*|m*u - i*H|/(H*u)) equals
    # floor(B*|m/H - i/u|) for a grid of rationals
    import math

    B, H = 20, 32
    for m in range(0, H + 1, 4):
        for i, u in [(1, 3), (2, 5), (7, 9), (0, 4), (5, 5)]:
            got = min((B * abs(m * u - i * H)) // (H * u), B - 1)
            want = min(int(math.floor(B * abs(m / H - i / u) + 1e-12)), B - 1)
            assert got == want, (m, i, u)


def test_minhash_calibration_budget(spark):
    from real_time_database_monitoring_system_spark.operators import dedup
    from real_time_database_monitoring_system_spark.plans import checks
    from real_time_database_monitoring_system_spark.sources.registry import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    n = checks.count_exchanges(dedup.minhash_jaccard_calibration(docs))
    # the banded pass budget (shingle groupBys + band/candidate joins
    # + the match/verify joins on candidates) + the tiny totals row
    assert n <= 18, f"minhash_jaccard_calibration: {n} exchanges > budget 18"


def test_quantile_drift_hand_values(spark):
    # day0: cents {100,200,300,400} -> p50 = 250 (type-7 interp);
    # day1: all shifted +100 -> p50 = 350, d50 = +100; p99 interp
    # between the top two values
    us = 86400000000
    rows = [
        (0 * us + i, "a", v) for i, v in enumerate([1.00, 2.00, 3.00, 4.00])
    ] + [
        (1 * us + i, "a", v) for i, v in enumerate([2.00, 3.00, 4.00, 5.00])
    ]
    ev = spark.createDataFrame(
        [(i, ts, t, v) for i, (ts, t, v) in enumerate(rows)],
        "event_id long, us long, event_type string, value double",
    ).select(
        "event_id",
        F.expr("timestamp_micros(us)").cast("timestamp_ntz").alias("ts"),
        "event_type",
        "value",
    )
    got = {r["day"]: r for r in analytics.quantile_drift(ev).collect()}
    assert set(got) == {0, 1}
    assert got[0]["p50_cents"] == pytest.approx(250.0)
    assert got[0]["d50_cents"] is None  # no previous day
    assert got[1]["p50_cents"] == pytest.approx(350.0)
    assert got[1]["d50_cents"] == pytest.approx(100.0)
    # p99 of [100..400]: h = 3*0.99 = 2.97 -> 300 + .97*100 = 397
    assert got[0]["p99_cents"] == pytest.approx(397.0)
    assert got[1]["n_day"] == 4


def test_quantile_drift_budget(spark):
    from real_time_database_monitoring_system_spark.plans import checks
    from real_time_database_monitoring_system_spark.sources.registry import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    n = checks.count_exchanges(analytics.quantile_drift(ev))
    # 1 feed-width exchange (the (type, day, cents) groupBy); the
    # cumulative window, the type-7 pick and the previous-day frame all
    # run over the bounded count relation and its (type, day) rows
    assert n <= 10, f"quantile_drift: {n} exchanges > budget 10"


def test_quantile_drift_builds_without_jobs(spark):
    from real_time_database_monitoring_system_spark.sources.registry import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    sc = spark.sparkContext
    group = "construct-quantile-drift"
    sc.setJobGroup(group, "construction only")
    try:
        analytics.quantile_drift(ev)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_stream_quantile_drift_coda_builds_without_jobs(spark, monkeypatch):
    # the replay itself runs jobs; the job group starts once the
    # stream has finished, so only the coda's construction is counted
    from real_time_database_monitoring_system_spark.streaming import rollup

    sc = spark.sparkContext
    group = "construct-stream-quantile-drift-coda"
    run_to_memory = rollup._run_to_memory

    def then_count(stream_df, mode):
        out = run_to_memory(stream_df, mode)
        sc.setJobGroup(group, "coda construction only")
        return out

    monkeypatch.setattr(rollup, "_run_to_memory", then_count)
    try:
        rollup.stream_quantile_drift(spark, "/root/testdata/sf0.001")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def _type7(values, num, den):
    """Reference type-7 quantile with the coda's integer rank split."""
    v = sorted(values)
    i, rem = divmod((len(v) - 1) * num, den)
    lo = v[i]
    hi = v[i + 1] if i + 1 < len(v) else lo
    return float(lo) + (float(rem) * (float(hi) - float(lo))) / float(den)


# (event_type, day, cents, c) rows shared by the two tests below; the
# first one describes them
_CODA_ROWS = [
    ("b", 2, 700, 2),
    ("a", 0, 100, 2),
    ("b", 0, 100, 1),
    ("a", 2, 300, 1),
    ("a", 0, None, 1),
    ("b", 0, 900, 3),
    ("a", 1, 500, 3),
    ("a", 0, 400, 1),
    ("c", 0, None, 2),
    ("a", 2, 800, 4),
    ("b", 2, 200, 1),
    (None, 1, 200, 2),
    ("a", None, 600, 2),
    (None, 0, 100, 1),
    ("a", None, 250, 1),
    (None, 0, 300, 1),
]


def test_quantile_drift_coda_edge_cases(spark):
    # hand-built (event_type, day, cents, c) relation, rows deliberately
    # out of order: type a has days 0, 1, 2 (day 1 a single row, day 0
    # also carries a NULL-cents row); type b has days 0 and 2 only (a
    # gap: day 2 gets NULL deltas, never paired with day 0); type c's
    # only row on day 0 is NULL-cents. NULL keys (a NULL-type group on
    # consecutive days, a NULL-day group) keep their quantiles but get
    # NULL deltas: NULL never equals NULL in the oracle's day + 1 join
    rows = _CODA_ROWS
    counts = spark.createDataFrame(
        rows, "event_type string, day bigint, cents bigint, c bigint"
    )
    got = [r.asDict() for r in analytics.quantile_drift_from_counts(counts).collect()]

    qs = analytics.QUANTILE_DRIFT_QS
    values: dict[tuple[str, int], list[int]] = {}
    n_day: dict[tuple[str, int], int] = {}
    for t, d, cents, c in rows:
        n_day[(t, d)] = n_day.get((t, d), 0) + c
        values.setdefault((t, d), []).extend([cents] * c if cents is not None else [])
    want = []
    # Spark's ascending order puts NULL first
    for t, d in sorted(n_day, key=lambda k: (k[0] is not None, k[0], k[1] is not None, k[1])):
        q = {a: _type7(values[(t, d)], num, den) if values[(t, d)] else None for a, num, den in qs}
        prev = values.get((t, d - 1)) if t is not None and d is not None else None
        row = {"event_type": t, "day": d, "n_day": n_day[(t, d)]}
        row.update({f"{a}_cents": q[a] for a, _, _ in qs})
        row.update(
            {
                f"d{a[1:]}_cents": q[a] - _type7(prev, num, den) if prev else None
                for a, num, den in qs
            }
        )
        want.append(row)
    assert got == want
    by_key = {(r["event_type"], r["day"]): r for r in got}
    assert by_key[("b", 2)]["d50_cents"] is None  # day gap: no pairing with day 0
    assert by_key[("a", 1)]["p99_cents"] == 500.0  # single-row day
    assert by_key[("a", 0)]["n_day"] == 4  # the NULL-cents row counts
    assert by_key[(None, 1)]["p50_cents"] == 200.0
    assert by_key[(None, 1)]["d50_cents"] is None  # NULL type: no pairing
    assert by_key[("a", None)]["p50_cents"] == 600.0
    assert by_key[("a", None)]["d50_cents"] is None  # NULL day: no pairing
    assert by_key[("c", 0)] == {
        "event_type": "c", "day": 0, "n_day": 2,
        **{f"{a}_cents": None for a, _, _ in qs},
        **{f"d{a[1:]}_cents": None for a, _, _ in qs},
    }


def test_counts_quantiles_keep_null_key_groups(spark):
    # a NULL key is a group like any other, as in SQL's GROUP BY: the
    # NULL-type groups (values 100/300 on day 0, 200 twice on day 1)
    # and the NULL-day group get their quantiles, not NULL
    from real_time_database_monitoring_system_spark.operators.util import (
        cont_quantiles_from_counts,
        disc_quantiles_from_counts,
    )

    counts = spark.createDataFrame(
        _CODA_ROWS, "event_type string, day bigint, cents bigint, c bigint"
    )
    keys = ["event_type", "day"]
    qs = [("p25", 1, 4), ("p50", 1, 2), ("p99", 99, 100)]
    values: dict[tuple[str, int], list[int]] = {}
    for t, d, cents, c in _CODA_ROWS:
        values.setdefault((t, d), []).extend([cents] * c if cents is not None else [])

    cont = {
        (r["event_type"], r["day"]): r.asDict()
        for r in cont_quantiles_from_counts(counts, keys, "cents", qs, weight="c").collect()
    }
    # the disc helper counts rows itself: one row per occurrence
    rows = counts.select(
        *keys, F.explode(F.array_repeat("cents", F.col("c").cast("int"))).alias("cents")
    )
    disc = {
        (r["event_type"], r["day"]): r.asDict()
        for r in disc_quantiles_from_counts(rows, keys, "cents", qs).collect()
    }
    assert set(cont) == set(disc) == set(values)
    for key, vs in values.items():
        for alias, num, den in qs:
            want = _type7(vs, num, den) if vs else None
            assert cont[key][alias] == want, (key, alias)
            # percentile_disc: the smallest value whose cumulative
            # count reaches num/den of the group's values
            v = sorted(vs)
            want = next((x for i, x in enumerate(v) if (i + 1) * den >= len(v) * num), None)
            assert disc[key][alias] == want, (key, alias)
    assert cont[(None, 0)]["p50"] == 200.0
    assert cont[(None, 1)]["p50"] == 200.0
    assert cont[("a", None)]["p50"] == 600.0
    assert disc[(None, 0)]["p50"] == 100



def _null_key_feed(tmp_path):
    """DuckDB views over a hand-built events/documents feed with a NULL
    key (a group with values and a NULL value) and a key whose values
    are all NULL, written as parquet under ``tmp_path``."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    ts = pa.array([1_700_000_000_000_000 + i for i in range(9)], pa.timestamp("us"))
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(9), pa.int64()),
                "ts": ts,
                "user_id": pa.array([7] * 9, pa.int64()),
                "event_type": [None, None, None, "a", "a", "a", "a", "c", "c"],
                "value": [100.0, 300.0, None, 1.0, 2.0, 3.0, 4.0, None, None],
                "props": pa.array([None] * 9, pa.string()),
            }
        ),
        tmp_path / "events.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(7), pa.int64()),
                "text": ["x"] * 7,
                "lang": ["en"] * 7,
                "source": [None, None, None, "s1", "s1", "s1", "s2"],
                "n_chars": pa.array([10, 30, None, 5, 7, 9, None], pa.int64()),
            }
        ),
        tmp_path / "documents.parquet",
    )
    con = duckdb.connect()
    for t in ("events", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tmp_path}/{t}.parquet')")
    return con


@pytest.mark.parametrize(
    "name", ["value_percentiles_interp", "streaming_value_percentiles", "doc_length_percentiles"]
)
def test_counts_quantiles_null_key_oracle_parity(spark, tmp_path, name):
    # the registry callers of the counts quantiles and their DuckDB
    # oracles agree on a feed with a NULL key and an all-NULL-value key
    from __spark_entry__ import queries
    from tests.oracle_harness import compare_frame, run_oracle

    con = _null_key_feed(tmp_path)
    sdf = queries()[name](spark, str(tmp_path))
    assert compare_frame(sdf, run_oracle(con, name)) == []
    key = sdf.columns[0]
    null_group = [r for r in sdf.collect() if r[key] is None]
    assert len(null_group) == 1 and null_group[0]["p50"] == (200.0 if key == "event_type" else 20.0)


def test_winsorized_stats_all_null_type_oracle_parity(spark, tmp_path):
    # a type whose values are all NULL has no value below or above its
    # cut points: 0 on both engines, not NULL on the Spark side
    from __spark_entry__ import queries
    from tests.oracle_harness import compare_frame, run_oracle

    con = _null_key_feed(tmp_path)
    sdf = queries()["winsorized_stats"](spark, str(tmp_path))
    assert compare_frame(sdf, run_oracle(con, "winsorized_stats")) == []
    ghost = [r for r in sdf.collect() if r["event_type"] == "c"]
    assert [(r["n"], r["n_below"], r["n_above"]) for r in ghost] == [(2, 0, 0)]


def test_brown_forsythe_brute_force(spark):
    # F from emitted components vs a scipy-free reference
    samples = {
        "a": [100, 200, 200, 300, 900],
        "b": [150, 150, 150, 160, 170, 180],
        "c": [100, 500, 900, 1300],
    }
    pv = (
        spark.createDataFrame(
            [(t, v) for t, vs in samples.items() for v in vs],
            "event_type string, cents long",
        )
        .groupBy("event_type", "cents")
        .agg(F.count("*").alias("c"))
    )
    rows = analytics.brown_forsythe_from_counts(pv).collect()
    got = {r["event_type"]: r for r in rows}
    # reference medians: percentile_disc(0.5) = smallest v with
    # 2*cum >= n
    for t, vs in samples.items():
        sv = sorted(vs)
        n = len(sv)
        med = sv[(n - 1) // 2] if n % 2 else sv[n // 2 - 1]
        zs = [abs(v - med) for v in vs]
        assert got[t]["med_cents"] == med, t
        assert got[t]["n_i"] == n
        assert got[t]["sum_z"] == sum(zs), t
        assert got[t]["sum_z2"] == sum(z * z for z in zs), t
    # consumer-side F against a direct computation
    k = len(samples)
    n_tot = sum(r["n_i"] for r in rows)
    zbar = sum(r["sum_z"] for r in rows) / n_tot
    between = sum(
        r["n_i"] * (r["sum_z"] / r["n_i"] - zbar) ** 2 for r in rows
    )
    within = sum(
        r["sum_z2"] - r["sum_z"] ** 2 / r["n_i"] for r in rows
    )
    f_got = (n_tot - k) / (k - 1) * between / within
    # direct
    allz = []
    groups = []
    for t, vs in samples.items():
        sv = sorted(vs)
        n = len(sv)
        med = sv[(n - 1) // 2] if n % 2 else sv[n // 2 - 1]
        zs = [abs(v - med) for v in vs]
        groups.append(zs)
        allz += zs
    gz = sum(allz) / len(allz)
    b_ref = sum(len(z) * (sum(z) / len(z) - gz) ** 2 for z in groups)
    w_ref = sum(sum((x - sum(z) / len(z)) ** 2 for x in z) for z in groups)
    f_ref = (len(allz) - k) / (k - 1) * b_ref / w_ref
    assert f_got == pytest.approx(f_ref, rel=1e-9)


def test_brown_forsythe_budget(spark):
    from real_time_database_monitoring_system_spark.plans import checks
    from real_time_database_monitoring_system_spark.sources.registry import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    n = checks.count_exchanges(analytics.brown_forsythe(ev))
    assert n <= 8, f"brown_forsythe: {n} exchanges > budget 8"


def test_anova_components_and_f(spark):
    # textbook 3-group one-way ANOVA on an integer grid
    samples = {
        "a": [100, 200, 300],
        "b": [400, 500, 600],
        "c": [100, 100, 700],
    }
    mom = (
        spark.createDataFrame(
            [(t, v) for t, vs in samples.items() for v in vs],
            "event_type string, cents long",
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
    rows = analytics.anova_from_moments(mom).collect()
    got = {r["event_type"]: r for r in rows}
    for t, vs in samples.items():
        assert got[t]["n_i"] == len(vs)
        assert got[t]["sum_cents"] == sum(vs)
        assert got[t]["sum_cents_sq"] == sum(v * v for v in vs)
    # consumer F vs direct computation
    k = len(samples)
    n = sum(len(v) for v in samples.values())
    sx_tot = sum(r["sum_cents"] for r in rows)
    ssb = sum(r["sum_cents"] ** 2 / r["n_i"] for r in rows) - sx_tot**2 / n
    ssw = sum(r["sum_cents_sq"] for r in rows) - sum(
        r["sum_cents"] ** 2 / r["n_i"] for r in rows
    )
    f_got = (ssb / (k - 1)) / (ssw / (n - k))
    means = {t: sum(v) / len(v) for t, v in samples.items()}
    gmean = sum(sum(v) for v in samples.values()) / n
    ssb_ref = sum(len(v) * (means[t] - gmean) ** 2 for t, v in samples.items())
    ssw_ref = sum(
        sum((x - means[t]) ** 2 for x in v) for t, v in samples.items()
    )
    f_ref = (ssb_ref / (k - 1)) / (ssw_ref / (n - k))
    assert f_got == pytest.approx(f_ref, rel=1e-12)


def test_anova_budget(spark):
    from real_time_database_monitoring_system_spark.plans import checks
    from real_time_database_monitoring_system_spark.sources.registry import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    n = checks.count_exchanges(analytics.anova_oneway(ev))
    # one aggregation to k rows + the presentation sort
    assert n <= 4, f"anova_oneway: {n} exchanges > budget 4"


def test_registry_wide_plan_audit(spark):
    """The r8 close-of-round audit, now a committed rule: every BATCH
    registry entry's physical plan stays within the repo-wide exchange
    ceiling and contains no CartesianProduct. Streaming twins are
    excluded (building them runs availableNow queries; their plans are
    the shared batch codas). Two entries carry documented waivers:
    ann_recall_audit is a two-op composition (15 exchanges, audited
    r8); curation_waterfall chains four curation stages;
    dedup_agreement_kappa runs BOTH dedup paths it compares (the
    banded minhash pass + the exact inverted-index pass, each its own
    operator's budget) plus the verdict joins — 20, audited r9."""
    from __spark_entry__ import queries
    from real_time_database_monitoring_system_spark.plans import checks

    sf = "/root/testdata/sf0.001"
    ceiling = {
        "ann_recall_audit": 16,
        "curation_waterfall": 16,
        "dedup_agreement_kappa": 20,
        # same dual-pass composition as the global audit + one extra
        # exchange for the per-source keyed final aggregate
        "dedup_agreement_by_source": 21,
    }
    failures = []
    for name, fn in sorted(queries().items()):
        if name.startswith("streaming_"):
            continue
        try:
            df = fn(spark, sf)
        except Exception as e:  # pragma: no cover - surface clearly
            failures.append(f"{name}: build failed: {e}")
            continue
        plan = checks.explain_str(df, "simple")
        n_ex = sum(
            1
            for line in plan.splitlines()
            if "Exchange" in line and "BroadcastExchange" not in line
        )
        cap = ceiling.get(name, 16)
        if n_ex > cap:
            failures.append(f"{name}: {n_ex} exchanges > {cap}")
        if "CartesianProduct" in plan:
            failures.append(f"{name}: CartesianProduct in plan")
    assert not failures, "\n".join(failures)


def test_mood_median_hand_values(spark):
    # grand sorted cents: [1,1,2,2,3,3,3,9]; N=8 -> median = smallest
    # with 2*cum >= 8 -> cum(2)=4 -> med=2. At-median drops.
    samples = {"a": [1, 1, 2, 9], "b": [2, 3, 3, 3]}
    pv = (
        spark.createDataFrame(
            [(t, v) for t, vs in samples.items() for v in vs],
            "event_type string, cents long",
        )
        .groupBy("event_type", "cents")
        .agg(F.count("*").alias("c"))
    )
    got = {
        r["event_type"]: r
        for r in analytics.mood_from_value_counts(pv).collect()
    }
    assert got["a"]["med_cents"] == 2
    assert got["a"]["n_above"] == 1 and got["a"]["n_below"] == 2
    assert got["b"]["n_above"] == 3 and got["b"]["n_below"] == 0


def test_top_dup_ngrams_planted(spark):
    from real_time_database_monitoring_system_spark.operators import dedup

    shared = "alpha beta gamma delta epsilon"
    docs = [
        (0, shared + " tail zero one two three four five"),
        (1, shared + " other tail six seven eight nine ten"),
        (2, shared + " " + shared),  # contains it twice (occurrences)
        (3, "totally different words with no overlap at all here"),
    ]
    df = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = dedup.top_dup_ngrams(df, shingle_k=5, top_n=5).collect()
    assert rows, "shared 5-gram found"
    top = rows[0]
    assert top["gram"] == shared
    assert top["n_docs"] == 3
    assert top["n_occurrences"] == 4  # doc 2 contributes two
    # every returned gram spans >= 2 docs
    assert all(r["n_docs"] >= 2 for r in rows)


def test_top_dup_ngrams_plan(spark):
    from real_time_database_monitoring_system_spark.operators import dedup
    from real_time_database_monitoring_system_spark.plans import checks
    from real_time_database_monitoring_system_spark.sources.registry import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    df = dedup.top_dup_ngrams(docs)
    # the top-N must be TakeOrderedAndProject, never a global sort
    assert checks.has_take_ordered(df)
    assert checks.count_exchanges(df) <= 6


def test_dow_gof_hand_values(spark):
    # 1970-01-01 (day 0) was a Thursday -> dow (mon=?): convention is
    # (day+4)%7, i.e. day 0 -> 4. Two Thursdays of "a" traffic, one
    # with 3 events, one with 1; one Friday with 2.
    us = 86400000000
    rows = (
        [(0 * us + i, "a") for i in range(3)]
        + [(7 * us, "a")]
        + [(1 * us + i, "a") for i in range(2)]
    )
    ev = spark.createDataFrame(
        [(i, ts, t, 1.0) for i, (ts, t) in enumerate(rows)],
        "event_id long, us long, event_type string, value double",
    ).select(
        "event_id",
        F.expr("timestamp_micros(us)").cast("timestamp_ntz").alias("ts"),
        "event_type",
        "value",
    )
    got = {r["dow"]: r for r in analytics.dow_activity_gof(ev).collect()}
    assert got[4]["n_events"] == 4 and got[4]["days_d"] == 2
    assert got[5]["n_events"] == 2 and got[5]["days_d"] == 1
    assert all(r["days_total"] == 3 for r in got.values())


def test_top_dup_ngrams_by_source_window_pruned(spark):
    from real_time_database_monitoring_system_spark.operators import dedup
    from real_time_database_monitoring_system_spark.plans import checks
    from real_time_database_monitoring_system_spark.sources.registry import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    df = dedup.top_dup_ngrams_by_source(docs)
    # rank<=N must push into the shuffle as WindowGroupLimit
    plan = checks.explain_str(df, "simple")
    assert "WindowGroupLimit" in plan
    assert checks.count_exchanges(df) <= 8
