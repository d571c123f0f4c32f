"""Statistical anomaly detection over the metric feed — the
robust-statistics extension of the reference's fixed-threshold panels
(``/root/reference/myapp/views.py:614-641`` flags cpu<95, ram<90, …):
fixed thresholds need per-metric tuning and miss regime changes, while
robust scores adapt to each series.

Both operators follow the repo determinism rules: medians are
`percentile_disc` order statistics (engine-exact, no interpolation),
flags derive from exact comparisons, and the only doubles are single
final expressions shared verbatim with the oracle.

Scale shape: each is bucket/key aggregation (one shuffle, map-side
partials) + a broadcast-sized baseline joined back to the feed. The
baseline table is #keys (× #buckets-of-day) rows — always tiny
relative to the feed — so the join is broadcast and the raw data is
scanned once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .util import materialize as _materialize
from .util import FEED_US
from .util import disc_quantiles_from_counts as _disc_quantiles
from .util import half_counts as _half_counts
from .util import windowed_day_cents_counts

# 1 / Φ^{-1}(3/4): scales MAD to estimate σ under normality
_MAD_SIGMA = 1.4826


def mad_baseline(events: DataFrame) -> DataFrame:
    """Per-type robust baseline: (event_type, med, mad), where med is
    the exact `percentile_disc` median of `value` and mad the median
    absolute deviation around it. Shared by the batch outlier flagger
    below and the streaming alert path (`streaming.rollup.
    stream_mad_alerts`) so the documented batch-twin contract cannot
    drift between two copies of the statistic.

    The median feeds two consumers (the MAD aggregation and the final
    baseline join), so it is materialized — otherwise the full-feed
    median subtree is recomputed per consumer (the repo-wide
    diamond-materialization rule).

    Both medians come from `disc_quantiles_from_counts` — exact
    `percentile_disc` replicas over per-distinct-value counts — so no
    stage ever buffers a feed-scale group's values in executor memory
    (the percentile_disc AGGREGATE does; see the helper's contract).
    """
    med = _materialize(
        _disc_quantiles(events, ["event_type"], "value", [("med", 1, 2)])
    )
    mad = _disc_quantiles(
        events.join(F.broadcast(med), "event_type").select(
            "event_type", F.abs(F.col("value") - F.col("med")).alias("adev")
        ),
        ["event_type"],
        "adev",
        [("mad", 1, 2)],
    )
    return med.join(mad, "event_type")


def mad_outliers(events: DataFrame, n_sigmas: float = 3.0) -> DataFrame:
    """Flag metric readings whose robust z-score exceeds `n_sigmas`:
    |value − median| > n · 1.4826 · MAD, per event_type. Median/MAD
    resist the very outliers being hunted, where mean/stddev get
    dragged toward them.

    Two aggregation passes over the (tiny) per-type groups — median,
    then median of absolute deviations — followed by a broadcast join
    back to the feed; the feed itself is scanned once per pass at
    worst, and the flag projection is map-side.
    """
    baseline = mad_baseline(events)
    # NULL-guarded: a zero MAD (>50% identical readings) has no scale
    # to score against — and ANSI mode makes the division an error,
    # not an Infinity. The flag below needs no division and still
    # fires on any deviation in that regime.
    score = F.when(
        F.col("mad") != 0,
        F.abs(F.col("value") - F.col("med"))
        / (F.lit(_MAD_SIGMA) * F.col("mad")),
    )
    return (
        events.join(F.broadcast(baseline), "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            "med",
            "mad",
            F.round(score, 9).alias("robust_z"),
            (F.abs(F.col("value") - F.col("med"))
             > F.lit(n_sigmas * _MAD_SIGMA) * F.col("mad")).alias("is_outlier"),
        )
        .orderBy("event_id")
    )


def drift_cusum(events: DataFrame, threshold: float = 500.0) -> DataFrame:
    """Level-shift (drift) detection via cumulative deviation: per
    event_type, the running sum of (value − series MEDIAN) in
    event-time order. A healthy series oscillates around 0; a
    sustained shift accumulates linearly and crosses ±`threshold` —
    the regime-change signal point-wise scores (`mad_outliers`) cannot
    see, because after a shift every individual reading looks locally
    normal. (The textbook one-sided CUSUM resets at 0 and is a
    recursion no window frame expresses; the unreset
    cumulative-deviation form detects the same shifts and stays one
    window expression.) The median reference keeps the whole operator
    in the module's robust family — and, unlike the mean, it is an
    order statistic of the 2-decimal feed, so the deviation is EXACT
    decimal arithmetic end to end: cum_dev = running_sum(value) −
    n_seen × median has no division, no rounding, and no float
    boundary for engines to disagree on (a mean-based variant was
    hash-unstable at exactly the round(…,9) half-boundary).

    The running sum is a TWO-LEVEL distributed prefix sum, not one
    window per type: `Window.partitionBy(event_type)` caps parallelism
    at #types (5 partitions × 20M rows each at the 100M-row operating
    point — measured 134.8 s for the window stage alone, one thread
    per type sorting its whole series). Instead: (1) a per-(type, DAY)
    window computes chunk-local cumsums — parallelism #types × #days;
    (2) per-chunk totals reduce to a tiny relation; (3) a window over
    THAT relation yields each chunk's prefix offset; (4) offsets
    broadcast-join back and `cum = local + offset_before`. Decimal
    addition is associative and exact, so the result is IDENTICAL to
    the single-window form digit for digit (oracle unchanged,
    pinned by tests/test_round8_wave6.py::test_drift_cusum_two_level_identity);
    the day chunk is monotone in the (µs, event_id) order, so within-
    chunk ordering composes to the global ordering.

    No presentation sort: the output is FEED-scale, and a global
    orderBy range-sorts 100M rows for display alone (measured ~315 s
    at the 100M-row point — 70% of the operator). The correctness
    gate hashes rows order-insensitively (every streaming twin
    already returns sink order), so the sort bought nothing at any
    scale and is dropped; consumers needing event order sort their
    (usually filtered) result.
    """
    stats = _disc_quantiles(events, ["event_type"], "value", [("med", 1, 2)])
    us = F.expr("unix_micros(cast(ts as timestamp))")
    chunked = events.select(
        "event_id",
        "event_type",
        "value",
        us.alias("us"),
        (us.cast("bigint") - (us.cast("bigint") % F.lit(86_400_000_000))).alias(
            "chunk"
        ),
    )
    wloc = (
        Window.partitionBy("event_type", "chunk")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = chunked.select(
        "event_id",
        "event_type",
        "value",
        "chunk",
        F.sum(F.col("value").cast("decimal(18,2)")).over(wloc).alias("loc_sum"),
        F.count("*").over(wloc).alias("loc_n"),
    )
    totals = chunked.groupBy("event_type", "chunk").agg(
        F.sum(F.col("value").cast("decimal(18,2)")).alias("tot"),
        F.count("*").alias("tn"),
    )
    wchunk = (
        Window.partitionBy("event_type")
        .orderBy("chunk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = totals.select(
        "event_type",
        "chunk",
        (F.sum("tot").over(wchunk) - F.col("tot")).alias("off_sum"),
        (F.sum("tn").over(wchunk) - F.col("tn")).alias("off_n"),
    )
    cum_sum = F.col("loc_sum") + F.col("off_sum")
    n_seen = F.col("loc_n") + F.col("off_n")
    cum_dev = cum_sum - n_seen * F.col("med").cast("decimal(18,2)")
    return (
        local.join(F.broadcast(offsets), ["event_type", "chunk"])
        .join(F.broadcast(stats), "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            "med",
            cum_dev.cast("double").alias("cum_dev"),
            (F.abs(cum_dev) > F.lit(threshold).cast("decimal(18,2)")).alias("is_drift"),
        )
    )


def seasonal_baseline(events: DataFrame, bucket_minutes: int = 60) -> DataFrame:
    """Compare each reading to the TYPICAL value for its time-of-day:
    per (event_type, bucket-of-day) median over the whole feed, joined
    back — the \"is this high for 3 AM?\" question fixed thresholds
    cannot ask. Deviation is a single double ratio, NULL-safe when the
    baseline median is 0.

    The baseline has #types × (1440/bucket_minutes) rows — broadcast
    by construction at any feed scale.
    """
    bucket = F.expr(
        f"(unix_micros(cast(ts as timestamp)) div 60000000) % 1440 div {bucket_minutes}"
    )
    with_bucket = events.withColumn("tod_bucket", bucket)
    baseline = _disc_quantiles(
        with_bucket, ["event_type", "tod_bucket"], "value", [("typical", 1, 2)]
    ).join(
        with_bucket.groupBy("event_type", "tod_bucket").agg(
            F.count("*").alias("n_baseline")
        ),
        ["event_type", "tod_bucket"],
    )
    return (
        with_bucket.join(F.broadcast(baseline), ["event_type", "tod_bucket"])
        .select(
            "event_id",
            "event_type",
            "tod_bucket",
            "value",
            "typical",
            "n_baseline",
            F.round(
                F.when(
                    F.col("typical") != 0, F.col("value") / F.col("typical")
                ),
                9,
            ).alias("vs_typical"),
        )
        .orderBy("event_id")
    )


def winsorized_stats(events: DataFrame, lo: float = 0.05, hi: float = 0.95) -> DataFrame:
    """Per-type winsorized summary: clip the metric at its exact
    [p_lo, p_hi] order statistics and report the tail mass plus the
    winsorized mean — the robust "what does this metric look like with
    outliers tamed" panel, and the standard pre-normalization step for
    training-feature pipelines (extreme values would otherwise own the
    min-max range).

    Determinism: the cut points are `percentile_disc` order statistics
    (values that exist in the data — engine-exact); clipping is pure
    comparison (`least`/`greatest`, no arithmetic); the winsorized sum
    accumulates exact DECIMAL(18,2); the single final double division
    produces the mean. Scale shape: one keyed aggregation for the cut
    points (#types rows → broadcast), one feed scan for the clipped
    aggregate — map-side partials, no window, no sort.
    """
    from fractions import Fraction

    flo, fhi = (
        Fraction(lo).limit_denominator(1_000_000),
        Fraction(hi).limit_denominator(1_000_000),
    )
    cuts = _disc_quantiles(
        events,
        ["event_type"],
        "value",
        [
            ("p_lo", flo.numerator, flo.denominator),
            ("p_hi", fhi.numerator, fhi.denominator),
        ],
    )
    clipped = F.least(F.greatest(F.col("value"), F.col("p_lo")), F.col("p_hi"))
    return (
        events.join(F.broadcast(cuts), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.first("p_lo").alias("p_lo"),
            F.first("p_hi").alias("p_hi"),
            # count(when), not sum(cast): 0 rather than NULL for a type
            # whose values are all NULL, as in SQL's sum(CASE ... ELSE 0)
            F.count(F.when(F.col("value") < F.col("p_lo"), 1)).alias("n_below"),
            F.count(F.when(F.col("value") > F.col("p_hi"), 1)).alias("n_above"),
            F.sum(clipped.cast("decimal(18,2)")).alias("win_sum"),
        )
        .select(
            "event_type",
            "n",
            "p_lo",
            "p_hi",
            "n_below",
            "n_above",
            (F.col("win_sum").cast("double") / F.col("n").cast("double")).alias(
                "win_mean"
            ),
        )
        .orderBy("event_type")
    )


def psi_bin_case_sql(nbins: int) -> str:
    """CASE chain assigning `value` to a decile bin given cut columns
    c1..c{nbins-1} — generated from one constant so the Spark operator
    and the DuckDB oracle can never drift (the `_km_chain` rule)."""
    arms = " ".join(
        f"WHEN value <= c{i} THEN {i}" for i in range(1, nbins)
    )
    return f"CASE {arms} ELSE {nbins} END"


# per-bin PSI contribution with Laplace-smoothed shares over the
# NOMINAL bin count (so empty current-side bins stay finite), pinned
# evaluation order, one transcendental, round(9) at the edge
PSI_TERM_SQL = (
    "round(((CAST(c_ref + 1 AS DOUBLE) / CAST(t_ref + {nbins} AS DOUBLE))"
    " - (CAST(c_cur + 1 AS DOUBLE) / CAST(t_cur + {nbins} AS DOUBLE)))"
    " * ln((CAST(c_ref + 1 AS DOUBLE) / CAST(t_ref + {nbins} AS DOUBLE))"
    " / (CAST(c_cur + 1 AS DOUBLE) / CAST(t_cur + {nbins} AS DOUBLE))), 9)"
)


def psi_drift(events: DataFrame, nbins: int = 10) -> DataFrame:
    """Population Stability Index between the feed's first and second
    time halves — the standard ML-ops drift score (PSI < 0.1 stable,
    0.1–0.25 shifting, > 0.25 drifted) for "has the metric
    distribution moved since the reference window". Complements
    `drift_cusum` (WHEN a level change happened) with WHETHER the
    distribution as a whole still matches, which catches
    variance/shape drift CUSUM misses.

    Reference bins are the reference half's own deciles
    (`percentile_disc` order statistics — engine-exact), so the score
    is scale-free; shares are Laplace-smoothed over the nominal bin
    count so a bin the current half abandoned contributes a finite
    term. Per-bin terms are round(9) pinned-order doubles; summing is
    the consumer's one exact addition over ≤ nbins rows.

    Scale shape (r7): one min/max aggregate (broadcast), then ONE
    keyed per-distinct-value count over the feed (map-side partials —
    `value` carries 2 decimals, so the relation is bounded by the
    value alphabet, the `ks_drift` ECDF trade); deciles come from an
    integer-cross-multiplication cumsum over THAT relation — an exact
    `percentile_disc` replica (cum·nbins ≥ i·n ⟺ cume_dist ≥ i/nbins,
    no doubles near the cut, no feed-scale SORT; the percentile_disc
    form this replaced sorted the whole reference half, the one
    feed-scale sort in the family — 3.9 s at 10M rows vs 1.3 s for
    this shape, identical output). The feed is scanned twice total
    and never shuffled row-wise; every join is broadcast. The
    streaming twin shares this coda verbatim."""
    if nbins < 2:
        raise ValueError("psi_drift: nbins must be ≥ 2")
    per_value = _half_counts(events, [], "value", "d")
    return psi_from_value_counts(per_value, nbins)

def dispersion_panel(events: DataFrame, bucket_seconds: int = 60) -> DataFrame:
    """Burstiness diagnosis per event type: the index of dispersion
    (Fano factor — variance/mean of per-bucket arrival counts) with a
    band classification. A Poisson-like feed sits near 1; > 1 flags
    bursty arrivals (retry storms, thundering herds) that a mean-rate
    panel smooths over, and alert thresholds calibrated on a Poisson
    assumption will misfire on.

    Two tiny aggregations: the feed reduces once to the (type,
    bucket) count relation (map-side partials), then the moment sums
    run over THAT relation — counts are exact integers and the only
    doubles are the pinned-order mean/variance/Fano combines shared
    verbatim with the oracle. The feed is never windowed or sorted.

    NOTE: only buckets with ≥1 arrival enter the statistic (the
    zero-bucket mass would need a dense spine over the observation
    span; with it the Fano factor drops further for sparse types) —
    the same convention both engines apply, documented for the
    interpretation."""
    bucket_us = bucket_seconds * 1_000_000
    counts = events.groupBy(
        "event_type", F.expr(f"{FEED_US} div {bucket_us}").alias("b")
    ).agg(F.count("*").alias("c"))
    return (
        counts.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_buckets"),
            F.sum("c").cast("bigint").alias("n_events"),
            # cast an OPERAND, not the product: c*c in bigint already
            # overflows at c > ~3e9 before the outer cast can widen it
            F.sum(F.expr("CAST(c AS DECIMAL(38,0)) * c")).alias("s2"),
        )
        .select(
            "event_type",
            "n_buckets",
            "n_events",
            F.expr(
                "round(CAST(n_events AS DOUBLE) / CAST(n_buckets AS DOUBLE), 9)"
            ).alias("mean_per_bucket"),
            F.expr(
                "round(CASE WHEN n_buckets > 1 THEN"
                " (CAST(s2 AS DOUBLE) / CAST(n_buckets AS DOUBLE)"
                "  - (CAST(n_events AS DOUBLE) / CAST(n_buckets AS DOUBLE))"
                "  * (CAST(n_events AS DOUBLE) / CAST(n_buckets AS DOUBLE)))"
                " / (CAST(n_events AS DOUBLE) / CAST(n_buckets AS DOUBLE))"
                " END, 9)"
            ).alias("fano_factor"),
        )
        .withColumn(
            "arrival_class",
            F.when(F.col("fano_factor").isNull(), "unknown")
            .when(F.col("fano_factor") > 1.5, "bursty")
            .when(F.col("fano_factor") < 0.7, "regular")
            .otherwise("poisson_like"),
        )
        .orderBy("event_type")
    )


# KS statistic from the integer ECDF-gap numerator: at each distinct
# value v, |ECDF_ref(v) − ECDF_cur(v)| = |c_ref·n_cur − c_cur·n_ref| /
# (n_ref·n_cur) — the numerator is exact (DECIMAL products so a
# trillion-row half can't overflow a BIGINT), the single division
# happens once on the per-type maximum. No round() (retrofitted in
# r10, the AD_STAT_SQL lesson): both operands are exact integers cast
# to DOUBLE, so the raw IEEE quotient is the SAME double in both
# engines, while round(x, 9) diverges at decimal half-boundaries
# (ks_num/(n·m) lands exactly on …5 whenever n·m divides a power of
# 10 times an integer — a real case, seen on windowed AD).
KS_STAT_SQL = (
    "CAST(ks_num AS DOUBLE)"
    " / (CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE))"
)


def ks_drift(events: DataFrame) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift per event type between the
    feed's first and second time halves (the `psi_drift` split
    convention): D = max |ECDF_ref − ECDF_cur| over `value`. PSI needs
    a bin choice and saturates on shape changes inside a bin; KS is
    bin-free and exact — the complementary drift detector an ML-ops
    suite runs next to it.

    Determinism: the ECDF gap is computed on INTEGER cross-products
    (c_ref·n_cur − c_cur·n_ref, DECIMAL(38,0) accumulation) at each
    distinct value; the max of integers is exact, and the one double
    division (KS_STAT_SQL, shared with the oracle) happens per type on
    that max. The midpoint split is integer epoch-µs.

    Scale shape: the feed reduces to one row per (type, distinct
    value) with both halves' counts in ONE keyed aggregate; the
    running ECDF is a window partitioned by type over that reduced
    relation (never the raw feed); half totals are a #types-row
    broadcast. A type whose half is empty reports NULL (no
    distribution to compare) rather than a fake 1.0."""
    # diamond rule: the per-value count relation feeds both the half
    # totals and the ECDF window — materialize or the feed is scanned
    # (and the split-tagging recomputed) twice
    counts = _half_counts(events, ["event_type"], "value", "d")
    return ks_from_value_counts(
        _materialize(counts.filter(F.col("value").isNotNull()))
    )


def _pooled_ecdf(per_value: DataFrame, keys: list[str]) -> DataFrame:
    """The pooled ECDF every two-sample coda starts from, built once
    over the reduced ``(keys…, value, d_ref, d_cur)`` half-count
    relation. One row per (keys…, value) with:

    - ``n_ref`` / ``n_cur``: the per-key half totals (a #keys-row
      aggregate joined back as a broadcast), ``nt`` their sum;
    - ``d_ref``: the value's reference count, ``l`` its pooled count;
    - ``b``: the pooled cumulative count up to and including the value
      (the running ref and cur counts over one window per key ordered
      by ``value``);
    - ``gap``: the integer ECDF-gap numerator c_ref·n_cur − c_cur·n_ref
      of those running counts, in DECIMAL so a trillion-row half can't
      overflow a BIGINT.

    The input feeds two consumers (half totals + the ECDF window), so
    callers pass a MATERIALIZED relation: batch materializes the
    grouped counts, a streaming twin's memory-sink state is already
    stored, the windowed members go through `_windowed_coda`. Each coda
    keeps only its own aggregate and its stat select, aliasing these
    columns to the vocabulary of the SQL fragments it shares with the
    oracle."""
    totals = per_value.groupBy(*keys).agg(
        F.sum("d_ref").alias("n_ref"), F.sum("d_cur").alias("n_cur")
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ecdf = per_value.select(
        *keys,
        (F.col("d_ref") + F.col("d_cur")).alias("l"),
        "d_ref",
        F.sum("d_ref").over(w).alias("c_ref"),
        F.sum("d_cur").over(w).alias("c_cur"),
    )
    return ecdf.join(F.broadcast(totals), list(keys)).select(
        *keys,
        "n_ref",
        "n_cur",
        "d_ref",
        "l",
        (F.col("n_ref") + F.col("n_cur")).alias("nt"),
        (F.col("c_ref") + F.col("c_cur")).alias("b"),
        (
            F.col("c_ref").cast("decimal(20,0)") * F.col("n_cur").cast("decimal(18,0)")
            - F.col("c_cur").cast("decimal(20,0)") * F.col("n_ref").cast("decimal(18,0)")
        ).alias("gap"),
    )


def ks_from_value_counts(
    per_value: DataFrame, keys: list[str] | None = None
) -> DataFrame:
    """Finish the two-sample KS statistic (the largest |gap|) over the
    `_pooled_ecdf` of the reduced ``(keys…, value, d_ref, d_cur)``
    relation — shared by batch `ks_drift` and its streaming twin
    (`streaming.rollup.stream_ks_drift`), so the statistic cannot
    drift between two copies (the `mad_baseline` sharing rule).
    ``keys`` defaults to the per-type shape; `windowed_ks` passes
    (event_type, day) for the sliding-reference variant."""
    keys = keys or ["event_type"]
    gaps = _pooled_ecdf(per_value, keys).select(
        *keys, "n_ref", "n_cur", F.abs("gap").alias("gap")
    )
    return (
        gaps.groupBy(*keys)
        .agg(
            F.first("n_ref").alias("n_ref"),
            F.first("n_cur").alias("n_cur"),
            F.max("gap").cast("decimal(38,0)").alias("ks_num"),
        )
        .select(
            *keys,
            F.col("n_ref").cast("bigint").alias("n_ref"),
            F.col("n_cur").cast("bigint").alias("n_cur"),
            F.expr(
                f"CASE WHEN n_ref > 0 AND n_cur > 0 THEN {KS_STAT_SQL} END"
            ).alias("ks_d"),
        )
        .orderBy(*keys)
    )


# Anderson–Darling per-value term, fixed-point at SCALE=10⁴: each
# pooled distinct value contributes l·gap²·10⁴/(B·(N−B)) where gap =
# c_ref·n_cur − c_cur·n_ref is the SAME integer ECDF-gap numerator KS
# maximizes. Every factor is an exact integer cast to DOUBLE (exact
# below 2⁵³); the rounded per-term result is an INTEGER, and the sum
# of integers is order-independent — a float SUM of raw terms would
# tie the hash to the engines' aggregation order. Shared verbatim
# with the oracle. Both engines round() doubles half-away-from-zero.
AD_TERM_SQL = (
    "CAST(round(CAST(l AS DOUBLE) * CAST(gap AS DOUBLE) * CAST(gap AS DOUBLE)"
    " * 10000.0 / (CAST(b AS DOUBLE) * CAST(nt - b AS DOUBLE))) AS BIGINT)"
)
# NO round() here (unlike KS_STAT_SQL): ad_scaled and the denominator
# are exact integers below 2⁵³, so the raw IEEE division is the SAME
# double in both engines (the mwu u_stat rule) — while round(x, 9)
# hits decimal half-boundaries (ad_scaled/(nm·10⁴) often lands exactly
# on …5 at 9 dp because the denominator divides a power of 10) where
# Spark's BigDecimal HALF_UP and DuckDB's double-multiply rounding
# disagree — the observed windowed-AD sf0.001 mismatch.
AD_STAT_SQL = (
    "CAST(ad_scaled AS DOUBLE)"
    " / (CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE) * 10000.0)"
)


def anderson_darling(events: DataFrame) -> DataFrame:
    """Two-sample Anderson–Darling drift per event type between the
    feed's time halves — the TAIL-SENSITIVE member of the two-sample
    panel: KS weights every ECDF gap equally and goes blind in the
    tails (where B·(N−B) shrinks); AD divides each squared gap by
    B·(N−B), so a tail migration — exactly where latency regressions
    live — moves A² long before it moves D. Completes the panel:
    KS (sup norm), Kuiper (sup⁺+sup⁻), W1 (L1), CvM (L2), AD
    (variance-weighted L2). Scholz–Stephens k-sample A²kN specialized
    to k=2 with ties: for pooled distinct values with counts l_j,
    pooled cumulative B_j and gap_j = c_ref·n_cur − c_cur·n_ref,
    A² = Σ_j l_j·gap_j² / (B_j·(N−B_j)) / (n_ref·n_cur), the B_j = N
    term excluded. E[A²] = 1 under H0.

    Determinism: every per-value factor is an exact integer; the
    per-term division happens ONCE per distinct value in a shared SQL
    expression (`AD_TERM_SQL`) whose rounded result is an integer at
    SCALE=10⁴, so the per-type SUM is an integer sum — order-free —
    and the single final division (`AD_STAT_SQL`) is the KS rule.
    ad_scaled ≈ A²·n_ref·n_cur·10⁴ stays BIGINT-exact to N ≈ 10⁷ per
    type; past that the ANSI sum raises loudly (the family contract).

    Scale shape: identical to `ks_drift` — the shared
    `util.half_counts` reduction, then the one `_pooled_ecdf` (a
    per-type window over the reduced relation, totals broadcast)."""
    counts = _half_counts(events, ["event_type"], "value", "d")
    return ad_from_value_counts(
        _materialize(counts.filter(F.col("value").isNotNull()))
    )


def ad_from_value_counts(
    per_value: DataFrame, keys: list[str] | None = None
) -> DataFrame:
    """Anderson–Darling coda over the `_pooled_ecdf` of the reduced
    ``(keys…, value, d_ref, d_cur)`` relation — shared by the batch
    operator and `streaming.rollup.stream_anderson_darling`."""
    keys = keys or ["event_type"]
    return (
        _pooled_ecdf(per_value, keys)
        .groupBy(*keys)
        .agg(
            F.first("n_ref").alias("n_ref"),
            F.first("n_cur").alias("n_cur"),
            F.sum(
                F.expr(f"CASE WHEN b < nt THEN {AD_TERM_SQL} ELSE CAST(0 AS BIGINT) END")
            ).alias("ad_scaled"),
        )
        .select(
            *keys,
            F.col("n_ref").cast("bigint").alias("n_ref"),
            F.col("n_cur").cast("bigint").alias("n_cur"),
            F.col("ad_scaled").cast("bigint").alias("ad_scaled"),
            F.expr(
                f"CASE WHEN n_ref > 0 AND n_cur > 0 THEN {AD_STAT_SQL} END"
            ).alias("ad_stat"),
        )
        .orderBy(*keys)
    )


# Cramér–von Mises numerator is a PURE integer: T = Σ l_j·gap_j² /
# (N²·n·m) — unlike AD there is no per-value denominator, so the sum
# accumulates exactly in DECIMAL(38,0) and only the final division is
# floating (the KS rule).
# no round() — integer inputs → identical IEEE division in both
# engines (the AD_STAT_SQL half-boundary lesson)
CVM_STAT_SQL = (
    "CAST(cvm_num AS DOUBLE) / (CAST(nt AS DOUBLE) * CAST(nt AS DOUBLE)"
    " * CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE))"
)


def cramer_von_mises(events: DataFrame) -> DataFrame:
    """Two-sample Cramér–von Mises drift per event type between the
    feed's time halves — the L2 member of the two-sample panel: KS
    reacts to the single largest ECDF gap, CvM integrates the SQUARED
    gap over the whole pooled sample, so many moderate gaps (a broad
    shape change) outscore one sharp spike. T = (nm/N²)·Σ over pooled
    points of (F_n − G_m)², which over distinct values with counts
    l_j reduces to Σ_j l_j·gap_j² / (N²·n·m) with gap_j = c_ref·n_cur
    − c_cur·n_ref — the SAME integer ECDF-gap numerator as `ks_drift`.
    E[T] ≈ 1/6 + 1/(6N) under H0.

    Determinism: the numerator Σ l_j·gap_j² is a pure integer
    (DECIMAL(38,0) accumulation — l·gap² is O(N·(nm)²), exact to
    N ≈ 10⁷ per type, ANSI-loud beyond); ONE rounded double division
    at the edge (`CVM_STAT_SQL`, shared with the oracle) — the
    `KS_STAT_SQL` rule exactly.

    Scale shape: identical to `ks_drift` — the shared
    `util.half_counts` reduction, then the one `_pooled_ecdf` over the
    reduced relation only."""
    counts = _half_counts(events, ["event_type"], "value", "d")
    return cvm_from_value_counts(
        _materialize(counts.filter(F.col("value").isNotNull()))
    )


def cvm_from_value_counts(
    per_value: DataFrame, keys: list[str] | None = None
) -> DataFrame:
    """Cramér–von Mises coda over the `_pooled_ecdf` of the reduced
    ``(keys…, value, d_ref, d_cur)`` relation — shared by the batch
    operator and `streaming.rollup.stream_cramer_von_mises`."""
    keys = keys or ["event_type"]
    return (
        _pooled_ecdf(per_value, keys)
        .groupBy(*keys)
        .agg(
            F.first("n_ref").alias("n_ref"),
            F.first("n_cur").alias("n_cur"),
            F.first("nt").alias("nt"),
            F.sum(
                F.expr("CAST(l AS DECIMAL(38,0)) * gap * gap")
            ).cast("decimal(38,0)").alias("cvm_num"),
        )
        .select(
            *keys,
            F.col("n_ref").cast("bigint").alias("n_ref"),
            F.col("n_cur").cast("bigint").alias("n_cur"),
            F.expr(
                f"CASE WHEN n_ref > 0 AND n_cur > 0 THEN {CVM_STAT_SQL} END"
            ).alias("cvm_stat"),
        )
        .orderBy(*keys)
    )


# no round() — integer inputs → identical IEEE division in both
# engines (the AD_STAT_SQL half-boundary lesson)
KUIPER_STAT_SQL = (
    "CAST(d_plus_num + d_minus_num AS DOUBLE)"
    " / (CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE))"
)


def kuiper_drift(events: DataFrame) -> DataFrame:
    """Two-sample Kuiper drift per event type between the feed's time
    halves — the rotation-invariant KS variant: V = D⁺ + D⁻ (largest
    ECDF gap in each direction) weights the tails and the middle
    equally, so a distribution that shifted mass BOTH up and down
    (bimodal split — a canary on mixed traffic) scores where KS sees
    only the larger one-sided gap. Same machinery as `ks_drift` with
    the SIGNED integer gap kept: D⁺num = max(gap), D⁻num = max(−gap)
    (both ≥ 0 — the gap at the last pooled value is exactly 0).

    Determinism: integer signed gaps, two exact maxima, one rounded
    double division (`KUIPER_STAT_SQL`, shared with the oracle); the
    integral D⁺/D⁻ numerators emit as BIGINT (≤ n_ref·n_cur — exact
    to N ≈ 6·10⁹ per type, ANSI-loud beyond).

    Scale shape: identical to `ks_drift` — the shared
    `util.half_counts` reduction, then the one `_pooled_ecdf` over the
    reduced relation only."""
    counts = _half_counts(events, ["event_type"], "value", "d")
    return kuiper_from_value_counts(
        _materialize(counts.filter(F.col("value").isNotNull()))
    )


def kuiper_from_value_counts(
    per_value: DataFrame, keys: list[str] | None = None
) -> DataFrame:
    """Kuiper coda over the `_pooled_ecdf` of the reduced ``(keys…,
    value, d_ref, d_cur)`` relation, keeping the SIGNED gap — shared by
    the batch operator and `streaming.rollup.stream_kuiper`."""
    keys = keys or ["event_type"]
    return (
        _pooled_ecdf(per_value, keys)
        .groupBy(*keys)
        .agg(
            F.first("n_ref").alias("n_ref"),
            F.first("n_cur").alias("n_cur"),
            F.greatest(F.max("gap"), F.lit(0).cast("decimal(38,0)")).alias("dp"),
            F.greatest(F.max(-F.col("gap")), F.lit(0).cast("decimal(38,0)")).alias("dm"),
        )
        .select(
            *keys,
            F.col("n_ref").cast("bigint").alias("n_ref"),
            F.col("n_cur").cast("bigint").alias("n_cur"),
            F.col("dp").cast("bigint").alias("d_plus_num"),
            F.col("dm").cast("bigint").alias("d_minus_num"),
            F.expr(
                f"CASE WHEN n_ref > 0 AND n_cur > 0 THEN {KUIPER_STAT_SQL} END"
            ).alias("kuiper_v"),
        )
        .orderBy(*keys)
    )


# ACF with the mean cleared of fractions: multiplying each deviation
# by n turns (y_t − ȳ) into the integer n·y_t − S, and the n² factors
# cancel between numerator and denominator — so r_k is a ratio of two
# exact integers, divided once and rounded.
ACF_SQL = "round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 9)"


def acf_panel(events: DataFrame, max_lag: int = 7) -> DataFrame:
    """Autocorrelation of the daily event-count series per type, lags
    1..`max_lag` — the periodicity detector behind "is this metric
    weekly-seasonal?": a spike at lag 7 says weekday structure, slow
    decay says trend, flat ≈0 says noise. `seasonal_baseline` ASSUMES
    a daily shape and subtracts it; this panel MEASURES which lags
    carry structure, so the two compose (run acf_panel to pick the
    season, seasonal_baseline to exploit it).

    r_k = Σ(y_t−ȳ)(y_{t+k}−ȳ) / Σ(y_t−ȳ)² over the DENSE daily
    series — missing days are real zeros (a gap IS anticorrelation
    with busy days), densified per type from the type's own [min,max]
    day span. Deviations are exact integers scaled by n (ACF_SQL note
    above); DECIMAL(38,0) accumulation keeps a decade-long series of
    billion-event days inside range. A constant series has den = 0
    and reports NULL (undefined), not a crash or a fake 1.

    Scale shape: the feed reduces to (type, day) counts in one keyed
    aggregate; the dense spine is sequence()-exploded per type (≤
    #types × span rows); lags come from `max_lag` lead columns in ONE
    window pass partitioned by type (no self-join per lag); the final
    aggregate is #types × max_lag rows."""
    if max_lag < 1:
        raise ValueError("acf_panel: max_lag must be ≥ 1")
    day = F.expr(f"{FEED_US} div 86400000000")
    # diamond rule: the (type, day) count relation feeds the span
    # aggregate AND the densify join — materialize so the feed reduces
    # exactly once; likewise the dense series feeds the moment
    # aggregate AND the lead window
    counts = _materialize(
        events.groupBy("event_type", day.alias("day")).agg(
            F.count("*").alias("y")
        )
    )
    span = counts.groupBy("event_type").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    dense = _materialize(
        span.select(
            "event_type", F.explode(F.expr("sequence(d0, d1)")).alias("day")
        )
        .join(counts, ["event_type", "day"], "left")
        .select("event_type", "day", F.coalesce("y", F.lit(0)).alias("y"))
    )
    stats = dense.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("y").alias("s")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    with_leads = dense.select(
        "event_type",
        "y",
        *[F.lead("y", k).over(w).alias(f"y_{k}") for k in range(1, max_lag + 1)],
    ).join(F.broadcast(stats), "event_type")
    dev = "CAST(n AS DECIMAL(19,0)) * {col} - CAST(s AS DECIMAL(19,0))"
    d0 = dev.format(col="y")
    per_lag = [
        F.sum(
            F.expr(
                f"CASE WHEN y_{k} IS NOT NULL THEN"
                f" CAST(({d0}) * ({dev.format(col=f'y_{k}')}) AS DECIMAL(38,0))"
                " ELSE CAST(0 AS DECIMAL(38,0)) END"
            )
        ).alias(f"num_{k}")
        for k in range(1, max_lag + 1)
    ]
    agg = with_leads.groupBy("event_type").agg(
        F.first("n").alias("n"),
        F.sum(F.expr(f"CAST(({d0}) * ({d0}) AS DECIMAL(38,0))")).alias("den"),
        *per_lag,
    )
    lag_structs = F.array(
        *[
            F.struct(
                F.lit(k).alias("lag"), F.col(f"num_{k}").alias("num")
            )
            for k in range(1, max_lag + 1)
        ]
    )
    return (
        agg.select(
            "event_type",
            F.col("n").cast("bigint").alias("n_days"),
            "den",
            F.explode(lag_structs).alias("l"),
        )
        .select(
            "event_type",
            F.col("l.lag").alias("lag"),
            "n_days",
            "den",
            F.col("l.num").alias("num"),
        )
        .select(
            "event_type",
            "lag",
            "n_days",
            F.expr(f"CASE WHEN den > 0 THEN {ACF_SQL} END").alias("acf"),
        )
        .filter(F.col("lag") < F.col("n_days"))
        .orderBy("event_type", "lag")
    )


# best split of a series into two level segments: the explained sum of
# squares S1²/n1 + S2²/n2, compared across candidate breakpoints on a
# common 9-dp scale (exact integer inputs, one pinned division each)
CHANGEPOINT_SCORE_SQL = (
    "round(CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
    " + CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE), 9)"
)


def changepoint_detect(events: DataFrame) -> DataFrame:
    """Single best level-shift breakpoint of the daily count series
    per event type (binary-segmentation step 1): the split day that
    maximizes the two-segment explained sum of squares — WHERE the
    level changed, the localization `drift_cusum` (whether/when a
    cumulative drift crossed a threshold) doesn't answer. A capacity
    review reads this as "traffic stepped on day X: before-mean →
    after-mean".

    For a split after day k: SSE-optimal means maximizing
    S1²/n1 + S2²/n2 (S = segment sum, n = segment length — the Σy²
    term is split-invariant). Both segment sums come from ONE prefix
    sum per type over the dense daily series; scores are the shared
    CHANGEPOINT_SCORE_SQL pinned-order expression; the argmax
    tiebreak is (score desc, day asc) — deterministic in both engines
    on the 9-dp-rounded score.

    Scale shape: the feed reduces to (type, day) counts in one keyed
    aggregate (materialized — the prefix window and the total both
    consume it); candidates are the ≤ span-days rows per type; the
    argmax is a WindowGroupLimit-prunable rank. Types with a single
    day have no split and drop out."""
    day = F.expr(f"{FEED_US} div 86400000000")
    counts = _materialize(
        events.groupBy("event_type", day.alias("day")).agg(
            F.count("*").alias("y")
        )
    )
    return changepoint_from_daily(counts)


def changepoint_from_daily(counts: DataFrame) -> DataFrame:
    """Finish the level-shift search from the reduced
    ``(event_type, day, y)`` daily-count relation — the shared core
    between batch `changepoint_detect` and its streaming twin
    (`streaming.rollup.stream_changepoint`), mirroring the
    `ks_from_value_counts` split. The input feeds two consumers (span
    stats + the dense-series join), so callers pass a MATERIALIZED
    relation."""
    span = counts.groupBy("event_type").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1"),
        F.sum("y").alias("s"),
    )
    dense = (
        span.select("event_type", F.explode(F.expr("sequence(d0, d1)")).alias("day"))
        .join(counts, ["event_type", "day"], "left")
        .select("event_type", "day", F.coalesce("y", F.lit(0)).alias("y"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    pre = dense.select(
        "event_type",
        "day",
        F.sum("y").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("s1"),
        F.row_number().over(w).alias("n1"),
    )
    cands = (
        pre.join(
            F.broadcast(
                span.select(
                    "event_type", "s", (F.col("d1") - F.col("d0") + 1).alias("n")
                )
            ),
            "event_type",
        )
        .filter(F.col("n1") < F.col("n"))  # a split needs both segments
        .select(
            "event_type",
            "day",
            "n",
            "s1",
            "n1",
            (F.col("s") - F.col("s1")).alias("s2"),
            (F.col("n") - F.col("n1")).alias("n2"),
        )
        .select(
            "event_type",
            "day",
            "n",
            "s1",
            "n1",
            "s2",
            "n2",
            F.expr(CHANGEPOINT_SCORE_SQL).alias("score"),
        )
    )
    rank_w = Window.partitionBy("event_type").orderBy(
        F.desc("score"), F.asc("day")
    )
    return (
        cands.withColumn("rk", F.row_number().over(rank_w))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n_days"),
            F.col("day").cast("bigint").alias("break_day"),
            "score",
            F.expr("round(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE), 9)").alias(
                "mean_before"
            ),
            F.expr("round(CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE), 9)").alias(
                "mean_after"
            ),
        )
        .orderBy("event_type")
    )


def theil_sen_trend(events: DataFrame) -> DataFrame:
    """Theil–Sen slope of the daily count series per event type: the
    MEDIAN of all pairwise slopes (y_j−y_i)/(j−i) — the
    breakdown-point-robust complement to `trend_slope_panel` (least
    squares, outlier-sensitive) and `robust_trend` (bucket-median
    pre-smoothing, still least squares after). One corrupted day
    moves OLS arbitrarily; Theil–Sen tolerates ~29% corruption.

    Determinism: each pairwise slope is ONE double division of exact
    integers (IEEE-identical in both engines); the median is
    percentile_disc — an order statistic that picks an actual slope
    value, never an interpolated float.

    Scale shape: the feed reduces to the dense (type, day, y)
    relation first; the pair stage is a self-join of THAT relation on
    the type key — O(span²) per type, bounded by the calendar (a
    decade is ~13M pairs/type), never by feed volume. The final
    aggregate is #types rows."""
    day = F.expr(f"{FEED_US} div 86400000000")
    counts = _materialize(
        events.groupBy("event_type", day.alias("day")).agg(
            F.count("*").alias("y")
        )
    )
    span = counts.groupBy("event_type").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    dense = _materialize(
        span.select("event_type", F.explode(F.expr("sequence(d0, d1)")).alias("day"))
        .join(counts, ["event_type", "day"], "left")
        .select("event_type", "day", F.coalesce("y", F.lit(0)).alias("y"))
    )
    a = dense.select(
        "event_type", F.col("day").alias("di"), F.col("y").alias("yi")
    )
    b = dense.select(
        "event_type", F.col("day").alias("dj"), F.col("y").alias("yj")
    )
    pairs = (
        a.join(b, "event_type")
        .filter(F.col("di") < F.col("dj"))
        .select(
            "event_type",
            F.expr(
                "CAST(yj - yi AS DOUBLE) / CAST(dj - di AS DOUBLE)"
            ).alias("slope"),
        )
    )
    return (
        pairs.groupBy("event_type")
        .agg(
            F.count("*").alias("n_pairs"),
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY slope)").alias(
                "sen_slope"
            ),
        )
        .select(
            "event_type",
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
            "sen_slope",
        )
        .orderBy("event_type")
    )


def xcorr_panel(events: DataFrame, max_lag: int = 7) -> DataFrame:
    """Lagged cross-correlation between every ordered PAIR of event
    types' daily count series, lags 0..`max_lag` — the lead/lag
    detector behind "errors rise two days after signups spike":
    `acf_panel` measures a series against ITSELF, `type_correlation`
    measures contemporaneous coupling; this panel answers which metric
    LEADS which, and by how many days. Row (a, b, k) correlates
    a's count on day d with b's on day d+k, so a positive spike at
    k > 0 means a leads b.

    Both series live on the GLOBAL dense day grid (missing days are
    real zeros, the `acf_panel` densify rule) so every pair correlates
    over an identical, gap-free window of n = span−k days. Counts are
    integers, so all six sufficient statistics (n, Σx, Σy, Σxy, Σx²,
    Σy²) accumulate EXACTLY in DECIMAL(38,0) — order-independent under
    any partitioning — and the only double arithmetic is the shared
    pinned `CORR_FINAL_SQL` expression both engines evaluate verbatim
    (NULL for a constant side, never a fake correlation).

    Scale shape: ONE keyed count reduces the feed to (type, day); the
    dense grid is a sequence()-explode of the broadcast global span
    (≤ #types × span rows); lag alignment is an arithmetic day shift
    exploded from a literal sequence — no per-lag self-join over the
    feed — and the pair join runs on the #types×span×(max_lag+1)
    reduction. Output ≤ #types·(#types−1)·(max_lag+1) rows."""
    if max_lag < 0:
        raise ValueError("xcorr_panel: max_lag must be ≥ 0")
    from .analytics import CORR_FINAL_SQL

    day = F.expr(f"{FEED_US} div 86400000000")
    counts = _materialize(
        events.groupBy("event_type", day.alias("day")).agg(
            F.count("*").alias("y")
        )
    )
    # global span: cross-correlation needs one COMMON grid, not each
    # type's own (a type that starts late has real zeros before)
    span = counts.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    types = counts.select("event_type").distinct()
    dense = _materialize(
        types.crossJoin(F.broadcast(span))
        .select("event_type", F.explode(F.expr("sequence(d0, d1)")).alias("day"))
        .join(counts, ["event_type", "day"], "left")
        .select("event_type", "day", F.coalesce("y", F.lit(0)).alias("y"))
    )
    a = dense.select(
        F.col("event_type").alias("type_a"), "day", F.col("y").alias("ya")
    )
    b_shift = dense.select(
        F.col("event_type").alias("type_b"),
        "day",
        F.col("y").alias("yb"),
        F.explode(F.expr(f"sequence(0, {max_lag})")).alias("lag"),
    ).select("type_b", "yb", "lag", F.expr("day - lag").alias("day"))
    paired = a.join(b_shift, "day").filter(F.col("type_a") != F.col("type_b"))
    stats = paired.groupBy("type_a", "type_b", "lag").agg(
        F.count("*").alias("n"),
        F.sum(F.col("ya").cast("decimal(38,0)")).alias("sa"),
        F.sum(F.col("yb").cast("decimal(38,0)")).alias("sb"),
        F.sum(
            F.expr("CAST(CAST(ya AS DECIMAL(19,0)) * yb AS DECIMAL(38,0))")
        ).alias("sab"),
        F.sum(
            F.expr("CAST(CAST(ya AS DECIMAL(19,0)) * ya AS DECIMAL(38,0))")
        ).alias("saa"),
        F.sum(
            F.expr("CAST(CAST(yb AS DECIMAL(19,0)) * yb AS DECIMAL(38,0))")
        ).alias("sbb"),
    )
    return (
        stats.filter(F.col("lag") < F.col("n"))
        .select(
            "type_a",
            "type_b",
            F.col("lag").cast("int").alias("lag"),
            F.col("n").cast("bigint").alias("n_days"),
            F.expr(CORR_FINAL_SQL).alias("xcorr"),
        )
        .orderBy("type_a", "type_b", "lag")
    )


def psi_from_value_counts(per_value: DataFrame, nbins: int = 10) -> DataFrame:
    """`psi_drift`'s scoring core re-rooted on a per-distinct-value
    half-count relation (value, d_ref, d_cur) — the shape a streaming
    aggregation maintains (the `ks_from_value_counts` pattern), with
    NULL-value rows carried through (the batch op bins NULLs into the
    overflow bin, and the midpoint derives from the whole feed).

    The reference deciles are recovered EXACTLY from the counts:
    percentile_disc(i/nbins) is the smallest value whose cumulative
    reference count reaches ceil(i·N_ref/nbins) — pure integer
    arithmetic, so this core and the batch operator's percentile_disc
    agree bin-for-bin and the streaming twin shares the batch oracle
    verbatim (pinned by `test_round6_wave2.py`'s parity test).

    Scale note: the running-count window is a single partition over
    the DISTINCT VALUES relation — bounded by value cardinality, the
    same documented trade `ks_from_value_counts` makes (production
    bounds it by quantizing values)."""
    if nbins < 2:
        raise ValueError("psi_from_value_counts: nbins must be ≥ 2")
    per_value = _materialize(per_value)
    nn = per_value.filter(F.col("value").isNotNull())
    w = (
        Window.orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = nn.select(
        "value",
        F.sum("d_ref").over(w).alias("cum_ref"),
    )
    tref = nn.agg(F.sum("d_ref").alias("t_ref_nn"))
    cuts = _materialize(
        cum.crossJoin(F.broadcast(tref)).agg(
            *[
                F.min(
                    F.when(
                        (F.col("t_ref_nn") > 0)
                        & (
                            F.col("cum_ref")
                            >= F.expr(
                                f"({i} * t_ref_nn + {nbins} - 1) div {nbins}"
                            )
                        ),
                        F.col("value"),
                    )
                ).alias(f"c{i}")
                for i in range(1, nbins)
            ]
        )
    )
    counts = (
        per_value.crossJoin(F.broadcast(cuts))
        .select(
            F.expr(psi_bin_case_sql(nbins)).alias("bin"),
            "d_ref",
            "d_cur",
        )
        .groupBy("bin")
        .agg(F.sum("d_ref").alias("c_ref"), F.sum("d_cur").alias("c_cur"))
    )
    totals = counts.agg(
        F.sum("c_ref").alias("t_ref"), F.sum("c_cur").alias("t_cur")
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            F.col("bin").cast("int").alias("bin"),
            F.col("c_ref").cast("bigint").alias("n_ref"),
            F.col("c_cur").cast("bigint").alias("n_cur"),
            F.expr(PSI_TERM_SQL.format(nbins=nbins)).alias("psi_term"),
        )
        .orderBy("bin")
    )


# fixed-width integer binning for the WINDOWED psi family: the
# sliding-reference variant runs where a stream cannot pre-compute
# reference deciles (psi_drift's bins need the whole reference half),
# so bins are static — exact integer arithmetic over the 2-decimal
# feed (round(value·100) is integer cents; div is truncation toward
# zero in BOTH engines), capped into the top bin.
def psi_fixed_bin_sql(nbins: int, bin_cents: int) -> str:
    return (
        f"least(CAST(round(value * 100) AS BIGINT) div {bin_cents},"
        f" {nbins - 1})"
    )


def windowed_psi(
    events: DataFrame, nbins: int = 10, bin_cents: int = 5000
) -> DataFrame:
    """Day-over-day PSI per event type — the SLIDING-reference drift
    panel: each event-time day scores against the PREVIOUS day, so a
    gradual multi-day migration shows a run of elevated scores while
    `psi_drift` (fixed first-half reference) smears it into one
    number. This is the windowed/watermarked drift twin's batch core:
    the streaming variant maintains the identical (type, day, bin)
    count relation with a windowed aggregation + watermark eviction
    and shares `windowed_psi_from_counts` and this oracle verbatim.

    Fixed-width bins (`psi_fixed_bin_sql`) instead of reference
    deciles: a stream cannot see future deciles, and a per-window
    decile recompute would make consecutive windows incomparable.
    Integer cents arithmetic end-to-end; Laplace smoothing over the
    nominal bin count (the `psi_drift` convention) keeps abandoned
    bins finite; per-bin terms are round(9) pinned doubles summed as
    exact DECIMAL(28,9) with a DOUBLE edge.

    Scale shape: the feed reduces ONCE to the (type, day, bin) count
    relation (map-side partials, ≤ types × days × nbins rows);
    everything after — the dense bin spine, the day-vs-previous-day
    join, the PSI rollup — runs on that tiny relation. No windows
    over the feed, no feed-scale sort, no shuffle wider than the
    count relation."""
    if nbins < 2:
        raise ValueError("windowed_psi: nbins must be ≥ 2")
    counts = events.filter(F.col("value").isNotNull()).groupBy(
        "event_type",
        F.expr(f"{FEED_US} div 86400000000").alias("day"),
        F.expr(psi_fixed_bin_sql(nbins, bin_cents)).alias("bin"),
    ).agg(F.count("*").alias("c"))
    return windowed_psi_from_counts(counts, nbins)


def windowed_psi_from_counts(counts: DataFrame, nbins: int = 10) -> DataFrame:
    """`windowed_psi`'s scoring core over an already-reduced
    (event_type, day, bin, c) count relation — the state a streaming
    windowed aggregation maintains (the `psi_from_value_counts`
    pattern). Dense bin spine per scored (type, day): bins both sides
    abandoned contribute their Laplace mass, the `independence_chi2`
    dense-grid rule."""
    counts = _materialize(counts)
    days = counts.select("event_type", "day").distinct()
    # score day d iff day d-1 exists for the type (no phantom zero
    # reference); dense spine = eligible (type, day) × bins
    scored = days.alias("cur").join(
        days.select("event_type", (F.col("day") + 1).alias("day")).alias("ref"),
        ["event_type", "day"],
    )
    spine = scored.select(
        "event_type", "day", F.explode(F.expr(f"sequence(0, {nbins - 1})")).alias("bin")
    )
    cur = counts.select("event_type", "day", "bin", F.col("c").alias("c_cur"))
    ref = counts.select(
        "event_type", (F.col("day") + 1).alias("day"), "bin", F.col("c").alias("c_ref")
    )
    grid = (
        spine.join(cur, ["event_type", "day", "bin"], "left")
        .join(ref, ["event_type", "day", "bin"], "left")
        .select(
            "event_type",
            "day",
            "bin",
            F.coalesce("c_cur", F.lit(0)).alias("c_cur"),
            F.coalesce("c_ref", F.lit(0)).alias("c_ref"),
        )
    )
    w = Window.partitionBy("event_type", "day")
    terms = grid.select(
        "event_type",
        "day",
        "c_ref",
        "c_cur",
        F.sum("c_ref").over(w).alias("t_ref"),
        F.sum("c_cur").over(w).alias("t_cur"),
    ).select(
        "event_type",
        "day",
        "c_ref",
        "c_cur",
        F.expr(PSI_TERM_SQL.format(nbins=nbins)).alias("psi_term"),
    )
    return (
        terms.groupBy("event_type", "day")
        .agg(
            F.sum("c_ref").cast("bigint").alias("n_ref"),
            F.sum("c_cur").cast("bigint").alias("n_cur"),
            F.sum(F.col("psi_term").cast("decimal(28,9)")).alias("psi_d"),
        )
        .select(
            "event_type",
            F.col("day").cast("bigint").alias("day"),
            "n_ref",
            "n_cur",
            F.col("psi_d").cast("double").alias("psi"),
            # band on the EXACT decimal (the health_score rounded-band
            # rule: a double-band CASE could split at a boundary)
            F.when(F.col("psi_d") > 0.25, "drifted")
            .when(F.col("psi_d") > 0.10, "shifting")
            .otherwise("stable")
            .alias("drift_class"),
        )
        .orderBy("event_type", "day")
    )


def windowed_ks(events: DataFrame) -> DataFrame:
    """Day-over-day two-sample KS per event type — the sliding
    (previous-day) reference variant of `ks_drift`, completing the
    windowed drift triple: `windowed_psi` (binned shape),
    `analytics.windowed_wasserstein` (earth-mover magnitude), and this
    (max ECDF gap — the supremum norm, most sensitive to a single
    sharp break in the middle of the distribution that binning smears
    and W1 averages away).

    Same machinery end-to-end: the feed reduces ONCE to the
    (type, day, cents) count relation; the previous-day side arrives
    by the SHARED `analytics.day_shift_half_counts` shift; the KS coda
    is `ks_from_value_counts` keyed by (event_type, day) — integer
    cross-multiplied ECDF gaps, one rounded double division per row
    (`KS_STAT_SQL`, shared with the oracle)."""
    return windowed_ks_from_counts(windowed_day_cents_counts(events))


def windowed_ks_from_counts(counts: DataFrame) -> DataFrame:
    """Sliding-reference KS coda over the (event_type, day, cents, c)
    relation — shared verbatim by the batch operator and
    `streaming.rollup.stream_windowed_ks` (whose watermarked state IS
    this relation over the finalized days)."""
    return _windowed_coda(counts, ks_from_value_counts)


def _windowed_coda(counts: DataFrame, coda) -> DataFrame:
    """Run a two-sample ``coda`` day over day: each day of the
    (keys…, day, cents, c) count relation scores against the previous
    day, paired by the shared `analytics.day_shift_half_counts` shift
    and keyed by (keys…, day). The keys are every column of ``counts``
    but day, cents and c, so the by-cohort relation keys by (event
    type, cohort) with no parameter.

    Materialized TWICE (review findings r11/r12): the day shift reads
    ``counts`` twice (the diamond rule), and every coda reads its input
    in at least two branches (the half totals and the ECDF window; the
    Mann–Whitney window too for Lepage) — without the second
    materialize the full-outer day-shift join recomputes per branch.

    A day whose previous day is empty has no reference to score
    against, so it is dropped (the windowed_wasserstein convention)
    instead of emitting a NULL-statistic row; Lepage's Mann–Whitney
    join already drops such days."""
    from .analytics import day_shift_half_counts

    keys = [c for c in counts.columns if c not in ("day", "cents", "c")]
    per_value = _materialize(
        day_shift_half_counts(_materialize(counts), keys=keys).select(
            *keys,
            "day",
            F.col("cents").alias("value"),
            F.col("c_ref").alias("d_ref"),
            F.col("c_cur").alias("d_cur"),
        )
    )
    return coda(per_value, keys=[*keys, "day"]).filter(
        (F.col("n_ref") >= 1) & (F.col("n_cur") >= 1)
    )


def windowed_lepage(events: DataFrame) -> DataFrame:
    """Day-over-day Lepage per event type — the OMNIBUS member of the
    windowed drift panel: KS/AD/CvM/Kuiper score ECDF shape, W1 scores
    moved mass, Cliff's scores dominance; this emits one χ²₂-scaled
    number that moves for a location shift OR a scale change between
    consecutive days — the single thresholdable day-quality gate when
    you don't know which failure mode to expect.

    Same machinery end-to-end: the shared
    `util.windowed_day_cents_counts` reduction, the shared
    `day_shift_half_counts` previous-day pairing, the shared
    `lepage_from_value_counts` coda keyed by (event_type, day) — every
    component statistic and null moment in exact integer arithmetic,
    the `LEPAGE_*_SQL` edge fragments verbatim."""
    return windowed_lepage_from_counts(windowed_day_cents_counts(events))


def windowed_lepage_from_counts(counts: DataFrame) -> DataFrame:
    """Sliding-reference Lepage coda over the (event_type, day, cents,
    c) relation — shared verbatim by the batch operator and
    `streaming.rollup.stream_windowed_lepage` (whose watermarked state
    IS this relation over the finalized days)."""
    return _windowed_coda(counts, lepage_from_value_counts)


# Pettitt approximate significance: 2·exp(−6K²/(T³+T²)), capped at 1.
# exp() is NOT correctly-rounded across libms (JVM vs DuckDB), so the
# emission follows the repo's transcendental rule: round(·, 9) absorbs
# the ULP (the ln-family precedent throughout the oracles).
PETTITT_P_SQL = (
    "round(least(1.0, 2.0 * exp(-6.0 * CAST(k_stat AS DOUBLE)"
    " * CAST(k_stat AS DOUBLE)"
    " / (CAST(n_days AS DOUBLE) * CAST(n_days AS DOUBLE)"
    " * CAST(n_days AS DOUBLE)"
    " + CAST(n_days AS DOUBLE) * CAST(n_days AS DOUBLE)))), 9)"
)


def pettitt_test(events: DataFrame) -> DataFrame:
    """Pettitt changepoint test per event type over the daily mean
    series — the retrospective "WHEN did it break" companion to
    `drift_cusum` (which flags that a run of days sits off-baseline)
    and the windowed panel (which scores each day against yesterday):
    Pettitt finds the single split day τ maximizing the rank statistic
    |U_t| = |Σ_{i≤t} Σ_{j>t} sgn(x_j − x_i)| — the nonparametric
    changepoint estimate with an exact integer core and a closed-form
    significance approximation, robust to outlier days because only
    SIGNS of pairwise differences enter.

    Exactness: daily means never materialize as doubles — the pairwise
    sign is sgn(s_d·c_e − s_e·c_d) over the exact integer (Σcents,
    count) sufficient statistics (DECIMAL(38,0) cross-products), and
    U_t arrives by the identity U_t = −Σ_{d≤t} r_d with r_d =
    Σ_e sgn(x_d − x_e) — one bounded grid join + one cumulative
    window, all BIGINT. The only double is the `PETTITT_P_SQL`
    significance emission (rounded, the transcendental rule).

    Scale shape: the feed reduces ONCE to (type, day, s, c) — a
    CALENDAR-sized relation (`util.daily_cents_sums`) — so the
    days×days grid is bounded (~decades of days squared is still
    trivial) and independent of feed rows; the grid join broadcasts
    one side explicitly (the `hodges_lehmann` pin-the-shape rule)."""
    from .util import daily_cents_sums

    return pettitt_from_daily(_materialize(daily_cents_sums(events)))


def pettitt_from_daily(
    daily: DataFrame, keys: list[str] | None = None
) -> DataFrame:
    """Pettitt coda over the (keys…, day, s, c) daily relation —
    shared verbatim by the batch operator,
    `streaming.rollup.stream_pettitt` (whose bounded state IS this
    relation), and the attribution variant `pettitt_by_cohort`
    (keys = (event_type, cohort))."""
    keys = keys or ["event_type"]
    d = daily.select(
        *keys, F.col("day").alias("d"), F.col("s").alias("sd"),
        F.col("c").alias("cd"),
    )
    e = daily.select(
        *keys, F.col("day").alias("e"), F.col("s").alias("se"),
        F.col("c").alias("ce"),
    )
    r = (
        d.join(F.broadcast(e), list(keys))
        .select(
            *keys,
            "d",
            F.expr(
                "CASE WHEN CAST(sd AS DECIMAL(38,0)) * CAST(ce AS DECIMAL(38,0))"
                " > CAST(se AS DECIMAL(38,0)) * CAST(cd AS DECIMAL(38,0))"
                " THEN 1 WHEN CAST(sd AS DECIMAL(38,0)) * CAST(ce AS DECIMAL(38,0))"
                " < CAST(se AS DECIMAL(38,0)) * CAST(cd AS DECIMAL(38,0))"
                " THEN -1 ELSE 0 END"
            ).alias("sgn"),
        )
        .groupBy(*keys, "d")
        .agg(F.sum("sgn").cast("bigint").alias("r"))
    )
    wcum = (
        Window.partitionBy(*keys)
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = _materialize(
        r.select(*keys, "d", (-F.sum("r").over(wcum)).alias("u"))
    )
    k = u.groupBy(*keys).agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.max(F.abs("u")).cast("bigint").alias("k_stat"),
    )
    change = (
        u.join(F.broadcast(k), list(keys))
        .filter(F.abs("u") == F.col("k_stat"))
        .groupBy(*keys)
        .agg(F.min("d").cast("bigint").alias("change_day"))
    )
    return (
        k.join(change, list(keys))
        .select(
            *keys,
            "n_days",
            "k_stat",
            "change_day",
            F.expr(PETTITT_P_SQL).alias("p_approx"),
        )
        .orderBy(*keys)
    )


def page_hinkley_by_cohort(
    events: DataFrame, delta_cents: int = 25, lam_cents: int = 200
) -> DataFrame:
    """Two-sided Page–Hinkley per (event type, experiment cohort) —
    the SEQUENTIAL half of changepoint attribution (the retrospective
    half is `pettitt_by_cohort`): alarms on the first day ONE
    cohort's daily-mean series drifts past λ while the other cohorts'
    accumulators stay quiet. Shared machinery:
    `util.daily_cents_sums(by_cohort=True)` and the
    `page_hinkley_from_daily` coda keyed by (type, cohort) — all
    integer fixed-point, same δ/λ cents semantics."""
    from .util import daily_cents_sums

    return page_hinkley_from_daily(
        _materialize(daily_cents_sums(events, by_cohort=True)),
        delta_cents,
        lam_cents,
        keys=["event_type", "cohort"],
    )


def pettitt_by_cohort(events: DataFrame) -> DataFrame:
    """Pettitt changepoint per (event type, experiment cohort) — the
    ATTRIBUTION variant of `pettitt_test` (the `windowed_ks_by_cohort`
    move applied to the changepoint family): the global test says the
    type's daily series broke on day τ; this keys the identical sign
    algebra by the bounded props cohort, so a rollout that bent ONE
    cohort's series names that cohort and its own break day instead of
    smearing into the type aggregate. Shared machinery end-to-end:
    `util.daily_cents_sums(by_cohort=True)` (one more bounded key) and
    the `pettitt_from_daily` coda keyed by (type, cohort)."""
    from .util import daily_cents_sums

    return pettitt_from_daily(
        _materialize(daily_cents_sums(events, by_cohort=True)),
        keys=["event_type", "cohort"],
    )


def page_hinkley(
    events: DataFrame, delta_cents: int = 25, lam_cents: int = 200
) -> DataFrame:
    """Two-sided Page–Hinkley changepoint monitor per event type over
    the daily mean series — the SEQUENTIAL companion to `pettitt_test`
    (which looks back over the closed series): PH accumulates
    m_t = Σ_{i≤t}(x_i − x̄_i ∓ δ) against its running extremum and
    alarms the first day the gap exceeds λ — the classic streaming
    changepoint detector, O(1) state per type in a true online
    deployment, replayed here over the bounded daily relation.

    Exactness (no doubles anywhere): the daily mean enters as the
    TRUNCATED scaled integer μ̃_d = (s_d·10⁴) div c_d (both engines'
    integer division truncates toward zero — the NOTES `div` rule), δ
    and λ are integer cents scaled the same way, and every cumulative
    sum / running extremum below is BIGINT window algebra. The 10⁻⁴
    quantization is detection slack, not estimator error. Emits the
    max upward/downward PH gaps (descaled, fixed-shape division), the
    first alarm day on either side, and the alarm-day count.

    Scale shape: identical to `pettitt_test` — the
    `util.daily_cents_sums` calendar relation, then three ordered
    windows over it. The feed is scanned once."""
    from .util import daily_cents_sums

    return page_hinkley_from_daily(
        _materialize(daily_cents_sums(events)), delta_cents, lam_cents
    )


def page_hinkley_from_daily(
    daily: DataFrame,
    delta_cents: int = 25,
    lam_cents: int = 200,
    keys: list[str] | None = None,
) -> DataFrame:
    """Page–Hinkley coda over the (keys…, day, s, c) daily relation —
    shared verbatim by the batch operator,
    `streaming.rollup.stream_page_hinkley` (whose bounded state IS
    this relation), and the attribution variant
    `page_hinkley_by_cohort` (keys = (event_type, cohort))."""
    keys = keys or ["event_type"]
    # mu is mean-cents at SCALE=10⁴, so one cent = 10⁴ mu-units
    dscale = int(delta_cents) * 10000
    lscale = int(lam_cents) * 10000
    wcum = (
        Window.partitionBy(*keys)
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    mu = daily.select(
        *keys,
        "day",
        F.expr("(s * 10000) div c").alias("mu"),
    )
    cums = mu.select(
        *keys,
        "day",
        F.sum("mu").over(wcum).alias("cum_mu"),
        F.row_number()
        .over(Window.partitionBy(*keys).orderBy("day"))
        .alias("t"),
    )
    xbar = cums.select(
        *keys,
        "day",
        "t",
        "cum_mu",
        F.expr("cum_mu div t").alias("xb"),
    )
    m = xbar.select(
        *keys,
        "day",
        "t",
        (F.col("cum_mu") - F.sum("xb").over(wcum)).alias("cum_dev"),
    ).select(
        *keys,
        "day",
        (F.col("cum_dev") - F.col("t") * F.lit(dscale)).alias("m_up"),
        (F.col("cum_dev") + F.col("t") * F.lit(dscale)).alias("m_dn"),
    )
    ph = m.select(
        *keys,
        "day",
        (F.col("m_up") - F.min("m_up").over(wcum)).alias("ph_up"),
        (F.max("m_dn").over(wcum) - F.col("m_dn")).alias("ph_dn"),
    )
    return (
        ph.groupBy(*keys)
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            # descale to VALUE units (mu-units /10⁴ → cents, /100 → value)
            F.expr("CAST(max(ph_up) AS DOUBLE) / 1000000.0").alias("ph_up_max"),
            F.expr("CAST(max(ph_dn) AS DOUBLE) / 1000000.0").alias("ph_dn_max"),
            F.min(
                F.when(
                    (F.col("ph_up") > lscale) | (F.col("ph_dn") > lscale),
                    F.col("day"),
                )
            ).cast("bigint").alias("first_alarm_day"),
            F.sum(
                F.when(
                    (F.col("ph_up") > lscale) | (F.col("ph_dn") > lscale), 1
                ).otherwise(0)
            ).cast("bigint").alias("n_alarm_days"),
        )
        .orderBy(*keys)
    )


def windowed_ks_by_cohort(events: DataFrame) -> DataFrame:
    """Day-over-day two-sample KS per (event type, experiment cohort)
    — the drift-ATTRIBUTION variant of `windowed_ks` (VERDICT r10
    task 3c): the global windowed panel says a day's distribution
    broke; this keys the identical statistic by the bounded props
    cohort so the alert names WHICH cohort drifted — one rollout gone
    wrong lights up its own row instead of diluting into the type
    aggregate.

    Same machinery end-to-end: the shared
    `util.windowed_day_cents_counts(by_cohort=True)` reduction (one
    more bounded key on the ONE quantization axis), the shared
    `day_shift_half_counts` previous-day pairing, the shared
    `ks_from_value_counts` coda keyed by (type, cohort, day) —
    integer ECDF-gap algebra, `KS_STAT_SQL` verbatim.

    Scale shape: unchanged from `windowed_ks` — the count relation
    grows by the cohort factor (bounded, 4+1 here) and the feed still
    reduces in ONE map-side-combinable pass."""
    return windowed_ks_by_cohort_from_counts(
        windowed_day_cents_counts(events, by_cohort=True)
    )


def windowed_ks_by_cohort_from_counts(counts: DataFrame) -> DataFrame:
    """Cohort-keyed sliding-reference KS coda over the (event_type,
    cohort, day, cents, c) relation — shared verbatim by the batch
    operator and `streaming.rollup.stream_windowed_ks_by_cohort`
    (whose watermarked state IS this relation over the finalized
    days)."""
    return _windowed_coda(counts, ks_from_value_counts)


# Ansari–Bradley per-value term at SCALE=10⁴ (the AD_TERM_SQL
# fixed-point discipline): a value group spanning pooled ranks
# [a, b] carries the DOUBLED score sum s2 = f2(b) − f2(a−1) (f2 the
# closed-form doubled prefix of min(r, N+1−r)); each tied observation
# takes the average score s2/(2t), so the ref-side contribution is
# c_ref·s2/(2t) — fixed-point rounded ONCE per distinct value, then
# summed as integers (order-free). Shared verbatim with the oracle.
AB_TERM_SQL = (
    "CAST(round(CAST(c_ref AS DOUBLE) * CAST(s2 AS DOUBLE) * 10000.0"
    " / (2.0 * CAST(t AS DOUBLE))) AS BIGINT)"
)
AB_STAT_SQL = "CAST(ab_scaled AS DOUBLE) / 10000.0"
# doubled prefix of the AB score: f2(x) = 2·Σ_{r=1..x} min(r, N+1−r)
# with m = ⌊(N+1)/2⌋ — written as floor of an exact double (not
# `div`, which DuckDB lacks; nt+1 « 2⁵³ so the floor is exact and
# identical in both engines), every other term pure integer
_AB_M = "CAST(floor((nt + 1) / 2.0) AS BIGINT)"
AB_F2_SQL = (
    f"(CASE WHEN {{x}} <= {_AB_M} THEN {{x}} * ({{x}} + 1)"
    f" ELSE {_AB_M} * ({_AB_M} + 1)"
    f" + ({{x}} - {_AB_M})"
    f" * (2 * (nt + 1) - ({{x}} + {_AB_M} + 1)) END)"
)


def ansari_bradley(events: DataFrame) -> DataFrame:
    """Two-sample Ansari–Bradley SCALE test per event type between
    the feed's time halves — the dispersion companion to
    `mannwhitney_u`'s location test: AB ranks the pooled sample from
    BOTH ends inward (score = min(rank, N+1−rank)), so a half whose
    values spread wider collects systematically LOWER scores even
    when the medians agree — the "same median, fatter tails"
    regression that MWU and Welch both miss, detected without any
    variance estimate. Completes the two-sample rank pair:
    location (MWU) + scale (this).

    Exactness: pooled midrank score sums come in closed form from the
    integer rank spans of the per-distinct-value count relation
    (`AB_F2_SQL` — the doubled prefix of min(r, N+1−r), pure integer
    CASE arithmetic); tied observations take the exact average score
    of their span via ONE fixed-point rounding per distinct value
    (`AB_TERM_SQL`, SCALE=10⁴ — the `AD_TERM_SQL` discipline: the
    per-type sum is an integer sum, order-free). The hashed edge
    emits ab_scaled (BIGINT, ANSI-loud past N ≈ 10⁸ per type) and the
    one fixed-shape division `AB_STAT_SQL`; the consumer computes the
    null moments E[AB] and var(AB) from n_ref/n_cur in closed form.

    Scale shape: identical to `ks_drift` — the shared
    `util.half_counts` reduction, then the one `_pooled_ecdf` (a
    per-type window over the reduced relation, totals broadcast)."""
    counts = _half_counts(events, ["event_type"], "value", "d")
    return ab_from_value_counts(
        _materialize(counts.filter(F.col("value").isNotNull()))
    )


def _ab_terms(per_value: DataFrame, keys: list[str]) -> DataFrame:
    """The Ansari–Bradley per-value rank-span terms over the
    `_pooled_ecdf`: the value's tied span ends at pooled rank b and
    holds l observations, so its doubled score sum is s2 = f2(b) −
    f2(b − l). Columns are renamed to the vocabulary `AB_TERM_SQL`
    shares with the oracle (c_ref = the value's ref count, t = its
    pooled count). Shared by `ab_from_value_counts` and
    `lepage_from_value_counts`."""
    return _pooled_ecdf(per_value, keys).select(
        *keys,
        "n_ref",
        "n_cur",
        F.col("d_ref").alias("c_ref"),
        F.col("l").alias("t"),
        (
            F.expr(AB_F2_SQL.format(x="b"))
            - F.expr(AB_F2_SQL.format(x="(b - l)"))
        ).alias("s2"),
    )


def ab_from_value_counts(
    per_value: DataFrame, keys: list[str] | None = None
) -> DataFrame:
    """Ansari–Bradley coda over the reduced ``(keys…, value, d_ref,
    d_cur)`` relation — shared by the batch operator and
    `streaming.rollup.stream_ansari_bradley`; its per-value terms come
    from `_ab_terms`, which `lepage_from_value_counts` shares."""
    keys = keys or ["event_type"]
    return (
        _ab_terms(per_value, keys)
        .groupBy(*keys)
        .agg(
            F.first("n_ref").alias("n_ref"),
            F.first("n_cur").alias("n_cur"),
            F.sum(F.expr(AB_TERM_SQL)).alias("ab_scaled"),
        )
        .select(
            *keys,
            F.col("n_ref").cast("bigint").alias("n_ref"),
            F.col("n_cur").cast("bigint").alias("n_cur"),
            F.col("ab_scaled").cast("bigint").alias("ab_scaled"),
            F.expr(
                f"CASE WHEN n_ref > 0 AND n_cur > 0 THEN {AB_STAT_SQL} END"
            ).alias("ab_stat"),
        )
        .orderBy(*keys)
    )


def mood_scale_test(events: DataFrame) -> DataFrame:
    """Mood's squared-rank SCALE test per event type between the
    feed's time halves — the second member of the two-sample
    dispersion pair: `ansari_bradley` scores ranks linearly from both
    ends (most powerful near the middle); Mood squares the centered
    rank, so far-tail mass dominates — a variance regression driven
    by a few extreme values moves Mood's M first, a broad IQR widening
    moves AB first. Running both brackets the dispersion alternative
    the way KS/AD bracket the location one.

    Statistic (doubled-centered form, fully integer): each distinct
    value's tied span takes the midrank r̄, and 2r̄ − N − 1 =
    2·cum_before + t − N is an INTEGER (the `mannwhitney_u` midrank
    identity), so m4 = Σ_ref c·(2r̄−N−1)² = 4·Σ(r̄ − (N+1)/2)² is an
    exact BIGINT. The hashed edge also emits the POOLED moment sums
    s2_pool = Σ_j t_j·dev_j² and s4_pool = Σ_j t_j·dev_j⁴ — the
    consumer assembles the exact tie-aware null moments by sampling
    without replacement: E[m4] = n_ref·s2_pool/N and
    var(m4) = n_ref·n_cur·(N·s4_pool − s2_pool²) / (N²·(N−1)).
    m4 and s2_pool emit as BIGINT (O(n·N²) / O(N³) — exact to
    N ≈ 2·10⁶ per type, ANSI-loud beyond); s4_pool grows as N⁵ and
    overflows BIGINT at N ≈ 6·10³ (measured at sf0.1), so it emits
    as the correctly-rounded DOUBLE of the exact DECIMAL(38,0) sum —
    the cvm_num edge precedent, exact below 2⁵³.

    Scale shape: identical to `ks_drift` — the shared
    `util.half_counts` reduction, then the one `_pooled_ecdf` (a
    per-type window over the reduced relation, totals broadcast)."""
    counts = _half_counts(events, ["event_type"], "value", "d")
    return mood_scale_from_value_counts(
        _materialize(counts.filter(F.col("value").isNotNull()))
    )


def mood_scale_from_value_counts(
    per_value: DataFrame, keys: list[str] | None = None
) -> DataFrame:
    """Mood squared-rank coda over the `_pooled_ecdf` of the reduced
    ``(keys…, value, d_ref, d_cur)`` relation — shared by the batch
    operator and `streaming.rollup.stream_mood_scale`."""
    keys = keys or ["event_type"]
    terms = _pooled_ecdf(per_value, keys).select(
        *keys,
        "n_ref",
        "n_cur",
        F.col("d_ref").alias("c_ref"),
        F.col("l").alias("t"),
        # dev = 2r̄ − N − 1 = 2·cum_before + t − N with t = l and
        # cum_before = b − l
        (F.lit(2) * (F.col("b") - F.col("l")) + F.col("l") - F.col("nt")).alias(
            "dev"
        ),
    )
    return (
        terms.groupBy(*keys)
        .agg(
            F.first("n_ref").alias("n_ref"),
            F.first("n_cur").alias("n_cur"),
            F.sum(
                F.expr(
                    "CAST(c_ref AS DECIMAL(38,0))"
                    " * CAST(dev AS DECIMAL(38,0)) * CAST(dev AS DECIMAL(38,0))"
                )
            ).alias("m4d"),
            F.sum(
                F.expr(
                    "CAST(t AS DECIMAL(38,0))"
                    " * CAST(dev AS DECIMAL(38,0)) * CAST(dev AS DECIMAL(38,0))"
                )
            ).alias("s2d"),
            F.sum(
                F.expr(
                    "CAST(t AS DECIMAL(38,0))"
                    " * CAST(dev AS DECIMAL(38,0)) * CAST(dev AS DECIMAL(38,0))"
                    " * CAST(dev AS DECIMAL(38,0)) * CAST(dev AS DECIMAL(38,0))"
                )
            ).alias("s4d"),
        )
        .select(
            *keys,
            F.col("n_ref").cast("bigint").alias("n_ref"),
            F.col("n_cur").cast("bigint").alias("n_cur"),
            F.col("m4d").cast("bigint").alias("m4"),
            F.col("s2d").cast("bigint").alias("s2_pool"),
            # s4 = Σ t·dev⁴ grows as N⁵ — BIGINT overflows at
            # N ≈ 6·10³ per type (measured: 6.2e20 at sf0.1, ANSI
            # CAST_OVERFLOW). DECIMAL(38,0) stays exact to N ≈ 10⁷;
            # the edge emits the correctly-rounded DOUBLE of that
            # decimal (the cvm_num precedent: both engines' decimal→
            # double casts are correctly rounded, so the emitted
            # double is identical; exact below 2⁵³)
            F.col("s4d").cast("double").alias("s4_pool"),
        )
        .orderBy(*keys)
    )


# Lepage edge fragments — shared verbatim with the oracle; every
# input column is an exact integer (or the correctly-rounded double of
# an exact decimal), so both engines evaluate the SAME IEEE expression.
# z²_W from the mwu coda's integer components: z_num = 2U − n·m and
# Var(2U) = n·m·tie_term / (3·N·(N−1)) (tie_term = (N³−N) − Σ(t³−t)),
# so z²_W = z_num²·3·N·(N−1) / (n·m·tie_term).
LEPAGE_W_Z2_SQL = (
    "CASE WHEN tie_term > 0 THEN"
    " CAST(z_num AS DOUBLE) * CAST(z_num AS DOUBLE)"
    " * 3.0 * CAST(nt AS DOUBLE) * CAST(nt - 1 AS DOUBLE)"
    " / (CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE)"
    " * CAST(tie_term AS DOUBLE)) END"
)
# Tie-aware AB null moments via the general two-sample linear-rank
# form (sampling n_ref scores without replacement from the pooled
# midrank scores): E[AB] = n_ref·S1/N with S1 = f2(N)/2 EXACT in N
# alone (averaging over a tie span preserves the pooled score total),
# Var(AB) = n_ref·n_cur·(N·S2 − S1²) / (N²·(N−1)) with S2 = Σ_j h²/t
# (h = s2/2 the span's exact score sum) carried as the fixed-point
# ab2_scaled below.
LEPAGE_AB_S1_SQL = "(CAST(" + AB_F2_SQL.format(x="nt") + " AS DOUBLE) / 2.0)"
LEPAGE_AB_VAR_SQL = (
    "(CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE)"
    " * (CAST(nt AS DOUBLE) * (CAST(ab2_scaled AS DOUBLE) / 10000.0)"
    f" - {LEPAGE_AB_S1_SQL} * {LEPAGE_AB_S1_SQL})"
    " / (CAST(nt AS DOUBLE) * CAST(nt AS DOUBLE)"
    " * CAST(nt - 1 AS DOUBLE)))"
)
LEPAGE_AB_Z2_SQL = (
    f"CASE WHEN nt > 1 AND {LEPAGE_AB_VAR_SQL} > 0.0 THEN"
    " (CAST(ab_scaled AS DOUBLE) / 10000.0"
    f" - CAST(n_ref AS DOUBLE) * {LEPAGE_AB_S1_SQL} / CAST(nt AS DOUBLE))"
    " * (CAST(ab_scaled AS DOUBLE) / 10000.0"
    f" - CAST(n_ref AS DOUBLE) * {LEPAGE_AB_S1_SQL} / CAST(nt AS DOUBLE))"
    f" / {LEPAGE_AB_VAR_SQL} END"
)
# Per-distinct-value second-moment term h²·10⁴/t = s2²·2500/t,
# floored ONCE per value as the floor of one shared IEEE double (the
# HL_K_CI_SQL discipline: identical inputs → identical double →
# identical floor in both engines), then summed as exact integers
# (order-free). The caller casts the floored double to its engine's
# wide integer (DECIMAL(38,0) / HUGEINT) before summing.
LEPAGE_AB2_TERM_SQL = (
    "floor(CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) * 2500.0"
    " / CAST(t AS DOUBLE))"
)


def lepage_test(events: DataFrame) -> DataFrame:
    """Two-sample Lepage test per event type between the feed's time
    halves — the combined LOCATION+SCALE drift verdict closing the
    rank panel: `mannwhitney_u` moves only when the center shifts,
    `ansari_bradley` only when the spread changes; Lepage's
    L = z²_W + z²_AB (the squared standardized Wilcoxon plus the
    squared standardized Ansari–Bradley, asymptotically χ²₂) moves for
    EITHER, so one thresholded number monitors both failure modes —
    the omnibus companion the two marginal tests bracket.

    Exactness: both component statistics and all null moments derive
    from the shared `util.half_counts` relation in exact integer
    arithmetic — the Wilcoxon side reuses `mwu_from_value_counts`'
    z_num/tie_term components verbatim; the AB side reuses the
    `AB_F2_SQL`/`AB_TERM_SQL` rank-span machinery, with the tie-aware
    second moment carried as one floor-of-shared-IEEE-double
    fixed-point term per distinct value (LEPAGE_AB2_TERM_SQL). The
    hashed edge emits the two z² and their sum via fragments shared
    verbatim with the oracle.

    Scale shape: identical to `ks_drift` — ONE feed reduction to the
    per-distinct-value half counts; the AB side runs over the one
    `_pooled_ecdf`, the Wilcoxon side over the Mann–Whitney window,
    both per type over the reduced relation. Types living entirely in
    one half drop (no two-sample statistic exists), the
    `mannwhitney_u` convention."""
    counts = _half_counts(events, ["event_type"], "value", "d")
    return lepage_from_value_counts(
        _materialize(counts.filter(F.col("value").isNotNull()))
    )


def lepage_from_value_counts(
    per_value: DataFrame, keys: list[str] | None = None
) -> DataFrame:
    """Lepage coda over the reduced ``(keys…, value, d_ref, d_cur)``
    relation — shared verbatim by the batch operator,
    `streaming.rollup.stream_lepage`, and the sliding-reference
    `windowed_lepage` (keys = (event_type, day))."""
    from .analytics import mwu_from_value_counts

    keys = keys or ["event_type"]
    mwu = mwu_from_value_counts(
        per_value.select(
            *keys,
            "value",
            F.col("d_ref").alias("c_ref"),
            F.col("d_cur").alias("c_cur"),
        ),
        keys=keys,
    ).select(*keys, "z_num", "tie_term")
    ab = _ab_terms(per_value, keys).groupBy(*keys).agg(
        F.first("n_ref").alias("n_ref"),
        F.first("n_cur").alias("n_cur"),
        F.sum(F.expr(AB_TERM_SQL)).alias("ab_scaled"),
        F.sum(
            F.expr(f"CAST({LEPAGE_AB2_TERM_SQL} AS DECIMAL(38,0))")
        ).alias("ab2_scaled"),
    )
    z = (
        ab.join(mwu, list(keys))
        .select(
            *keys,
            F.col("n_ref").cast("bigint").alias("n_ref"),
            F.col("n_cur").cast("bigint").alias("n_cur"),
            (F.col("n_ref") + F.col("n_cur")).cast("bigint").alias("nt"),
            F.col("ab_scaled").cast("bigint").alias("ab_scaled"),
            "ab2_scaled",
            "z_num",
            "tie_term",
        )
        .select(
            *keys,
            "n_ref",
            "n_cur",
            F.expr(LEPAGE_W_Z2_SQL).alias("w_z2"),
            F.expr(LEPAGE_AB_Z2_SQL).alias("ab_z2"),
        )
    )
    return z.select(
        *keys,
        "n_ref",
        "n_cur",
        "w_z2",
        "ab_z2",
        (F.col("w_z2") + F.col("ab_z2")).alias("lepage_stat"),
    ).orderBy(*keys)


def windowed_anderson_darling(events: DataFrame) -> DataFrame:
    """Day-over-day two-sample Anderson–Darling per event type — the
    TAIL-sensitive member of the windowed drift family (completing it
    the way `anderson_darling` completed the two-half panel):
    `windowed_ks` reacts to the largest mid-distribution ECDF break,
    `windowed_wasserstein` to the aggregate mass moved; this weights
    each squared gap by 1/(B·(N−B)), so a TAIL migration between
    consecutive days — the shape latency regressions take — scores
    first. Same machinery end-to-end: the feed reduces ONCE to the
    (type, day, cents) count relation; the previous-day side arrives
    by the SHARED `analytics.day_shift_half_counts` shift; the coda is
    `ad_from_value_counts` keyed by (event_type, day) — order-free
    fixed-point integer terms (`AD_TERM_SQL`), one final division."""
    return windowed_ad_from_counts(windowed_day_cents_counts(events))


def windowed_ad_from_counts(counts: DataFrame) -> DataFrame:
    """Sliding-reference AD coda over the (event_type, day, cents, c)
    relation — shared verbatim by the batch operator and
    `streaming.rollup.stream_windowed_anderson_darling` (whose
    watermarked state IS this relation over the finalized days)."""
    return _windowed_coda(counts, ad_from_value_counts)


def windowed_cramer_von_mises(events: DataFrame) -> DataFrame:
    """Day-over-day two-sample Cramér–von Mises per event type — the
    L2 member of the windowed drift panel (KS = sup, AD = tail-
    weighted L2, W1 = L1, Cliff's = ordinal): many moderate ECDF gaps
    between consecutive days outscore one sharp spike. Shared
    machinery end-to-end: `day_shift_half_counts` pairing, the
    `cvm_from_value_counts` coda keyed by (event_type, day) — pure
    integer numerator, one fixed-shape division."""
    return windowed_cvm_from_counts(windowed_day_cents_counts(events))


def windowed_cvm_from_counts(counts: DataFrame) -> DataFrame:
    """Sliding-reference CvM coda over the (event_type, day, cents,
    c) relation — shared verbatim by the batch operator and
    `streaming.rollup.stream_windowed_cvm`."""
    return _windowed_coda(counts, cvm_from_value_counts)


def windowed_kuiper(events: DataFrame) -> DataFrame:
    """Day-over-day two-sample Kuiper per event type — the rotation-
    invariant sup member of the windowed drift panel: V = D⁺ + D⁻
    catches a day whose distribution split BOTH ways vs yesterday
    (bimodal migration) that windowed KS halves. Shared machinery:
    `day_shift_half_counts` pairing, `kuiper_from_value_counts` keyed
    by (event_type, day) — signed integer gaps, two exact maxima."""
    return windowed_kuiper_from_counts(windowed_day_cents_counts(events))


def windowed_kuiper_from_counts(counts: DataFrame) -> DataFrame:
    """Sliding-reference Kuiper coda over the (event_type, day,
    cents, c) relation — shared verbatim by the batch operator and
    `streaming.rollup.stream_windowed_kuiper`."""
    return _windowed_coda(counts, kuiper_from_value_counts)


def _dense_daily_counts(events: DataFrame) -> DataFrame:
    """The (event_type, day, y) dense daily count relation shared by
    the trend tests: calendar-dense per type (silent days are real
    zeros — `theil_sen_trend`'s convention), materialized because
    every consumer reads it at least twice (the diamond rule)."""
    day = F.expr(f"{FEED_US} div 86400000000")
    counts = _materialize(
        events.groupBy("event_type", day.alias("day")).agg(
            F.count("*").alias("y")
        )
    )
    span = counts.groupBy("event_type").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    return _materialize(
        span.select(
            "event_type", F.explode(F.expr("sequence(d0, d1)")).alias("day")
        )
        .join(counts, ["event_type", "day"], "left")
        .select("event_type", "day", F.coalesce("y", F.lit(0)).alias("y"))
    )


def mann_kendall_trend(events: DataFrame) -> DataFrame:
    """Mann–Kendall monotone-trend components of the daily count
    series per event type — the nonparametric significance companion
    to `theil_sen_trend`: Sen gives the robust slope, Mann–Kendall
    says whether ANY monotone trend exists at all (S = Σ_{i<j}
    sign(y_j − y_i)), immune to the level shifts and heavy tails that
    invalidate a least-squares t-test on telemetry series.

    Exactness end-to-end: S is a sum of {−1, 0, +1} over day pairs —
    pure BIGINT; the tie correction Σ t(t−1)(2t+5) comes from the
    daily-value marginal, also BIGINT. The hashed edge emits ONLY
    integral components (the `mannwhitney_u` convention) — the
    consumer computes var(S) = [n(n−1)(2n+5) − tie_term]/18 and
    z = (S ∓ 1)/√var(S).

    Scale shape: the feed reduces ONCE to the dense (type, day, y)
    relation; the pair stage is a self-join of THAT relation —
    O(span²) per type, bounded by the calendar (the `theil_sen_trend`
    bound), never feed volume. Final = #types rows."""
    return mann_kendall_from_daily(_dense_daily_counts(events))


def mann_kendall_from_daily(
    dense: DataFrame, keys: list[str] | None = None
) -> DataFrame:
    """Mann–Kendall coda over an already-materialized dense
    (keys…, day, y) daily relation — shared verbatim by the
    batch operator and `streaming.rollup.stream_mann_kendall` (whose
    state IS the daily count relation). ``keys`` defaults to the
    per-type shape; `seasonal_mann_kendall` passes (event_type, dow)
    so each weekday subseries gets its own S and tie components."""
    keys = keys or ["event_type"]
    a = dense.select(
        *keys, F.col("day").alias("di"), F.col("y").alias("yi")
    )
    b = dense.select(
        *keys, F.col("day").alias("dj"), F.col("y").alias("yj")
    )
    s = (
        a.join(b, list(keys))
        .filter(F.col("di") < F.col("dj"))
        .groupBy(*keys)
        .agg(
            F.sum(F.signum(F.col("yj") - F.col("yi")).cast("bigint")).alias(
                "s_stat"
            )
        )
    )
    ties = (
        dense.groupBy(*keys, "y")
        .agg(F.count("*").alias("t"))
        .groupBy(*keys)
        .agg(
            F.sum("t").cast("bigint").alias("n_days"),
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            )
            .cast("bigint")
            .alias("tie_term"),
        )
    )
    return (
        ties.join(s, list(keys), "left")
        .select(
            *keys,
            "n_days",
            F.coalesce("s_stat", F.lit(0)).cast("bigint").alias("s_stat"),
            "tie_term",
        )
        .orderBy(*keys)
    )


def seasonal_mann_kendall(events: DataFrame) -> DataFrame:
    """Seasonal (Hirsch–Slack) Mann–Kendall per event type: the MK
    monotone-trend components computed SEPARATELY on each weekday's
    daily-count subseries — the trend test that stays valid when the
    series has a strong weekly cycle (plain `mann_kendall_trend` reads
    the Mon→Sun sawtooth as massive tie-breaking noise; comparing
    Mondays only to Mondays removes the cycle by construction,
    `dow_activity_gof`'s weekday from pure integer epoch-day
    arithmetic). Emits the 7 per-season component rows; the consumer
    sums S_d and var_d across seasons for the seasonal z (the
    classical independence assumption — seasons share no day pairs).

    Exactness: identical to `mann_kendall_trend` per subseries — S is
    a ±1 sum over within-season day pairs (BIGINT), ties from the
    per-season daily-value marginal. Calendar-dense days (silent days
    are real zeros) exactly as the plain test.

    Scale shape: the same dense (type, day, y) relation; the pair
    stage is a self-join WITHIN (type, dow) — ~(span/7)² per season,
    7× cheaper than the plain test's pair stage. Final ≤ 7·#types
    rows."""
    dense = _dense_daily_counts(events).select(
        "event_type",
        ((F.col("day") + 4) % 7).cast("int").alias("dow"),
        "day",
        "y",
    )
    return mann_kendall_from_daily(dense, keys=["event_type", "dow"])


def runs_test(events: DataFrame) -> DataFrame:
    """Wald–Wolfowitz runs-test components over the daily count
    series per event type: dichotomize each day as above/below the
    per-type MEDIAN daily count (days exactly at the median drop —
    the classical convention), then count runs of consecutive
    same-sign days. Too FEW runs = the series is trending/clustered;
    too MANY = oscillating faster than chance — the randomness check
    that `mann_kendall_trend` (monotone only) cannot express.

    Exactness: the median is percentile_disc over the dense daily
    relation (an order statistic — an actual integer count, never
    interpolated); signs, run boundaries and counts are all integer.
    The consumer computes E[R] = 2ab/(a+b) + 1 and var from the
    emitted (n_above, n_below, n_runs).

    Scale shape: everything after the feed reduction rides the dense
    (type, day, y) relation — one per-type window ordered by day over
    a calendar-bounded partition. Final = #types rows."""
    return runs_from_daily(_dense_daily_counts(events))


def runs_from_daily(dense: DataFrame) -> DataFrame:
    """Runs-test coda over the materialized dense (event_type, day,
    y) relation — shared verbatim by the batch operator and
    `streaming.rollup.stream_runs_test`."""
    med = dense.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY y)").alias("med")
    )
    signed = (
        dense.join(F.broadcast(med), "event_type")
        .filter(F.col("y") != F.col("med"))
        .select(
            "event_type",
            "day",
            F.when(F.col("y") > F.col("med"), F.lit(1))
            .otherwise(F.lit(-1))
            .alias("s"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("day")
    runs = signed.select(
        "event_type",
        "s",
        F.when(
            F.lag("s").over(w).isNull() | (F.lag("s").over(w) != F.col("s")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("new_run"),
    )
    return (
        runs.groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("s") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_above"),
            F.sum(F.when(F.col("s") < 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_below"),
            F.sum("new_run").cast("bigint").alias("n_runs"),
        )
        .orderBy("event_type")
    )
