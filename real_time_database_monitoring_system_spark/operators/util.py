"""Shared operator utilities."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame


def materialize(df: DataFrame) -> DataFrame:
    """Materialize a DataFrame that several downstream subplans consume
    (diamond-shaped reuse).

    Spark expands each consumer into an independent physical subplan —
    a self-join on an expensive intermediate (an inverted index, a
    signature table) otherwise recomputes it per consumer, re-scanning
    the source each time (measured: 12 scans of `documents` in the
    n-gram Jaccard plan). Materializing computes the intermediate once
    and truncates the lineage, so every consumer reads the
    materialized partitions.

    Durability is a CONFIG SWITCH, not a footnote
    (``spark.graft.materialize.mode``):

    - ``local`` (default): ``localCheckpoint(eager=True)`` into
      executor block storage — fastest, but an executor loss fails the
      job instead of recomputing (lineage is truncated and the blocks
      are gone with the executor).
    - ``reliable``: ``checkpoint(eager=True)`` to the cluster's
      configured checkpoint dir (``sc.setCheckpointDir`` — HDFS/S3 in
      production), surviving executor loss. If no checkpoint dir is
      set, one is created under the session's warehouse dir so the
      mode works out of the box on local runs.

    Both modes return the same rows by construction (one deterministic
    computation of the same plan, then a scan of the stored
    partitions); tests/test_plans.py pins the parity. A 100 TB
    pipeline run sets ``reliable`` + an object-store checkpoint dir;
    the operator shape is identical either way."""
    spark = df.sparkSession
    mode = spark.conf.get("spark.graft.materialize.mode", "local")
    if mode == "reliable":
        sc = spark.sparkContext
        if sc.getCheckpointDir() is None:
            import os
            import tempfile

            base = spark.conf.get(
                "spark.sql.warehouse.dir", tempfile.gettempdir()
            ).removeprefix("file:")
            sc.setCheckpointDir(os.path.join(base, ".graft-checkpoints"))
        # Reliable checkpoints are files, not executor blocks. Their
        # lifecycle is handled by the ContextCleaner: session.get_spark
        # sets spark.cleaner.referenceTracking.cleanCheckpoints=true at
        # builder time (the cleaner reads it once at SparkContext
        # construction), so each checkpoint's files are deleted when
        # its RDD is garbage-collected instead of accumulating for the
        # life of a long-running session (ADVICE r5).
        return df.checkpoint(eager=True)
    if mode != "local":
        raise ValueError(
            f"spark.graft.materialize.mode must be 'local' or 'reliable', got {mode!r}"
        )
    return df.localCheckpoint(eager=True)


def spread(df: DataFrame, *cols: str, cap: int | None = None) -> DataFrame:
    """Repartition before CPU-heavy per-row work (shingling, hashing,
    scoring). The test tables are single parquet files → one input
    split → one task; a real corpus arrives in many splits, and this
    keeps the local plan shaped like the cluster plan. The shuffle
    moves only the narrow input rows.

    Width = `spark.graft.spread.partitions` if set, else the session's
    default parallelism. The override matters in BOTH directions at
    scale: defaultParallelism is a core count, not a data size, so on
    a big corpus the fixed-width repartition CONCENTRATES many input
    splits into few fat partitions — measured: 5M docs through the
    MinHash shingle explode on 32 partitions (~150 MB of exploded
    strings per task × 32 concurrent) OOMs a 24 GB local JVM, while
    256 partitions stream through it. A production deployment sets the
    conf data-proportionally (≈ input bytes / 64 MB after explode
    fan-out); partition width never changes results, only memory.

    ``cap``: optional ceiling on the width, for callers whose per-TASK
    fixed cost is large (the sign-LSH band pass hands every task's
    rows to a Python worker over Arrow — see
    `similarity.embedding_near_dup_pairs` for the measurement). Such
    callers pass a cap derived from the INPUT's split count, so a
    small input stops fanning out into setup-dominated tasks while a
    real corpus (thousands of scan splits) keeps full width."""
    spark = df.sparkSession
    conf = spark.conf.get("spark.graft.spread.partitions", None)
    if conf:
        # the explicit production knob wins outright — a deployment
        # that sized the width data-proportionally knows better than
        # the input-split heuristic below
        n = int(conf)
    else:
        n = spark.sparkContext.defaultParallelism
        if cap is not None:
            n = max(1, min(n, cap))
    return df.repartition(n, *cols) if cols else df.repartition(n)


def with_observation(df: DataFrame, name: str, *metrics):
    """Attach zero-cost pipeline health metrics to a DataFrame:
    returns ``(df, observation)`` where the Observation collects the
    given aggregate expressions AS THE QUERY RUNS — no second pass, no
    extra job, no .count() re-scan. After any action on ``df``,
    ``observation.get`` yields the metric dict.

    This is how a 100 TB pipeline stage reports rows-in/rows-out,
    null-rates, or dropped-row counts without paying for a validation
    scan: the metrics ride the same physical plan (Spark's
    CollectMetrics node). The reference recomputes COUNT(*) panels as
    separate queries per page load (myapp/views.py:214-248); observed
    metrics make every pipeline action self-reporting instead.
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    return df.observe(obs, *metrics), obs


def require_alphabet_cap(
    df: DataFrame, key: str, value: str, cap: int, op: str
) -> None:
    """Raise ValueError unless every ``key`` group of ``df`` holds at
    most ``cap`` distinct ``value``s — the loud operator-boundary
    check before a grouped Arrow pass that buffers one group's whole
    value alphabet in a single Python worker (an unquantized value
    domain would otherwise die as an opaque executor OOM). One small
    eager job; callers pass an already-materialized relation so it
    reads stored blocks, not the source."""
    from pyspark.sql import functions as F

    worst = (
        df.groupBy(key)
        .agg(F.countDistinct(value).alias("v"))
        .agg(F.max("v"))
        .first()[0]
    ) or 0
    if worst > cap:
        raise ValueError(
            f"{op}: some {key} has a value alphabet of {worst} distinct "
            f"{value} values, exceeding the per-{key} dense-grid cap of "
            f"{cap}. The Arrow pass buffers one group's alphabet per task; "
            "quantize the value axis (e.g. coarser bucketing) before "
            "calling, or the group buffer will OOM."
        )


def disc_quantiles_from_counts(
    df: DataFrame,
    keys: list[str],
    col: str,
    quantiles: list[tuple[str, int, int]],
) -> DataFrame:
    """Exact `percentile_disc` per group WITHOUT buffering group
    values: one keyed per-distinct-value count (map-side partials,
    bounded by the value alphabet) + a per-group cumsum window over
    THAT relation, then for each requested quantile q = num/den the
    smallest value whose cumulative count satisfies the integer
    cross-multiplication cum·den ≥ num·n (⟺ cume_dist ≥ q, the
    SQL-standard `percentile_disc` definition — no doubles anywhere
    near the cut, so Spark, DuckDB, and this replica agree
    bit-for-bit; the `psi_drift` coda proved the rule against
    `percentile_disc` across engines and SFs).

    Why: Spark's `percentile_disc` AGGREGATE buffers every group value
    in executor memory — feed-scale groups OOM long before 100 TB.
    This shape's state is the distinct-value relation (the
    `ks_drift`/`mwu` trade; production quantizes values to bound it).

    NULL values are ignored (the `percentile_disc` contract); groups
    whose values are ALL NULL emit NULL quantiles (their NULL rows
    stay in the count relation with no weight, matching the
    aggregate's behavior row for row). `quantiles` entries are (alias, num, den).
    """
    from pyspark.sql import functions as F

    def pick(cum: DataFrame, keys: list[str]) -> DataFrame:
        return cum.groupBy(*keys).agg(
            *[
                F.min(
                    F.when(F.col("_cum") * den >= F.col("_n") * num, F.col(col))
                ).alias(alias)
                for alias, num, den in quantiles
            ]
        )

    return _quantiles_from_counts(df, keys, col, None, pick)


def cont_quantiles_from_counts(
    df: DataFrame,
    keys: list[str],
    col: str,
    quantiles: list[tuple[str, int, int]],
    weight: str | None = None,
) -> DataFrame:
    """Exact CONTINUOUS (linear-interpolated, SQL `percentile_cont` /
    type-7) quantiles per group from the same per-distinct-value count
    relation `disc_quantiles_from_counts` uses — completing the
    counts-conversion family at the continuous operating point, again
    WITHOUT buffering group values (Spark's `percentile` aggregate
    holds every group value in executor memory; this shape's state is
    the distinct-value relation).

    Definition made engine-exact by keeping the index arithmetic
    INTEGER: for q = num/den over n sorted values, the target rank
    h = (n−1)·q splits into i = ((n−1)·num) div den and remainder
    rem = ((n−1)·num) mod den, so
        result = v[i] + (rem · (v[i+1] − v[i])) / den
    with v[i] = the smallest value whose cumulative count exceeds i
    (values cover index runs in the cum relation). The only floating
    arithmetic is the final fixed-shape expression over identical
    inputs — `+`, `−`, `·`, `/` are IEEE correctly-rounded, so any
    conforming engine produces the identical double (the mannwhitney
    sweep rule); the DuckDB oracle mirrors the expression verbatim
    rather than calling `quantile_cont`, whose internal fraction
    (h − floor(h)) can differ from the exact rational rem/den in the
    last ULP.

    NULL handling matches the aggregate contract: NULL values ignored,
    all-NULL groups emit NULL quantiles. `quantiles` entries are
    (alias, num, den) with 0 ≤ num/den ≤ 1.

    ``weight``: when set, `df` is ALREADY a per-value count relation
    and `weight` names its count column (the shape a streaming
    aggregation maintains — `stream_value_percentiles` feeds its
    complete-mode state here, the `mwu_from_value_counts` pattern);
    rows then contribute `weight` occurrences instead of 1."""
    def pick(cum: DataFrame, keys: list[str]) -> DataFrame:
        return _type7_pick(cum, keys, col, quantiles)

    return _quantiles_from_counts(df, keys, col, weight, pick)


def type7_from_counts(
    counts: DataFrame,
    keys: list[str],
    col: str,
    weight: str,
    quantiles: list[tuple[str, int, int]],
    **extra_aggs: Column,
) -> DataFrame:
    """The type-7 quantiles of `cont_quantiles_from_counts` over a
    per-value count relation (`weight` names its count column) as one
    lazy chain, for codas that need more per group than the quantiles:
    the cumulative-count window per group, then one aggregate that
    picks the quantiles and computes each named aggregate of
    `extra_aggs` over the group's `counts` rows. Rows with NULL `col`
    add no weight to the quantiles but stay visible to `extra_aggs`; a
    group with no non-NULL value gets NULL quantiles. One row per group
    of `counts`, NULL keys included (no join back to the groups)."""
    carry = [c for c in counts.columns if c not in keys and c != col]
    cum = _cumulative(counts, keys, col, weight, *carry)
    return _type7_pick(cum, keys, col, quantiles, **extra_aggs)


def _type7_pick(
    cum: DataFrame,
    keys: list[str],
    col: str,
    quantiles: list[tuple[str, int, int]],
    **extra_aggs: Column,
) -> DataFrame:
    """The type-7 pick over a `_cumulative` relation: one row per group
    with `extra_aggs` and one column per (alias, num, den) entry. The
    one copy of the interpolation formula."""
    from pyspark.sql import functions as F

    aggs, finals = [], []
    for alias, num, den in quantiles:
        # per-group integer target: i = ((n-1)*num) div den, rem = mod
        i_q = F.expr(f"((_n - 1) * {num}) div {den}")
        aggs.append(
            F.min(F.when(F.col("_cum") > i_q, F.col(col))).alias(f"_lo_{alias}")
        )
        aggs.append(
            F.min(F.when(F.col("_cum") > i_q + 1, F.col(col))).alias(f"_hi_{alias}")
        )
        aggs.append(
            F.min(F.expr(f"((_n - 1) * {num}) % {den}")).alias(f"_rem_{alias}")
        )
        finals.append(
            F.expr(
                f"CAST(_lo_{alias} AS DOUBLE) + (CAST(_rem_{alias} AS DOUBLE)"
                f" * (CAST(coalesce(_hi_{alias}, _lo_{alias}) AS DOUBLE)"
                f" - CAST(_lo_{alias} AS DOUBLE))) / CAST({den} AS DOUBLE)"
            ).alias(alias)
        )
    extras = [agg.alias(name) for name, agg in extra_aggs.items()]
    return (
        cum.groupBy(*keys)
        .agg(*extras, *aggs)
        .select(*keys, *extra_aggs, *finals)
    )


def _cumulative(
    counts: DataFrame, keys: list[str], col: str, weight: str, *carry: str
) -> DataFrame:
    """(keys…, col, carry…, _cum, _n): per group, the running sum of
    the `weight` column in `col` order and its total. Rows with NULL
    `col` add no weight."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    valued = F.when(F.col(col).isNotNull(), F.col(weight))
    w = (
        Window.partitionBy(*keys)
        .orderBy(col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy(*keys)
    return counts.select(
        *keys,
        F.col(col),
        *carry,
        F.sum(valued).over(w).alias("_cum"),
        F.sum(valued).over(wn).alias("_n"),
    )


def _quantiles_from_counts(
    df: DataFrame,
    keys: list[str],
    col: str,
    weight: str | None,
    pick: Callable[[DataFrame, list[str]], DataFrame],
) -> DataFrame:
    """The counts-conversion core both quantile helpers share: the
    per-group (keys…, value, _cum, _n) cumulative-count relation,
    handed to ``pick(cum, keys)`` for the per-group quantile rule.
    NULL values stay in the relation as rows of no weight, so every
    group, NULL keys included, keeps its one output row (no join back
    to the groups), and a group with no non-NULL value gets NULL
    quantiles. No keys → one constant `_g` group (dropped again on the
    way out), so global quantiles share the code path. ``weight``
    names a count column when `df` already is a per-value count
    relation; otherwise each row counts once."""
    from pyspark.sql import functions as F

    drop_key = False
    if not keys:
        # global quantiles: a constant group key keeps one code path
        df = df.withColumn("_g", F.lit(1))
        keys = ["_g"]
        drop_key = True
    agg_expr = F.count("*") if weight is None else F.sum(weight)
    counts = df.groupBy(*keys, col).agg(agg_expr.alias("_c"))
    out = pick(_cumulative(counts, keys, col, "_c"), keys)
    return out.drop("_g") if drop_key else out


# The experiment-cohort axis for per-source drift attribution: the
# props variant key k bucketed into 4 cohorts (k ∈ 0..~100 in the
# feed), NULL/missing props folded to cohort -1 so the sliding-day
# full-outer pairing never sees a NULL join key (NULL keys never
# match themselves in SQL joins — each row would pair with nothing).
# Defined ONCE (the windowed_day_cents_counts rule) and mirrored
# verbatim by the oracles' json_extract_string expression (guarded
# with json_valid so MALFORMED props folds to -1 on both engines —
# try_parse_json yields NULL there, but raw json_extract_string
# hard-errors; ADVICE r11). Feed invariant: k, when present, is an
# exact JSON integer (numeric strings like "42" also agree across
# engines). A non-numeric STRING k hard-errors LOUDLY in both engines
# (Spark INVALID_VARIANT_CAST / DuckDB ConversionException) — a
# deliberate boundary rather than a silent -1 fold that would hide a
# schema break upstream. A BOOLEAN k is the one shape where the
# engines disagree (Spark's variant cast folds true/false to 1/0;
# DuckDB's CAST('true' AS BIGINT) hard-errors) — excluded by the same
# feed contract, and the production admission gate for it is
# `curation.data_contract_audit` run BEFORE the batch enters the
# lake. Both boundaries are pinned by tests/test_round12_ops.py so
# any engine-behavior drift surfaces as a test failure, not a silent
# divergence.
COHORT_SQL = (
    "coalesce(variant_get(try_parse_json(props), '$.k', 'bigint')"
    " div 25, -1)"
)


def with_cohort(events: DataFrame) -> DataFrame:
    """The cohort-as-ingest-column projection (VERDICT r11 task 3):
    events plus a materialized ``cohort`` BIGINT column computed once
    from `COHORT_SQL`. At 100M rows the per-row JSON parse costs the
    by-cohort drift family 2.7× the global panel (15.4 s vs 5.8 s,
    SCALE.md round-12 re-measurement; 4.7× in the r11 host state); the
    production shape parses ONCE at ingest — write this projection to
    parquet (or compute it in the ingest job) and every downstream
    by-cohort reduction picks the column up automatically
    (`windowed_day_cents_counts` / `daily_cents_sums` use a
    pre-existing ``cohort`` column instead of re-parsing). Lazy: as a
    plain projection it costs the same parse in the same scan; the
    win comes from materializing the result so later queries never
    touch ``props``.

    A pre-existing ``cohort`` column is NORMALIZED, not trusted
    verbatim: cast to BIGINT and NULL folded to -1, the same contract
    COHORT_SQL guarantees — an externally materialized column may
    carry NULLs (rows appended after the enrich job, a left-join
    ingest), and a raw NULL group key would silently vanish from the
    downstream full-outer day pairing (NULL keys never match
    themselves; see the COHORT_SQL comment). Normalization is
    idempotent, so re-applying `with_cohort` is always safe."""
    from pyspark.sql import functions as F

    if "cohort" in events.columns:
        return events.withColumn(
            "cohort", F.coalesce(F.col("cohort").cast("bigint"), F.lit(-1))
        )
    return events.withColumn("cohort", F.expr(COHORT_SQL))


def windowed_day_cents_counts(
    events: DataFrame, by_cohort: bool = False
) -> DataFrame:
    """The (event_type[, cohort], day, cents, c) count relation every
    windowed day-over-day drift member reduces the feed to — shared by
    the KS/AD/CvM/Kuiper variants (`anomaly`) and Cliff's delta
    (`analytics`), so the round(value*100) quantization axis is
    defined ONCE (ADVICE r10). With ``by_cohort`` the relation carries
    one more bounded key (`COHORT_SQL`) so the drift panel can say
    WHICH experiment cohort drifted, not just that the day did
    (VERDICT r10 task 3c). One map-side-combinable groupBy; the raw
    feed never row-shuffles past this point.

    Ingest-column fast path (VERDICT r11 task 3): when the feed
    already carries a ``cohort`` column (a `with_cohort` projection
    materialized at ingest), it is used directly — no per-row JSON
    parse, no ``props`` read. Measured at 100M rows: 15.4 s parse
    path → 5.9 s over the materialized column — the cohort overhead
    collapses to the 5.8 s global-panel relation factor (SCALE.md)."""
    from pyspark.sql import functions as F

    keys = [F.col("event_type")]
    if by_cohort:
        # with_cohort is the ONE definition of the cohort key: parse
        # path when absent, normalization (bigint cast, NULL->-1 fold)
        # when an ingest column pre-exists
        events = with_cohort(events)
        keys.append(F.col("cohort"))
    return (
        events.filter(F.col("value").isNotNull())
        .groupBy(
            *keys,
            F.expr(
                "unix_micros(cast(ts as timestamp)) div 86400000000"
            ).alias("day"),
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        )
        .agg(F.count("*").alias("c"))
    )


def daily_cents_sums(events: DataFrame, by_cohort: bool = False) -> DataFrame:
    """The (event_type[, cohort], day, s, c) daily integer-cents
    sufficient statistics the changepoint family
    (`anomaly.pettitt_test`, `anomaly.page_hinkley`,
    `analytics.friedman_test`) reduces the feed to: s =
    Σ round(value·100) (each row rounded ONCE, then summed exactly —
    BIGINT), c = row count. With ``by_cohort`` the bounded `COHORT_SQL`
    key rides along for changepoint ATTRIBUTION (which cohort broke).
    One map-side-combinable groupBy bounded by types × days [× cohorts];
    the raw feed never row-shuffles past this point, so everything
    downstream runs on a relation whose size is a calendar, not a
    corpus.

    Ingest-column fast path: a pre-materialized ``cohort`` column
    (see `with_cohort`) is used directly instead of re-parsing
    ``props`` (VERDICT r11 task 3)."""
    from pyspark.sql import functions as F

    keys = [F.col("event_type")]
    if by_cohort:
        # with_cohort is the ONE definition of the cohort key: parse
        # path when absent, normalization (bigint cast, NULL->-1 fold)
        # when an ingest column pre-exists
        events = with_cohort(events)
        keys.append(F.col("cohort"))
    return (
        events.filter(F.col("value").isNotNull())
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


# Epoch µs of a feed row: the time axis of the two-sample split.
FEED_US = "unix_micros(cast(ts as timestamp))"


def tag_halves(df: DataFrame, us: str = FEED_US) -> DataFrame:
    """The two-sample drift family's ONE temporal split: ``df`` plus a
    boolean ``is_ref``, true for rows at or before the integer-µs
    midpoint ``(min(us) + max(us)) div 2`` of the whole relation.
    Every batch member and its streaming twin splits here, so the
    reference/current halves cannot drift between copies.

    - Midpoint: integer ``div`` truncates toward zero, as the oracle's
      DuckDB ``//`` does, so pre-1970 feeds agree too. A row exactly on
      the midpoint is reference; a single-timestamp feed is all
      reference (the current half is empty).
    - NULLs: the midpoint comes from EVERY row, NULL-valued ones
      included. Callers that drop NULL values filter the OUTPUT on
      their value key; Catalyst pushes that filter below the aggregate
      into the feed side of the cross join, so the min/max subtree
      still sees the whole feed. `anomaly.psi_drift` keeps NULLs (they
      land in its ELSE bin).
    - Shape: the min/max scalar is a lazy broadcast — it runs as the
      build subtree of the same job that scans the feed (identical
      broadcast subtrees are exchange-reused); materializing it eagerly
      only added a sequential driver-blocking job per call (r12
      job-count sweep).
    - Streaming twins pass their ``(keys…, v, us, n)`` state with
      ``us="us"``: the midpoint is only known once the feed is seen,
      so the µs axis must live in state. PARITY SHAPE, NOT PRODUCTION:
      that state is corpus-sized on an unbounded stream and exists to
      prove availableNow == batch against the shared oracle. A
      production monitor uses the watermarked windowed family (state
      bounded by types × days-in-watermark × cents alphabet) or a
      day-bucketed midpoint."""
    from pyspark.sql import functions as F

    stats = df.agg(
        F.expr(f"min({us})").alias("mn"), F.expr(f"max({us})").alias("mx")
    )
    return df.crossJoin(F.broadcast(stats)).withColumn(
        "is_ref", F.expr(us) <= F.expr("(mn + mx) div 2")
    )


def half_counts(
    df: DataFrame,
    keys: list[str],
    value: str,
    prefix: str,
    weight: str | None = None,
    us: str = FEED_US,
) -> DataFrame:
    """Per-(keys…, value) row counts of each `tag_halves` half:
    ``(keys…, value, {prefix}_ref, {prefix}_cur)`` in ONE keyed,
    map-side-combinable aggregate, bounded by the value alphabet, never
    the feed. Feed rows count 1 each; streaming state rows pass their
    count column as ``weight``, so both give the same relation. The
    anomaly codas read ``d_*``, the analytics codas ``c_*``. NULL
    values form their own group: filter the output on ``value`` to
    drop them (see `tag_halves`)."""
    from pyspark.sql import functions as F

    w = F.col(weight) if weight else F.lit(1)
    return (
        tag_halves(df, us)
        .select(*keys, value, "is_ref", w.alias("w"))
        .groupBy(*keys, value)
        .agg(
            F.sum(F.when(F.col("is_ref"), F.col("w")).otherwise(0)).alias(
                f"{prefix}_ref"
            ),
            F.sum(F.when(~F.col("is_ref"), F.col("w")).otherwise(0)).alias(
                f"{prefix}_cur"
            ),
        )
    )
