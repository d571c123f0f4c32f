"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line:
    {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is fully materialized with a noop sink (forces every
exchange/aggregation; nothing is collected to the driver), timed after
a warm-up query has absorbed JVM/codegen startup.

The printed line is deliberately SMALL (< ~1 KB): at 106 headline
queries the full per-query dict outgrew the driver's tail capture and
truncated the r03 artifact mid-line, hiding the headline total. The
final line therefore carries the total plus only the slowest queries;
the complete per-query timing dict goes to BENCH_DETAIL.json next to
this file (written before the line is printed, so the two can never
disagree about which run they describe).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from __spark_entry__ import queries  # noqa: E402
from real_time_database_monitoring_system_spark.session import get_local_spark  # noqa: E402

HEADLINE = [
    "pricing_summary",
    "shipping_priority",
    "local_supplier_volume",
    "three_way_topk",
    "left_join_rollup",
    "downsample_5min",
    "minute_corr_join",
    "lag_delta",
    "latest_per_user",
    "topk_events",
    "slow_sessions",
    "exact_dedup",
    "token_stats",
    "quality_score",
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "knn_bruteforce",
    # round-2 breadth: newest operators, so regressions stay visible
    "asof_join",
    "rollup_cascade",
    "customer_rollup",
    "embedding_near_dups",
    "simhash_pairs",
    "paginate_keyset",
    "tfidf_top_terms",
    "shard_pack",
    "chunk_documents",
    "corpus_stats",
    "pii_redact",
    # round-3 breadth: OLAP subtotals, window long tail, paragraph dedup
    "rollup_totals",
    "window_suite",
    "paragraph_dedup",
    # gap-filled rollup + substring-span dedup (user_day_streaks stays
    # out: ~28 recursion iterations are a fixed ~5s job-scheduling cost
    # at ANY sf — it would dominate the total without measuring data
    # throughput)
    "gapfill_locf",
    "substring_dup_spans",
    # robust anomaly scoring + VARIANT extraction
    "mad_outliers",
    "variant_props_stats",
    # round-3 breadth: event analytics, sketches, gapfill interpolation,
    # time-of-day baselines — visible before promotion (VERDICT r2 #5)
    "funnel_counts",
    "theta_user_overlap",
    "gapfill_interpolate",
    "seasonal_baseline",
    # round-3 additions (batch; streaming twins are equivalence-tested)
    "weighted_sample",
    "sliding_rollup",
    "pmi_pairs",
    "dup_cluster_sizes",
    "equidepth_histogram",
    "active_users_rolling",
    "drift_cusum",
    "label_centroid_similarity",
    "moment_stats",
    "top_session_paths",
    "fk_integrity_audit",
    "multi_grain_rollup",
    "user_entropy",
    "split_leakage",
    "curation_waterfall",
    "scd2_enrich",
    "type_correlation",
    # round-3: clustering + featurization families
    "kmeans_clusters",
    "semantic_dedup",
    "embedding_prototypicality",
    "feature_hash_embed",
    "doc_novelty",
    "bpe_pair_stats",
    # round-3 late additions: range join, fuzzy linkage, containment,
    # smoothing/normalization, profiling
    "containment_pairs",
    "fuzzy_prefix_match",
    "interval_overlap_join",
    "ewma_smooth",
    "minmax_normalize",
    "winsorized_stats",
    "column_profile",
    "skew_profile",
    "temporal_split",
    "pagerank_transitions",
    "freshness_audit",
    "class_balance",
    # round-3 continuation: lexical retrieval, tokenizer application,
    # attribution, compressed-first ANN. NOTE (round 4): the
    # minhash_lsh_pairs / simhash_pairs entries above resolve to the
    # md5 hash family since then (~+1 s at sf0.1 for minhash vs the
    # xxhash64 form r01–r03 timed) — account for that when comparing
    # totals against r01–r03
    "bm25_search",
    "tokenize_to_ids",
    "touch_attribution",
    "knn_projected",
    # wave 6: trend regression, mix divergence, privacy lattice,
    # incremental view maintenance, logistic quality gate
    "trend_slope",
    "source_kl_divergence",
    "k_anonymity_audit",
    "incremental_rollup",
    "quality_logit",
    "data_contract_audit",
    "psi_drift",
    "lateral_topk",
    "dup_rate_by_source",
    "blocking_stats",
    "bigram_logprob",
    "robust_trend",
    "market_share",
    "trigram_langid_eval",
    "period_over_period",
    "rfm_segments",
    "independence_chi2",
    "ab_test_panel",
    "survival_curve",
    "funnel_windowed",
    "user_feature_table",
    "slo_burn",
    "bounce_rate_daily",
    "trend_forecast",
    "dispersion_panel",
    "topk_with_ties",
    "nearest_event_join",
    "health_score",
    # round-5 additions: distribution audits, exact KS drift,
    # autocorrelation, Heaps-law growth, blocked edit-distance join
    "benford_audit",
    "value_concentration",
    "ks_drift",
    "acf_panel",
    "vocab_growth",
    "edit_distance_pairs",
    # round-6 additions: near-dup incremental ingest, 13-gram eval
    # decontamination, LSH threshold curve, embedding drift (streaming
    # twins are equivalence-tested, per the round-3 convention)
    "incremental_dedup_near",
    "decontaminate_13gram",
    "jaccard_threshold_curve",
    "embedding_drift",
    "winnow_overlap_pairs",
    "c4_rule_filter",
    "pca_power_iter",  # promoted after the r6 codegen fix (15.7→2.3 s)
    "sequence_pack",
    "frame_samples",
    "resize_payloads",
    # ann_recall_audit stays out: it re-runs knn_bruteforce + ivf_knn,
    # both already timed individually above
    # round-6 wave 2: association/two-sample statistics + lead-lag
    "cramers_v",
    "mutual_information",
    "welch_ttest",
    "mannwhitney_u",
    "xcorr_panel",
    "cooccurrence_edges",
    # type_triangles stays out: it re-runs the cooccurrence edge core
    # already timed above and adds only a T^2-row join
    "gopher_rule_filter",
    "oov_rate",
    "line_dedup",
    "js_divergence",
    "countmin_types",
    # round-7 additions (streaming twins equivalence-tested; the
    # composition entries incremental_dedup_near_transitive and
    # contamination_by_source stay out — they re-run the
    # incremental_dedup_near / decontaminate_13gram cores already
    # timed above)
    "gopher_repetition",
    "gopher_line_repetition",
    "tokenizer_fertility",
    "stratified_sample_exact",
    "pack_efficiency",
    "seqlen_histogram",
    "vocab_coverage_curve",
    "boilerplate_lines",
    "char_entropy",
    "lang_mismatch_audit",
    "cross_source_dup_matrix",
    "payload_dedup",
    "split_embedding_leakage",
    "distinct_ngram_ratio",
    "pii_density_by_source",
    "simhash_distance_hist",
    "sample_skew_audit",
    "cdc_chunk_dedup",
    "bloom_fpr_audit",
    "template_prefix_groups",
    "negative_samples",
    # round-8 additions (streaming_windowed_psi equivalence-tested
    # against windowed_psi, stays out per the streaming rule)
    "value_percentiles_interp",
    "windowed_psi",
    "doc_perplexity_outliers",
    "quality_calibration_curve",
    "winnow_longest_run",
    "embedding_norm_audit",
    "mix_rebalance_plan",
    "temporal_split_kll",
    "encoding_audit",
    "intra_doc_line_dedup",
    "apdex_score",
    "gap_histogram",
    "dup_degree_stats",
    # round-8 fourth wave (streaming twins stay out per the rule)
    "burstiness_panel",
    "doc_length_percentiles",
    "vocab_overlap_matrix",
    "normalized_dedup",
    # round-8 sixth wave (streaming twin equivalence-tested)
    "wasserstein_drift",
    "cliffs_delta",
    "jackknife_variance",
    "spearman_corr",
    "vocab_richness",
    "transition_entropy",
    # round-9 waves (streaming twins stay out per the rule)
    "kendall_tau",
    "windowed_wasserstein",
    "windowed_ks",
    "len_quality_histogram",
    "dedup_agreement_kappa",
    "winnow_chain_lengths",
    "embedding_near_dups_prod",
    "kruskal_wallis",
    "mann_kendall_trend",
    "runs_test",
    "dedup_quality_shift",
    "minhash_jaccard_calibration",
    "quantile_drift",
    "brown_forsythe",
    "anova_oneway",
    "mood_median_test",
    "top_dup_ngrams",
    "dow_activity_gof",
    "top_dup_ngrams_by_source",
    # round-10 waves (streaming twins stay out per the rule;
    # dedup_agreement_by_source stays out — it re-runs the
    # dedup_agreement_kappa dual-pass core already timed above)
    "anderson_darling",
    "cramer_von_mises",
    "kuiper_drift",
    "hodges_lehmann",
    "windowed_anderson_darling",
    "windowed_cliffs_delta",
    "seasonal_mann_kendall",
    "jonckheere_terpstra",
    "ansari_bradley",
    "boilerplate_mass_by_source",
    "windowed_cramer_von_mises",
    "windowed_kuiper",
    "mood_scale_test",
    # round-11 waves
    "lepage_test",
    "windowed_ks_by_cohort",
    "windowed_wasserstein_by_cohort",
    "pettitt_test",
    "page_hinkley",
    "windowed_lepage",
    "friedman_test",
    # pettitt_by_cohort is IN (its cohort-keyed reduction is its own
    # cost); cohort_drift_summary stays out — it re-runs the
    # windowed_wasserstein_by_cohort core already timed above
    "pettitt_by_cohort",
    "page_hinkley_by_cohort",
    "quade_test",
    "source_length_drift",
    # round-12: the cohort ingest-column path — at sf0.1 the lazy
    # projection costs the same parse as windowed_ks_by_cohort (the
    # win is materialization, measured at 100M in SCALE.md); timed so
    # the fast-path plumbing has a per-round perf record
    "windowed_ks_by_cohort_enriched",
]


def host_canary() -> dict[str, float]:
    """Single-thread CPU canaries, timed before Spark spins up.

    Emitted inside every BENCH artifact so cross-round comparisons are
    machine-normalizable without NOTES.md archaeology (the r9 lesson:
    a uniform 1.5× bench band was host state, provable only because a
    canary happened to be hand-recorded). The r9 hand-run numbers
    (md5 0.195 s / int-mul 2.05 s) used ad-hoc loop bodies and are NOT
    directly comparable; THIS implementation is canonical from r10 on
    — compare future rounds' canary fields against r10's. Each canary
    is the min of 3 runs (min, not mean — noisy-neighbor stalls only
    ever add time)."""
    import hashlib

    def md5_chain() -> float:
        t0 = time.perf_counter()
        h = b"seed"
        for _ in range(400_000):
            h = hashlib.md5(h).digest()
        return time.perf_counter() - t0

    def int_mul() -> float:
        t0 = time.perf_counter()
        acc = 1
        for i in range(1, 20_000_001):
            acc = (acc * i) & 0xFFFFFFFF
        return time.perf_counter() - t0

    return {
        "md5_chain_400k_sec": round(min(md5_chain() for _ in range(3)), 3),
        "int_mul_20m_sec": round(min(int_mul() for _ in range(3)), 3),
    }


def spark_canary(spark) -> dict[str, float]:
    """Fixed reference SPARK jobs, timed inside the live session and
    emitted next to the CPU canaries (VERDICT r10 task 1: the r10
    artifact proved single-thread CPU canaries do NOT track Spark
    query time — int-mul read 2.3x FASTER than r9 while queries sat
    1.6x slower than r8). These two jobs exercise the layers the
    headline queries actually ride — codegen'd expression eval,
    hash-agg with map-side combine, a real exchange, sort-merge join —
    from pure literals (spark.range), so they are byte-identical
    across rounds and host-state is the only free variable. Future
    cross-round bands divide out against these fields; if queries move
    and the Spark canary doesn't, suspect the code, not the host.
    Min of 3 (stalls only add time). Excluded from the headline."""
    from pyspark.sql import functions as F

    def agg_job() -> float:
        t0 = time.perf_counter()
        (
            spark.range(10_000_000)
            .select(
                (F.col("id") % 4096).alias("k"),
                (F.col("id") * 2654435761 % 1000003).alias("v"),
            )
            .groupBy("k")
            .agg(F.sum("v").alias("s"), F.count("*").alias("c"), F.avg("v").alias("a"))
            .write.format("noop").mode("overwrite").save()
        )
        return time.perf_counter() - t0

    def join_job() -> float:
        t0 = time.perf_counter()
        left = spark.range(3_000_000).select(
            (F.col("id") % 1_000_000).alias("k"), F.col("id").alias("lv")
        )
        right = spark.range(3_000_000).select(
            ((F.col("id") * 7) % 1_000_000).alias("k"), F.col("id").alias("rv")
        )
        (
            left.hint("merge")
            .join(right, "k")
            .groupBy((F.col("k") % 256).alias("b"))
            .agg(F.count("*").alias("c"), F.sum(F.col("lv") + F.col("rv")).alias("s"))
            .write.format("noop").mode("overwrite").save()
        )
        return time.perf_counter() - t0

    return {
        "spark_agg_10m_sec": round(min(agg_job() for _ in range(3)), 3),
        "spark_join_3m_sec": round(min(join_job() for _ in range(3)), 3),
    }


def vs_prev(repo: str, timings: dict[str, float], canary: dict[str, float],
            this_round: int) -> dict | None:
    """Mechanical cross-round comparison (VERDICT r11 task 2): the
    common-query-set ratio vs the previous round's archived detail
    artifact, reported BOTH raw and divided by the Spark-canary factor
    (the two fixed-literal reference jobs added in r11). The canary
    runs in the same session from pure literals, so host-state is its
    only free variable — if queries move and the canary doesn't,
    suspect the code, not the host. Returns None when no previous
    artifact exists (or shares no queries); when the previous artifact
    predates the Spark canary (r10 and earlier) the block still
    reports the RAW ratio, just without the canary-normalized fields."""
    prev_path = os.path.join(repo, f"BENCH_DETAIL_r{this_round - 1:02d}.json")
    if not os.path.exists(prev_path):
        return None
    with open(prev_path) as fh:
        prev = json.load(fh)
    prev_q = prev.get("queries", {})
    common = sorted(set(prev_q) & set(timings))
    if not common:
        return None
    cur_total = sum(timings[n] for n in common)
    prev_total = sum(prev_q[n] for n in common)
    if prev_total <= 0:
        return None
    raw = cur_total / prev_total
    out = {
        "prev_round": this_round - 1,
        "common_n": len(common),
        "common_sec": round(cur_total, 3),
        "prev_common_sec": round(prev_total, 3),
        "raw_ratio": round(raw, 4),
    }
    pc = prev.get("canary", {})
    prev_spark = pc.get("spark_agg_10m_sec", 0) + pc.get("spark_join_3m_sec", 0)
    cur_spark = canary.get("spark_agg_10m_sec", 0) + canary.get(
        "spark_join_3m_sec", 0
    )
    if prev_spark > 0 and cur_spark > 0:
        factor = cur_spark / prev_spark
        out["spark_canary_factor"] = round(factor, 4)
        out["normalized_ratio"] = round(raw / factor, 4)
        # sampling-scheme provenance for the factor's numerator/
        # denominator (r11: single early sample; r12: min of early+
        # late; r13+: min over 4 interleaved samples) — the scheme
        # changed across rounds, so cross-round normalized ratios
        # carry that asymmetry until both sides are r13+.
        out["canary_sampling"] = "r13+: per-field min over 4 interleaved samples"
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    canary = host_canary()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0
    spark = get_local_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()

    # warm-up: JVM, codegen, parquet footers
    qs["session_summary"](spark, sf_dir).write.format("noop").mode("overwrite").save()

    # Spark-side canary sampling is INTERLEAVED with the passes
    # (VERDICT r12 task 5): one sample after warm-up and one after
    # each full pass, per-field min kept for cross-round comparison
    # and the FULL sample list archived in BENCH_DETAIL. The r12
    # scheme (one early sample + one late, min of two) left the r11/
    # r12 canary asymmetric (r11 artifacts hold a single early
    # sample); from r13 on the canary rides the same stall-wave
    # timeline as the interleaved query passes.
    canary_samples: list[dict[str, float]] = [spark_canary(spark)]

    # Per-query min over INTERLEAVED full passes (not back-to-back
    # repeats): this host shows wave-shaped noisy-neighbor stalls
    # lasting tens of seconds (identical runs measured 2s vs 14s
    # minutes apart), and consecutive repeats all land inside one wave.
    # Interleaving decorrelates the passes, so each query gets at least
    # one quiet measurement. Pass 1 also serves as codegen/JIT warm-up.
    timings: dict[str, float] = {name: float("inf") for name in HEADLINE}
    for _ in range(3):
        for name in HEADLINE:
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            timings[name] = min(timings[name], time.perf_counter() - t0)
        canary_samples.append(spark_canary(spark))
    timings = {name: round(t, 3) for name, t in timings.items()}

    for sample in canary_samples:
        for k, v in sample.items():
            canary[k] = min(canary.get(k, v), v)

    total = round(sum(timings.values()), 3)
    repo = os.path.dirname(os.path.abspath(__file__))
    payload = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "n_queries": len(timings),
        "method": "min over 3 interleaved full passes, noop sink",
        "canary": canary,
        # the raw interleaved samples (1 post-warm-up + 1 per pass),
        # so future rounds can audit the normalizer's variance instead
        # of trusting one min (VERDICT r12 task 5)
        "canary_samples": canary_samples,
        "canary_sampling": "per-field min over 4 interleaved samples (r13+)",
    }
    # BENCH_DETAIL.json is mutable (latest run); a per-round archive
    # copy keeps cross-round per-query comparisons out of git
    # archaeology. The round number is 1 + the highest BENCH_r*.json
    # the driver has recorded (the driver writes r{N} AFTER the round's
    # bench run, so at run time max-existing is N-1).
    rounds = [
        int(m.group(1))
        for f in os.listdir(repo)
        if (m := re.match(r"BENCH_r(\d+)\.json$", f))
    ]
    this_round = (max(rounds) if rounds else 0) + 1
    cmp_block = vs_prev(repo, timings, canary, this_round)
    if cmp_block is not None:
        payload["vs_prev"] = cmp_block
    for detail_path in (
        os.path.join(repo, "BENCH_DETAIL.json"),
        os.path.join(repo, f"BENCH_DETAIL_r{this_round:02d}.json"),
    ):
        with open(detail_path, "w") as fh:
            json.dump(payload, fh, indent=1)
            fh.write("\n")
    # short final line: total + slowest 15 only, so the driver's tail
    # capture always sees the headline number intact
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:15])
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_runtime",
                "value": total,
                "unit": "sec",
                "queries": slowest,
                "sf": sf,
                "n_queries": len(timings),
                "detail_file": "BENCH_DETAIL.json",
                "canary": canary,
                **({"vs_prev": cmp_block} if cmp_block is not None else {}),
            }
        )
    )


if __name__ == "__main__":
    main()
