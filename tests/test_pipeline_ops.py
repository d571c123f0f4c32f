"""Invariant tests for the training-data pipeline operators
(operators/pipeline.py). Oracle parity is covered for every entry by
test_oracle_parity; these pin the semantic properties parity alone
can't express (determinism, quotas, budget bounds, plan shape).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from real_time_database_monitoring_system_spark.operators import pipeline
from real_time_database_monitoring_system_spark.plans import checks
from real_time_database_monitoring_system_spark.sources.registry import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    # unpersist on teardown: a lingering cache entry substitutes
    # InMemoryTableScan for the parquet scan in later plan-shape tests
    df = load_table(spark, sf_dir, "documents").cache()
    yield df
    df.unpersist()


def test_hash_sample_deterministic_and_nested(spark, docs):
    s10 = pipeline.hash_sample(docs, pct=10)
    again = set(r.doc_id for r in pipeline.hash_sample(docs, pct=10).collect())
    ids10 = set(r.doc_id for r in s10.collect())
    assert ids10 == again, "same input must sample identically"
    ids20 = set(r.doc_id for r in pipeline.hash_sample(docs, pct=20).collect())
    assert ids10 <= ids20, "buckets nest: a 10% sample is a subset of the 20% sample"
    n = docs.count()
    assert 0 < len(ids20) < n


def test_hash_sample_is_map_side_only(spark, docs):
    # sampling must not shuffle: filter + project over the scan
    df = pipeline.hash_sample(docs, pct=10).drop("doc_id")  # orderBy is display-only
    plan = checks.explain_str(pipeline.hash_sample(docs, pct=10))
    pre_sort = plan.split("Sort")[0] if "Sort" in plan else plan
    assert "Exchange hashpartitioning" not in pre_sort


def test_stratified_sample_quota(spark, docs):
    out = pipeline.stratified_sample(docs, n_per_source=3).collect()
    per_src: dict[str, int] = {}
    for r in out:
        per_src[r.source] = per_src.get(r.source, 0) + 1
    src_sizes = {r["source"]: r["n"] for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
    for src, n in per_src.items():
        assert n == min(3, src_sizes[src])
    assert set(per_src) == set(src_sizes), "every source must be represented"


def test_shard_pack_budget_bound(spark, docs):
    budget = 500
    out = pipeline.shard_pack(docs, budget_tokens=budget)
    per_shard = (
        out.groupBy("source", "shard_id")
        .agg(F.sum("n_tokens").alias("tok"), F.max("n_tokens").alias("mx"))
        .collect()
    )
    for r in per_shard:
        # greedy packing overshoots by at most one document
        assert r.tok < budget + r.mx
    # shard ids start at 0 and are dense per source
    ids = (
        out.groupBy("source")
        .agg(F.min("shard_id").alias("lo"), F.max("shard_id").alias("hi"), F.countDistinct("shard_id").alias("n"))
        .collect()
    )
    for r in ids:
        assert r.lo == 0 and r.n == r.hi + 1


def test_shard_pack_no_global_sort(spark, docs):
    plan = checks.explain_str(pipeline.shard_pack(docs))
    # the running-sum window partitions by source; rangepartitioning may
    # appear only for the final display orderBy, never under the Window
    window_part = plan.split("Window")[-1]
    assert "Exchange rangepartitioning" not in window_part


def test_tfidf_topk_shape(spark, docs):
    out = pipeline.tfidf_top_terms(docs, k=3)
    rows = out.collect()
    assert all(1 <= r.rn <= 3 for r in rows)
    seen = set()
    for r in rows:
        assert (r.doc_id, r.term) not in seen
        seen.add((r.doc_id, r.term))
    # idf sanity: a term in every doc scores 0 and cannot out-rank others
    n_docs = docs.filter(F.length("text") > 0).count()
    assert out.filter(F.col("tfidf") < 0).count() == 0 or n_docs > 0


def test_quality_quantile_filter_keeps_at_least_half(spark, docs):
    kept = pipeline.quality_quantile_filter(docs)
    kept_per_src = {r["source"]: r["n"] for r in kept.groupBy("source").agg(F.count("*").alias("n")).collect()}
    from real_time_database_monitoring_system_spark.operators.text import quality_score

    scored = quality_score(docs).join(docs.select("doc_id", "source"), "doc_id")
    all_per_src = {r["source"]: r["n"] for r in scored.groupBy("source").agg(F.count("*").alias("n")).collect()}
    for src, total in all_per_src.items():
        assert kept_per_src.get(src, 0) >= total // 2


def test_quality_quantile_filter_approx_close_to_exact(spark, docs):
    exact_ids = set(r.doc_id for r in pipeline.quality_quantile_filter(docs).collect())
    approx_ids = set(r.doc_id for r in pipeline.quality_quantile_filter(docs, exact=False).collect())
    # the sketch floor may shift a few boundary docs, never the bulk
    sym = len(exact_ids ^ approx_ids)
    assert sym <= max(5, len(exact_ids) // 10)


def test_shard_pack_matches_python_reference(spark):
    """Seeded randomized cross-check: the distributed running-sum
    packing must equal the obvious sequential packer."""
    import random

    rng = random.Random(42)
    rows = []
    doc_id = 0
    for src in ("a", "b", "c"):
        for _ in range(rng.randint(5, 40)):
            n_tok = rng.randint(0, 900)
            rows.append((doc_id, src, "w " * n_tok))
            doc_id += 1
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        (r.doc_id): (r.n_tokens, r.shard_id)
        for r in pipeline.shard_pack(df, budget_tokens=500).collect()
    }
    # sequential reference
    by_src: dict[str, list[tuple[int, int]]] = {}
    for did, src, text in rows:
        by_src.setdefault(src, []).append((did, len(text.split())))
    for src, docs_ in by_src.items():
        cum = 0
        for did, n_tok in sorted(docs_):
            assert got[did] == (n_tok, cum // 500), f"doc {did}"
            cum += n_tok


def test_clean_text_strips_urls_emails_tags(spark):
    from real_time_database_monitoring_system_spark.operators.text import clean_text

    df = spark.createDataFrame(
        [
            (1, "see https://example.com/x?y=1 now"),
            (2, "mail bob.smith+tag@mail.example.org today"),
            (3, "<div class='x'>hello</div>   world"),
            (4, "plain    text \t stays"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.clean for r in clean_text(df).collect()}
    assert got[1] == "see now"
    assert got[2] == "mail today"
    assert got[3] == "hello world"
    assert got[4] == "plain text stays"


def test_repetition_score_flags_degenerate_docs(spark):
    from real_time_database_monitoring_system_spark.operators.text import repetition_score

    df = spark.createDataFrame(
        [(1, "spam spam spam spam spam"), (2, "a quick brown fox jumps high")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in repetition_score(df).collect()}
    assert got[1].rep_ratio == 1.0  # every bigram is "spam spam"
    assert got[2].rep_ratio < 0.5


def test_operators_on_empty_and_singleton_inputs(spark):
    """Empty and single-document corpora must flow through every
    documents-shaped operator without errors — the failure mode is
    windows/aggregations/clustering over nothing."""
    from real_time_database_monitoring_system_spark.operators import dedup, text

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    empty = spark.createDataFrame([], schema)
    one = spark.createDataFrame([(1, "alpha beta gamma alpha beta", "en", "s0", 27)], schema)

    for df, n_docs in ((empty, 0), (one, 1)):
        assert pipeline.hash_sample(df, pct=100).count() == n_docs
        assert pipeline.stratified_sample(df).count() == n_docs
        assert pipeline.shard_pack(df).count() == n_docs
        assert pipeline.vocab_topk(df).count() == (0 if n_docs == 0 else 3)
        assert pipeline.tfidf_top_terms(df).count() <= 3 * n_docs
        assert pipeline.quality_quantile_filter(df).count() == n_docs
        assert text.token_stats(df).count() == n_docs
        assert text.quality_score(df).count() == n_docs
        assert text.lang_id(df).count() == n_docs
        assert text.clean_text(df).count() == n_docs
        assert text.repetition_score(df).count() == n_docs
        assert text.fingerprint(df).count() == n_docs
        assert dedup.exact_dedup(df).count() == n_docs
        assert dedup.ngram_jaccard_pairs(df).count() == 0
        assert dedup.simhash_pairs_portable(df).count() == 0
        # keeper_list with no duplicate evidence: everyone keeps themselves
        keepers = dedup.keeper_list(df, dedup.ngram_jaccard_pairs(df, threshold=1.1)).collect()
        assert len(keepers) == n_docs and all(r.is_keeper for r in keepers)


def test_zero_token_documents_survive_text_ops(spark):
    from real_time_database_monitoring_system_spark.operators import text

    df = spark.createDataFrame(
        [(1, "", "en", "s0", 0), (2, "   \t  ", "en", "s0", 6), (3, "real words here", "en", "s0", 15)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    ts = {r.doc_id: r for r in text.token_stats(df).collect()}
    assert set(ts) == {1, 2, 3}
    assert ts[1].n_tokens == 0 and ts[2].n_tokens == 0 and ts[3].n_tokens == 3
    assert ts[1].mean_token_len == 0.0
    li = {r.doc_id: r.lang_guess for r in text.lang_id(df).collect()}
    assert li[1] == "unknown" and li[2] == "unknown"
    # quality_score documents its n_tokens > 0 filter
    assert {r.doc_id for r in text.quality_score(df).collect()} == {3}


def test_pii_redact_counts_and_placeholders(spark):
    from real_time_database_monitoring_system_spark.operators.text import pii_redact

    df = spark.createDataFrame(
        [
            (1, "mail bob@example.com and alice@test.org ok"),
            (2, "server at 192.168.1.77 dialed 555-867-5309"),
            (3, "no pii at all here"),
            (4, "dotted phone 555.867.5309 stays distinct from 10.0.0.1"),
        ],
        "doc_id: bigint, text: string",
    )
    got = {r.doc_id: r for r in pii_redact(df).collect()}
    assert (got[1].n_emails, got[1].n_ips, got[1].n_phones) == (2, 0, 0)
    assert got[1].redacted == "mail <EMAIL> and <EMAIL> ok"
    assert (got[2].n_ips, got[2].n_phones) == (1, 1)
    assert got[2].redacted == "server at <IP> dialed <PHONE>"
    assert got[3].n_redactions == 0 and got[3].redacted == "no pii at all here"
    # the 3-group dotted phone must not be claimed by the 4-group IP pattern
    assert (got[4].n_ips, got[4].n_phones) == (1, 1)
    assert got[4].redacted == "dotted phone <PHONE> stays distinct from <IP>"


def test_corpus_stats_exact_on_fixture(spark):
    from real_time_database_monitoring_system_spark.operators.pipeline import corpus_stats

    df = spark.createDataFrame(
        [
            (1, "a b c", "en", "s1"),
            (2, "a b c", "fr", "s1"),   # duplicate content, second lang
            (3, "d e", "en", "s2"),
        ],
        "doc_id: bigint, text: string, lang: string, source: string",
    )
    got = {r.source: r for r in corpus_stats(df).collect()}
    s1, s2 = got["s1"], got["s2"]
    assert (s1.n_docs, s1.n_langs, s1.n_distinct_texts) == (2, 2, 1)
    assert (s1.total_tokens, s1.total_chars) == (6, 10)
    assert (s2.n_docs, s2.n_langs, s2.n_distinct_texts) == (1, 1, 1)
    assert abs(s1.token_share - 0.75) < 1e-9 and abs(s2.token_share - 0.25) < 1e-9
    assert abs(s1.mean_doc_chars - 5.0) < 1e-9


def test_chunk_documents_windows_and_tail(spark):
    df = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(10))),  # 10 toks: starts 0,4,8
            (2, "only three tokens here"),              # 4 toks: one full chunk... no, starts 0
            (3, ""),                                    # zero tokens -> no chunks
            (4, "solo"),                                # 1 token -> one 1-token chunk
        ],
        "doc_id: bigint, text: string",
    )
    got = pipeline.chunk_documents(df, window=6, stride=4).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert sorted(by_doc) == [1, 2, 4]
    c1 = by_doc[1]
    assert [(r.chunk_id, r.start, r.chunk_tokens) for r in c1] == [
        (0, 0, 6), (1, 4, 6), (2, 8, 2)
    ]
    assert c1[0].chunk_text == "t0 t1 t2 t3 t4 t5"
    assert c1[1].chunk_text == "t4 t5 t6 t7 t8 t9"  # overlap = window - stride
    assert c1[2].chunk_text == "t8 t9"              # short tail kept
    assert by_doc[2][0].chunk_tokens == 4 and len(by_doc[2]) == 1
    assert by_doc[4][0].chunk_text == "solo"


def test_chunk_documents_exact_multiple_no_empty_tail(spark):
    # 8 tokens, stride 4: starts 0 and 4 only — never an empty chunk at 8
    df = spark.createDataFrame(
        [(1, " ".join("abcdefgh"))], "doc_id: bigint, text: string"
    )
    rows = pipeline.chunk_documents(df, window=4, stride=4).collect()
    assert [(r.start, r.chunk_tokens) for r in rows] == [(0, 4), (4, 4)]
    assert all(r.chunk_tokens > 0 for r in rows)


def test_chunk_documents_rejects_bad_params(spark):
    df = spark.createDataFrame([(1, "a b")], "doc_id: bigint, text: string")
    with pytest.raises(ValueError):
        pipeline.chunk_documents(df, window=0, stride=4)
    with pytest.raises(ValueError):
        pipeline.chunk_documents(df, window=4, stride=0)


def test_unigram_logprob_orders_typical_above_rare(spark):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("source", StringType()),
        ]
    )
    # "common common common" tokens dominate the corpus; doc 3 is all
    # hapaxes and must score strictly lower (more surprising)
    docs = spark.createDataFrame(
        [
            (1, "common common common", "a"),
            (2, "common common rare", "a"),
            (3, "uniq1 uniq2 uniq3", "a"),
        ],
        schema,
    )
    out = {r.doc_id: r for r in pipeline.unigram_logprob_score(docs).collect()}
    assert out[1].avg_logprob > out[2].avg_logprob > out[3].avg_logprob
    assert out[1].n_tokens == 3
    # rerun must be bit-identical (decimal accumulation, no RNG)
    again = {r.doc_id: r for r in pipeline.unigram_logprob_score(docs).collect()}
    assert all(out[k].avg_logprob == again[k].avg_logprob for k in out)


def test_with_observation_rides_the_plan(spark, docs):
    """Observed metrics must come back from the SAME job (no extra
    action) and reflect the post-filter row flow."""
    from real_time_database_monitoring_system_spark.operators.util import (
        with_observation,
    )

    filtered = docs.filter(F.col("n_chars") > 100)
    observed, obs = with_observation(
        filtered,
        "stage_health",
        F.count(F.lit(1)).alias("rows_out"),
        F.count(F.when(F.col("lang").isNull(), 1)).alias("null_lang"),
        F.sum("n_chars").alias("chars_out"),
    )
    observed.write.format("noop").mode("overwrite").save()
    metrics = obs.get
    expected = filtered.count()
    assert metrics["rows_out"] == expected
    assert metrics["null_lang"] == 0
    assert metrics["chars_out"] > 100 * expected


def test_curate_corpus_invariants(spark, sf_dir):
    """The composed chain must be deterministic across runs, keep no
    duplicate cleaned content, respect every source's quality floor,
    and agree with its own stage operators on the survivor set."""
    from real_time_database_monitoring_system_spark.operators.pipeline import (
        curate_corpus,
    )
    from real_time_database_monitoring_system_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    a = curate_corpus(docs).collect()
    b = curate_corpus(docs).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    assert len(a) > 0
    for r in a:
        assert r.quality >= r.src_median
        assert r.split in ("train", "val", "test")
    # survivors carry unique cleaned content by construction
    ids = [r.doc_id for r in a]
    assert len(ids) == len(set(ids))


def test_weighted_sample_biases_toward_long_docs(spark, sf_dir):
    """The A-ES keys must actually weight by length: the sampled docs'
    mean n_chars should exceed the corpus mean (deterministic given
    the fixed corpus), and the result must be exactly k rows with
    unique doc_ids."""
    from real_time_database_monitoring_system_spark.operators import pipeline
    from real_time_database_monitoring_system_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    k = 50
    sample = pipeline.weighted_sample(docs, k=k).collect()
    assert len(sample) == k
    assert len({r.doc_id for r in sample}) == k
    corpus_mean = docs.agg(F.avg("n_chars")).first()[0]
    sample_mean = sum(r.n_chars for r in sample) / k
    assert sample_mean > corpus_mean, (
        f"length-weighted sample mean {sample_mean} not above corpus mean {corpus_mean}"
    )


def test_bm25_ranks_planted_relevant_doc_first(spark):
    """A document repeating every query term must outrank one sharing
    a single term, and the query doc never retrieves itself. Corpus
    padded with unrelated docs so idf is informative."""
    rows = [(0, "s0", "zeta omega kappa")]
    rows.append((1, "s0", "zeta omega kappa zeta omega kappa zeta"))
    rows.append((2, "s0", "zeta filler filler filler filler filler"))
    rows += [(i, "s0", "alpha beta gamma delta epsilon") for i in range(3, 20)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = pipeline.bm25_search(docs, n_queries=1, query_len=3, k=5).collect()
    assert all(r.query_id == 0 for r in out)
    assert all(r.doc_id != 0 for r in out), "query doc retrieved itself"
    ranked = [r.doc_id for r in out]
    assert ranked[0] == 1, f"all-terms doc not first: {ranked}"
    assert 2 in ranked and ranked.index(2) > 0
    assert all(r.score > 0 for r in out)


def test_bm25_rejects_bad_params(spark):
    docs = spark.createDataFrame(
        [(0, "s0", "a b c")], "doc_id long, source string, text string"
    )
    for kw in ({"n_queries": 0}, {"query_len": 0}, {"k": -1}):
        with pytest.raises(ValueError):
            pipeline.bm25_search(docs, **kw)


def test_source_quantile_normalize_buckets(spark, docs):
    """Buckets are per-source, monotone in the feature, and roughly
    balanced (exact order-statistic deciles: each bucket holds ~n/10 of
    its source)."""
    out = pipeline.source_quantile_normalize(docs).collect()
    assert all(0 <= r.norm_bucket <= 9 for r in out)
    by_source = {}
    for r in out:
        by_source.setdefault(r.source, []).append(r)
    for src, rows in by_source.items():
        rows.sort(key=lambda r: (r.n_chars, r.doc_id))
        buckets = [r.norm_bucket for r in rows]
        assert buckets == sorted(buckets), f"non-monotone in {src}"
        n = len(rows)
        from collections import Counter

        sizes = Counter(buckets)
        # percentile_disc deciles: no bucket can exceed ~n/10 + ties
        assert max(sizes.values()) <= n // 10 + max(
            sum(1 for r in rows if r.n_chars == v)
            for v in {r.n_chars for r in rows}
        ), f"bucket blowout in {src}: {sizes}"
    with pytest.raises(ValueError):
        pipeline.source_quantile_normalize(docs, buckets=1)


def test_tokenize_to_ids_roundtrip_semantics(spark):
    """Ids are frequency-ranked (most frequent term = id 1), OOV maps
    to 0, arrays preserve token order, and n_tokens == len(token_ids)."""
    rows = [
        (1, "s0", "the the the cat sat"),
        (2, "s0", "the cat"),
        (3, "s0", "dog"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r.doc_id: r for r in pipeline.tokenize_to_ids(docs, vocab_size=2).collect()}
    # counts: the=4, cat=2, sat=1, dog=1 → vocab: the=1, cat=2; rest OOV
    assert out[1].token_ids == [1, 1, 1, 2, 0]
    assert out[2].token_ids == [1, 2]
    assert out[3].token_ids == [0]
    assert all(r.n_tokens == len(r.token_ids) for r in out.values())
    with pytest.raises(ValueError):
        pipeline.tokenize_to_ids(docs, vocab_size=0)


def test_sequence_pack_contiguous_and_boundary_spans(spark):
    """The packed stream must be gapless (offset = previous offset +
    previous length within the (source, doc_id) order), EOS counted,
    and span arithmetic exact at a sequence boundary."""
    from real_time_database_monitoring_system_spark.operators.pipeline import (
        sequence_pack,
    )

    docs = spark.createDataFrame(
        [
            (1, " ".join(["a"] * 7), "en", "s1", 13),   # 8 with EOS
            (2, " ".join(["b"] * 3), "en", "s1", 5),    # 4 with EOS
            (3, " ".join(["c"] * 9), "en", "s2", 17),   # 10 with EOS
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = sequence_pack(docs, seq_len=10).collect()
    by_id = {r.doc_id: r for r in rows}
    # stream order: s1 docs then s2; offsets gapless
    assert by_id[1].stream_offset == 0 and by_id[1].n_tokens == 8
    assert by_id[2].stream_offset == 8
    assert by_id[3].stream_offset == 12
    # doc 2 occupies [8, 12) → crosses the cut at 10 → spans seqs 0-1
    assert (by_id[2].seq_first, by_id[2].seq_last, by_id[2].n_seqs) == (0, 1, 2)
    # doc 3 occupies [12, 22) → spans seqs 1-2
    assert (by_id[3].seq_first, by_id[3].seq_last, by_id[3].n_seqs) == (1, 2, 2)
    # total stream length = sum of per-doc lengths
    assert sum(r.n_tokens for r in rows) == 22
