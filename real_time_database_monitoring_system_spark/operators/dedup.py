"""Deduplication operators over `documents`: exact, blocked n-gram
Jaccard, MinHash+LSH, SimHash.

Scale design (the point of these operators is 100 TB corpora):

- Exact dedup is a hash-groupBy — one shuffle on the 128-bit digest,
  partial aggregation map-side.
- Pairwise Jaccard is never global: candidates are generated by
  *blocking* (here: source; LSH bands in the MinHash variant) so the
  quadratic step runs only within small buckets.
- MinHash signatures are computed by explode→min-aggregate: the explode
  is map-side, the 32 min() partial-aggregate combine before the single
  shuffle on doc_id. Band keys then bucket-join docs; candidate pairs
  are verified with exact Jaccard on the (tiny) candidate set only.
- SimHash reduces each doc to one 60-bit int; near-dup pairs =
  bit_count(xor) ≤ r within blocks. All bit math is JVM-side.
- Both sketches hash with md5 prefixes, so every signature is
  bit-reproducible in any SQL engine (the DuckDB oracles do).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .util import materialize as _materialize
from .util import spread as _spread

N_HASHES = 32
BANDS = 8  # 8 bands x 4 rows


def _word_shingles(col: Column, k: int = 3, distinct: bool = True) -> Column:
    """Word k-shingles of a text column (distinct by default; pass
    ``distinct=False`` to keep per-occurrence multiplicity, as the
    boilerplate reports need honest occurrence counts).

    Implemented as zip_with over shifted slices — O(tokens) per row.
    (An index-based ``transform(sequence(...), i -> element_at(toks,
    i+j))`` re-evaluates the tokenization subtree per element, which is
    quadratic per document and dominated the corpus-scale profile.)
    zip_with pads the shorter (shifted) array with NULLs; concat
    propagates them, and the final filter drops the short tail
    shingles, leaving exactly n-k+1 before dedup.
    """
    toks = F.filter(F.split(col, r"\s+"), lambda x: x != "")
    out = toks
    for j in range(1, k):
        shifted = F.slice(toks, j + 1, 1 << 30)
        out = F.zip_with(out, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    out = F.filter(out, lambda x: x.isNotNull())
    return F.array_distinct(out) if distinct else out


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Exact dedup by content digest: md5(normalized text) groupBy,
    keep the minimum doc_id as representative, count duplicates."""
    norm = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    return (
        _spread(documents, "doc_id", cap=4 * documents.rdd.getNumPartitions()).select(F.md5(norm.cast("binary")).alias("content_fp"), "doc_id")
        .groupBy("content_fp")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_copies"))
        .orderBy("keeper_doc_id")
    )


def dup_cluster_sizes(documents: DataFrame) -> DataFrame:
    """Duplicate-cluster size distribution: how many exact-duplicate
    clusters have 1, 2, 3, … copies, with the doc and wasted-copy mass
    per size. The curation dashboard's one-look answer to "how
    duplicated is this corpus" — and the sanity gauge for near-dup
    thresholds (a fat tail here predicts fat candidate lists there).

    Two cheap aggregations after the digest groupBy of `exact_dedup`:
    cluster → size (one shuffle on the 128-bit digest, the same
    exchange exact_dedup already pays), then size → counts over the
    (tiny) cluster table. Wasted copies = (size − 1) per cluster,
    summed — the rows a perfect dedup would remove."""
    norm = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    clusters = (
        _spread(documents, "doc_id", cap=4 * documents.rdd.getNumPartitions())
        .select(F.md5(norm.cast("binary")).alias("content_fp"))
        .groupBy("content_fp")
        .agg(F.count("*").alias("cluster_size"))
    )
    return (
        clusters.groupBy("cluster_size")
        .agg(
            F.count("*").alias("n_clusters"),
            F.sum("cluster_size").alias("n_docs"),
            F.sum(F.col("cluster_size") - 1).alias("n_wasted_copies"),
        )
        .orderBy("cluster_size")
    )


def _shingled(documents: DataFrame, shingle_k: int) -> DataFrame:
    """(doc_id, source, shingles) for docs with ≥ k tokens.

    Every documents-relation spread in this module caps its width at
    4× the input's split count (`util.spread(cap=...)`): a small input
    fanned to full local width pays per-task codegen/scheduling setup
    that dwarfs its per-row work (measured at sf0.1, min-of-3
    same-session: ngram_jaccard_pairs 3.78→2.95 s, winnow_overlap_pairs
    2.13→1.49 s, containment_pairs 2.61→1.75 s, minhash portable
    2.69→2.13 s, simhash_pairs 1.34→1.09 s). A real corpus arrives in
    thousands of scan splits, so the cap never binds in production;
    deployments that re-sign one fat single-split batch set
    `spark.graft.spread.partitions` explicitly (the documented knob,
    which bypasses the cap)."""
    return _spread(documents, "doc_id", cap=4 * documents.rdd.getNumPartitions()).filter(
        F.size(F.filter(F.split("text", r"\s+"), lambda x: x != "")) >= shingle_k
    ).select("doc_id", "source", _word_shingles(F.col("text"), shingle_k).alias("shingles"))


def _kept_inverted(documents: DataFrame, shingle_k: int, max_df_frac: float) -> DataFrame:
    """Inverted index (doc_id, source, sh_h) with *stop shingles*
    removed: a shingle present in more than ``max(2, ⌊max_df_frac ·
    block_size⌋)`` of a source block's documents (boilerplate headers,
    navigation chrome) is dropped before any pairwise step. Without the
    cutoff one hot shingle makes its inverted list — and the
    co-occurrence self-join over it — quadratic in the block. The floor
    of 2 keeps genuine duplicate pairs discoverable in tiny blocks.

    The stop list is found by a groupBy count (map-side partials — a
    hot shingle ships ONE partial per task) and applied as a
    broadcast ANTI join, so the wide exploded index never shuffles
    here at all. The earlier COUNT-window form shuffled the index
    once but buffered each shingle's ENTIRE inverted list in one
    WindowExec task — the hot boilerplate lists this filter exists to
    drop are exactly the ones that would serialize the stage at
    corpus scale. The stop table is small by construction (each entry
    has > max(2, frac·block) occurrences, so #stop ≤ occurrences /
    cutoff); a deployment with a tiny `max_df_frac` would swap the
    anti join for a shuffled join-back and lean on AQE skew handling.
    Block sizes come from a narrow scan of `documents` (a doc has a
    shingle iff it has ≥ k tokens, so no shingling or explode is
    needed to count the block). Equivalence with the old plans is
    pinned by the unchanged DuckDB oracle and
    tests/test_dedup_similarity.py."""
    blk = (
        documents.filter(
            F.size(F.filter(F.split("text", r"\s+"), lambda x: x != "")) >= shingle_k
        )
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"))
    )
    # diamond rule: the raw index feeds both the stop-list aggregate
    # and the anti join — materialize or the shingling runs twice
    inv = _materialize(
        _shingled(documents, shingle_k)
        .select("doc_id", "source", F.explode("shingles").alias("sh"))
        .select("doc_id", "source", F.xxhash64("sh").alias("sh_h"))
    )
    cutoff = F.greatest(F.lit(2).cast("bigint"), F.floor(F.lit(max_df_frac) * F.col("n_docs")))
    stop = (
        inv.groupBy("source", "sh_h")
        .agg(F.count("*").alias("df"))
        .join(F.broadcast(blk), "source")
        .filter(F.col("df") > cutoff)
        .select("source", "sh_h")
    )
    return inv.join(F.broadcast(stop), ["source", "sh_h"], "left_anti")


def ngram_jaccard_pairs(
    documents: DataFrame,
    threshold: float = 0.05,
    shingle_k: int = 3,
    max_df_frac: float = 0.5,
) -> DataFrame:
    """Blocked exact n-gram Jaccard near-dup pairs via an
    inverted-index co-occurrence join, over non-stop shingles.

    |A∩B| is computed by exploding (doc, shingle), self-joining on
    (block, shingle) and counting per pair — pairs with zero overlap
    (the vast majority) never materialize, unlike a blocked cross join
    with per-pair array intersection, which is quadratic in block size.
    Shingles are joined by 64-bit hash (cheap long comparisons; a
    cross-shingle collision needs ~2^32 distinct shingles per block).
    Stop shingles (document frequency above ``max_df_frac`` of the
    block — see `_kept_inverted`) are excluded from both the
    intersection and the set sizes, bounding the hottest inverted
    lists; the DuckDB oracle applies the identical cutoff. Jaccard =
    |A∩B| / (|A|+|B|-|A∩B|), integer sizes, one final double division.
    """
    # materialized: consumed by both join sides and the size aggregate
    inv = _materialize(_kept_inverted(documents, shingle_k, max_df_frac))
    sizes = inv.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = inv.select(F.col("source"), F.col("sh_h"), F.col("doc_id").alias("doc_a"))
    b = inv.select(F.col("source"), F.col("sh_h"), F.col("doc_id").alias("doc_b"))
    co = (
        a.join(b, ["source", "sh_h"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("source", "doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    union = F.col("n_a") + F.col("n_b") - F.col("n_inter")
    return (
        co.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "source",
            "doc_a",
            "doc_b",
            (F.col("n_inter").cast("double") / union.cast("double")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .orderBy("doc_a", "doc_b")
    )


MINHASH_P = (1 << 61) - 1  # Mersenne prime modulus for the affine family


def portable_perm_params(n_hashes: int = N_HASHES) -> list[tuple[int, int, int]]:
    """Deterministic affine-permutation constants (a_i, b_i, c_i) for the
    portable MinHash family, derived from md5 of a fixed label — the
    single source of truth shared verbatim by the Spark operator and
    the DuckDB oracle (the `similarity.rademacher_planes` pattern), so
    both engines compute bit-identical signatures."""
    import hashlib

    out = []
    for i in range(n_hashes):
        d = hashlib.md5(f"minhash-perm-{i}".encode()).hexdigest()
        a = (int(d[:8], 16) & 0x7FFFFFFF) | 1  # odd, < 2^31
        b = (int(d[8:16], 16) & 0x7FFFFFFF) | 1
        c = int(d[16:24], 16) & 0x7FFFFFFF
        out.append((a, b, c))
    return out


def portable_shingle_hashes(documents: DataFrame, shingle_k: int = 3) -> DataFrame:
    """(doc_id, h): distinct word-``shingle_k``-gram keys as 60-bit
    integers from the md5 hex prefix — the engine-portable hashing
    step of the portable MinHash family (both Spark and any SQL engine
    with md5 produce identical keys). MATERIALIZED: every consumer
    pattern is a diamond (signatures + exact verification, or new-side
    + old-side probes), and without truncation each consumer re-scans
    and re-shingles the corpus."""
    h60 = F.conv(F.substring(F.md5(F.col("s")), 1, 15), 16, 10).cast("bigint")
    # _shingled minus its `source` passthrough: callers here need only
    # (doc_id, text) relations (snapshot slices, survivor sets)
    shingled = (
        _spread(documents, "doc_id", cap=4 * documents.rdd.getNumPartitions())
        .filter(F.size(F.filter(F.split("text", r"\s+"), lambda x: x != "")) >= shingle_k)
        .select("doc_id", _word_shingles(F.col("text"), shingle_k).alias("shingles"))
    )
    return _materialize(
        shingled.select("doc_id", F.explode("shingles").alias("s"))
        .select("doc_id", h60.alias("h"))
    )


def portable_bands(
    hs_base: DataFrame, n_hashes: int = N_HASHES, bands: int = BANDS
) -> DataFrame:
    """(doc_id, band_id, band_key) LSH band keys from a
    `portable_shingle_hashes` relation: n affine permutations
    (a·hi + b·lo + c) mod (2^61−1) with md5-derived constants
    (`portable_perm_params`), min-aggregated into signatures, sliced
    into ``bands`` decimal-rendered band keys. Pure non-overflowing
    64-bit integer math — bit-identical in any engine."""
    if n_hashes % bands:
        raise ValueError("portable_bands: bands must divide n_hashes")
    # one parsed expression per aggregate / per band struct — the
    # Column-by-Column form costs ~8 py4j round-trips per hash of
    # driver time on EVERY construction (measured ~12× slower at
    # n=128), while one parsed string is a single JVM-side parse
    # (portable_simhash follows the same rule). Literal types match the DSL form (int < 2^31 → INT,
    # 2^61−1 → BIGINT), so the arithmetic and results are identical.
    mins = [
        F.expr(
            f"min(({a} * shiftright(h, 30) + {b} * (h & {(1 << 30) - 1})"
            f" + {c}) % {MINHASH_P}) AS mh_{i}"
        )
        for i, (a, b, c) in enumerate(portable_perm_params(n_hashes))
    ]
    sig = hs_base.groupBy("doc_id").agg(*mins)
    rows_per_band = n_hashes // bands
    band_structs = ", ".join(
        "struct({bi} AS band_id, concat_ws('|', {parts}) AS band_key)".format(
            bi=bi,
            parts=", ".join(
                f"CAST(mh_{bi * rows_per_band + r} AS STRING)"
                for r in range(rows_per_band)
            ),
        )
        for bi in range(bands)
    )
    return sig.selectExpr(
        "doc_id", f"explode(array({band_structs})) AS band"
    ).selectExpr("doc_id", "band.band_id AS band_id", "band.band_key AS band_key")


def minhash_lsh_pairs_portable(
    documents: DataFrame,
    threshold: float = 0.30,
    n_hashes: int = N_HASHES,
    bands: int = BANDS,
    shingle_k: int = 3,
) -> DataFrame:
    """MinHash + LSH near-dup pairs with an ENGINE-PORTABLE hash family,
    so the full pipeline — signatures, banding, candidates, exact
    verification — is bit-reproducible outside Spark and can be
    oracle-checked end to end (e.g. auditing one cluster's dedup
    decisions from another engine).

    Hash family: shingle → 60-bit key from the md5 hex prefix (both
    engines produce identical md5), split into 30-bit halves, then
    n affine permutations (a·hi + b·lo + c) mod (2^61−1) with md5-
    derived constants — pure non-overflowing integer math, identical
    in any engine with 64-bit arithmetic. Band keys are the decimal-
    rendered signature slices joined with '|' (no engine-specific
    band hash).

    Scale shape: one materialized shingle-hash pass feeds signatures
    AND verification; the band equi-join produces candidates (each
    bucket is small, no global quadratic step); exact Jaccard runs on
    candidates only. The registry serves this family at two operating
    points (`minhash_portable_pairs` at 3-gram/0.3,
    `minhash_lsh_pairs` at 4-gram/0.5)."""
    if n_hashes % bands != 0:
        raise ValueError("minhash_lsh_pairs_portable: bands must divide n_hashes")
    hs_base = portable_shingle_hashes(documents, shingle_k)
    return minhash_lsh_pairs_from_hashes(hs_base, threshold, n_hashes, bands)


def minhash_lsh_pairs_from_hashes(
    hs_base: DataFrame,
    threshold: float = 0.30,
    n_hashes: int = N_HASHES,
    bands: int = BANDS,
) -> DataFrame:
    """The band→candidate→exact-verify pipeline of
    `minhash_lsh_pairs_portable` over an EXISTING
    `portable_shingle_hashes` relation — for callers that already paid
    the shingle-signing pass (incremental re-crawls sign once and run
    both the new↔old and within-batch rules from the same relation;
    production keeps content-addressed signature tables and never
    re-signs at all). Same results as signing fresh: the hashes
    relation is per-document, so any (doc_id-complete) slice of it is
    identical to re-signing that slice."""
    banded = portable_bands(hs_base, n_hashes, bands)
    left = banded.select("band_id", "band_key", F.col("doc_id").alias("doc_a"))
    right = banded.select("band_id", "band_key", F.col("doc_id").alias("doc_b"))
    cand = (
        left.join(right, ["band_id", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # exact Jaccard over the distinct 60-bit shingle-key sets: both
    # engines hash identically, so even key collisions are shared and
    # the counts match exactly (not just probabilistically)
    shing = hs_base.groupBy("doc_id").agg(F.array_sort(F.collect_set("h")).alias("hs"))
    verified = cand.join(
        shing.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a")), "doc_a"
    ).join(shing.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b")), "doc_b")
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    union = F.size("hs_a") + F.size("hs_b") - inter
    return (
        verified.select(
            "doc_a", "doc_b", (inter.cast("double") / union.cast("double")).alias("jaccard")
        )
        .filter(F.col("jaccard") >= threshold)
        .orderBy("doc_a", "doc_b")
    )


def winnow_overlap_pairs(
    documents: DataFrame,
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_df: int = 50,
) -> DataFrame:
    """Winnowing-fingerprint overlap pairs (the MOSS local-similarity
    algorithm): document pairs sharing ≥ ``min_shared`` winnowed
    fingerprints, with the shared count. Winnowing selects the MIN
    k-gram hash in each sliding window of ``w`` consecutive hashes —
    the classic guarantee: any shared run of ≥ w+k−1 tokens yields at
    least one shared fingerprint, at ~2/(w+1) the density of full
    shingling. That makes this the partial-overlap detector (copied
    passages, boilerplate blocks) complementing whole-set Jaccard
    (`minhash_lsh_pairs_portable`) and positional spans (`substring_dup_spans`).

    Portability: hashes are the 60-bit md5 keys shared with the
    portable MinHash family; window minima are value-minima (ties
    collapse to the same value, so rightmost-vs-leftmost tie rules —
    the part of the original algorithm that exists to pick a POSITION
    — cannot diverge across engines when only values are kept).

    Scale shape: fingerprints per doc ≈ 2·tokens/(w+1); the pair stage
    is an inverted-index equi-join on fingerprint value, with
    boilerplate fingerprints (document frequency > ``max_df``) removed
    by a broadcast anti-join BEFORE the self-join (the
    `edit_distance_pairs` hot-key rule) — never all-pairs, hot-key
    bounded by construction. Window minima are computed per row from a
    materialized hash-array column (array ops over a column reference,
    not a re-evaluated subtree — the `_word_shingles` quadratic trap).

    Returns (doc_a, doc_b, n_shared) ordered by (doc_a, doc_b)."""
    toks = F.filter(F.split("text", r"\s+"), lambda x: x != "")
    grams = toks
    for j in range(1, k):
        shifted = F.slice(toks, j + 1, 1 << 30)
        grams = F.zip_with(grams, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    grams = F.filter(grams, lambda x: x.isNotNull())
    hs = F.transform(
        grams,
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint"),
    )
    with_hs = (
        _spread(documents, "doc_id", cap=4 * documents.rdd.getNumPartitions())
        .filter(F.size(toks) >= k)
        .select("doc_id", hs.alias("hs"))
    )
    m = F.size("hs")
    wins = F.when(
        m >= w,
        F.transform(
            F.sequence(F.lit(0), m - w),
            lambda j: F.array_min(F.slice(F.col("hs"), j + 1, w)),
        ),
    ).otherwise(F.array(F.array_min("hs")))
    fps = _materialize(
        with_hs.select("doc_id", F.explode(F.array_distinct(wins)).alias("fp"))
    )
    hot = fps.groupBy("fp").agg(F.count("*").alias("df")).filter(
        F.col("df") > max_df
    )
    kept = fps.join(F.broadcast(hot.select("fp")), "fp", "left_anti")
    a = kept.select("fp", F.col("doc_id").alias("doc_a"))
    b = kept.select("fp", F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .orderBy("doc_a", "doc_b")
    )


def jaccard_threshold_curve(
    documents: DataFrame,
    n_hashes: int = N_HASHES,
    bands: int = BANDS,
    shingle_k: int = 3,
) -> DataFrame:
    """Threshold-tuning curve for near-dup dedup: the distribution of
    exact Jaccard over ALL LSH candidate pairs, bucketed into tenths —
    the one-pass answer to "how many pairs would each threshold keep?"
    Running `minhash_lsh_pairs_portable` once per candidate threshold
    re-pays the signature+band+verify pipeline per point; the curve
    pays it once and reads every operating point off the histogram
    (cumulative-from-the-top = pairs kept at threshold b/10).

    Same portable machinery (`portable_shingle_hashes` /
    `portable_bands`), same banded-candidates-only bound — the curve
    inherits the banding's recall floor, which is exactly the regime a
    threshold chosen from it will run under. The bucket id is pure
    integer math ((10·|∩|) div |∪| — no double floor on an inexact
    product), so bucket edges are engine-exact.

    Returns (bucket, jaccard_lo, n_pairs), bucket = 0..10 (10 = exact
    duplicates), ordered by bucket."""
    hs_base = portable_shingle_hashes(documents, shingle_k)
    banded = portable_bands(hs_base, n_hashes, bands)
    left = banded.select("band_id", "band_key", F.col("doc_id").alias("doc_a"))
    right = banded.select("band_id", "band_key", F.col("doc_id").alias("doc_b"))
    cand = (
        left.join(right, ["band_id", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    shing = hs_base.groupBy("doc_id").agg(F.array_sort(F.collect_set("h")).alias("hs"))
    verified = cand.join(
        shing.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a")), "doc_a"
    ).join(shing.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b")), "doc_b")
    inter = F.size(F.array_intersect("hs_a", "hs_b")).cast("bigint")
    union = (F.size("hs_a") + F.size("hs_b")).cast("bigint") - inter
    return (
        verified.select(inter.alias("_i"), union.alias("_u"))
        .select(F.expr("CAST((10 * _i) div _u AS INT)").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_pairs"))
        .select(
            "bucket",
            (F.col("bucket").cast("double") / F.lit(10.0)).alias("jaccard_lo"),
            "n_pairs",
        )
        .orderBy("bucket")
    )


def dup_clusters(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components over near-dup pairs → (doc_id, cluster_id).

    A dedup pipeline must transitively close pair evidence (A≈B, B≈C ⇒
    one group) before choosing keepers. Min-label propagation with
    POINTER JUMPING: each iteration every node adopts the smallest
    label in its neighborhood (one-hop propagation), then follows that
    label's OWN label (m(x) ← m(one(x)) — path halving through the
    previous mapping). Jumping squares the propagation distance per
    round, so convergence is O(log diameter) iterations instead of
    O(diameter) — measured on the winnowing chain graph at sf0.1:
    12 propagation rounds → 5, and because the convergence check rides
    the checkpoint action as an Observation (no separate join+count
    job), the loop runs ONE Spark job per iteration instead of two:
    129 jobs → ~15 for `winnow_chain_lengths` (OPTIMIZATION_r12.md).

    The fixpoint is unchanged — every node's label is the component's
    min id: labels are monotone non-increasing per node, always ids of
    nodes in the same component, and each round includes a full
    one-hop propagation step, so the combined operator has exactly the
    plain propagation fixpoint. Convergence detection: with a fixed
    node set and per-node monotone labels, "no label changed" ⟺ "the
    exact decimal sum of labels is unchanged" — the sum is observed on
    the materialized result for free. A pathological chain longer than
    2^max_iter hops would exit unconverged, so non-convergence raises
    instead of silently splitting a cluster. `util.materialize`
    truncates lineage each iteration (the standard Spark idiom for
    iterative algorithms)."""
    from pyspark.sql import Observation

    edges = pairs.select("doc_a", "doc_b")
    und = _materialize(
        edges.unionByName(
            edges.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
        )
    )
    obs0 = Observation()
    labels = _materialize(
        und.select(F.col("doc_a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .observe(obs0, F.sum(F.col("label").cast("decimal(38,0)")).alias("s"))
    )
    prev_sum = obs0.get["s"]
    for _ in range(max_iter):
        # one-hop min propagation (self label rides along via the union)
        one = (
            und.join(labels, und.doc_b == labels.node)
            .select(und.doc_a.alias("node"), "label")
            .unionByName(labels)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        # pointer jump through the PREVIOUS mapping: label ← m(label).
        # Every label value is a node id (min over ids seen), so the
        # inner join is total; m(x) ≤ x keeps labels monotone.
        obs = Observation()
        new_labels = _materialize(
            one.join(
                labels.select(
                    F.col("node").alias("label"), F.col("label").alias("jump")
                ),
                "label",
            )
            .select("node", F.col("jump").alias("label"))
            .observe(obs, F.sum(F.col("label").cast("decimal(38,0)")).alias("s"))
        )
        new_sum = obs.get["s"]
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    else:
        raise RuntimeError(
            f"dup_clusters: no fixpoint after {max_iter} iterations "
            f"(label sum still decreasing); a duplicate chain is longer "
            f"than 2^max_iter hops — raise max_iter for this corpus"
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def keeper_list(documents: DataFrame, pairs: DataFrame) -> DataFrame:
    """Final dedup decision: every doc mapped to its cluster keeper
    (min doc_id; singletons keep themselves)."""
    clusters = dup_clusters(pairs)
    return (
        documents.select("doc_id")
        .join(clusters, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("keeper_doc_id"),
        )
        .withColumn("is_keeper", F.col("doc_id") == F.col("keeper_doc_id"))
        .orderBy("doc_id")
    )


def keeper_list_best(
    documents: DataFrame,
    pairs: DataFrame,
    scores: DataFrame,
    score_col: str = "quality",
) -> DataFrame:
    """Quality-aware dedup decision: per duplicate cluster keep the
    HIGHEST-scoring document (ties → min doc_id), not the arbitrary
    min-id one — the production rule when a quality signal exists
    (`text.quality_score` plugs in directly as `scores`).

    Shape: `dup_clusters` transitive closure, one left join to attach
    scores (docs missing a score lose ties but are never dropped from
    the output), one `max_by(struct)` per cluster — a keyed agg with
    map-side partials, no window over the full corpus — and one
    broadcast-size join back. Singletons keep themselves."""
    clusters = dup_clusters(pairs)
    membered = (
        documents.select("doc_id")
        .join(clusters, "doc_id", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col("doc_id")))
    )
    scored = membered.join(
        scores.select("doc_id", F.col(score_col).alias("__score")), "doc_id", "left"
    ).withColumn("__score", F.coalesce(F.col("__score").cast("double"), F.lit(float("-inf"))))
    # max_by over (score, -doc_id): highest score wins, min id breaks ties
    keepers = scored.groupBy("cluster_id").agg(
        F.expr("max_by(doc_id, struct(__score, -doc_id))").alias("keeper_doc_id")
    )
    return (
        membered.join(keepers, "cluster_id")
        .select("doc_id", "keeper_doc_id")
        .withColumn("is_keeper", F.col("doc_id") == F.col("keeper_doc_id"))
        .orderBy("doc_id")
    )


def portable_simhash(documents: DataFrame) -> DataFrame:
    """(doc_id, simhash): the 60-bit SimHash signature per document.
    Per distinct token the hash is the md5 hex prefix (15 hex chars —
    the widest md5 prefix that fits signed-64 without sign games), so
    any engine with md5 computes identical signatures. Explode + 60
    conditional ±1 sums (map-side combine), then sign → bit assembly —
    entirely JVM bit math."""
    toks = F.filter(F.split("text", r"\s+"), lambda x: x != "")
    exploded = (
        _spread(documents, "doc_id", cap=4 * documents.rdd.getNumPartitions())
        .select("doc_id", F.explode(F.array_distinct(toks)).alias("tok"))
        .select(
            "doc_id",
            F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10)
            .cast("bigint")
            .alias("h"),
        )
    )
    # one parsed expression per aggregate / per assembly term — the
    # Column-by-Column form costs ~1k py4j round-trips of driver time,
    # one parsed string a single JVM-side parse
    sums = [
        F.expr(f"sum(CASE WHEN (shiftright(h, {b}) & 1) = 1 THEN 1 ELSE -1 END)").alias(f"s_{b}")
        for b in range(60)
    ]
    agg = exploded.groupBy("doc_id").agg(*sums)
    assemble = " | ".join(
        f"(CASE WHEN s_{b} > 0 THEN shiftleft(CAST(1 AS BIGINT), {b}) ELSE CAST(0 AS BIGINT) END)"
        for b in range(60)
    )
    return agg.select("doc_id", F.expr(assemble).alias("simhash"))


def simhash_pairs_portable(documents: DataFrame, max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs via pigeonhole banding over the
    `portable_simhash` signatures — recall-complete and never
    all-pairs. The `minhash_lsh_pairs_portable` contract applied to
    SimHash: signatures, bands, candidates and the bit_count(xor)
    verification are bit-reproducible outside Spark and oracle-checked
    end to end.

    The 60-bit signature is split into ``max_hamming + 1`` contiguous
    bit bands; two signatures within hamming distance r differ in at
    most r bands, so they agree EXACTLY on at least one band
    (pigeonhole). Candidates are therefore the band-equality buckets —
    a plain equi-join on (source, band_id, band_val) — and
    verification is the exact ``bit_count(xor) ≤ r`` on candidates
    only. Identical output to the quadratic all-pairs formulation
    (asserted in tests/test_dedup_similarity.py); banding is only
    selective for small r, which is also the regime where SimHash
    distance is meaningful. One materialized signature pass feeds both
    sides of the band equi-join.
    """
    bands = max_hamming + 1
    base, rem = divmod(60, bands)
    widths = [base + (1 if i < rem else 0) for i in range(bands)]
    offsets = [sum(widths[:i]) for i in range(bands)]
    sh = _materialize(
        portable_simhash(documents).join(documents.select("doc_id", "source"), "doc_id")
    )
    band_structs = [
        F.struct(
            F.lit(i).alias("band_id"),
            F.shiftright(F.col("simhash"), offsets[i])
            .bitwiseAND(F.lit((1 << widths[i]) - 1))
            .alias("band_val"),
        )
        for i in range(bands)
    ]
    banded = sh.select(
        "source", "doc_id", "simhash", F.explode(F.array(*band_structs)).alias("b")
    ).select(
        "source",
        "doc_id",
        "simhash",
        F.col("b.band_id").alias("band_id"),
        F.col("b.band_val").alias("band_val"),
    )
    a = banded.select(
        "source", "band_id", "band_val",
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sim_a"),
    )
    b = banded.select(
        "source", "band_id", "band_val",
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sim_b"),
    )
    return (
        a.join(b, ["source", "band_id", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "source",
            "doc_a",
            "doc_b",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


def paragraph_dedup(documents: DataFrame, sep: str = "\n") -> DataFrame:
    """Corpus-wide paragraph-level exact dedup (the CCNet/Dolma
    pre-dedup pass): split every document on ``sep``, keep only the
    FIRST occurrence of each paragraph across the whole corpus
    (ordered by doc_id, then position), and reassemble documents from
    their surviving paragraphs. Documents whose every paragraph was
    seen earlier disappear entirely — whole-document dedup falls out
    as the degenerate case.

    Scale shape: posexplode is map-side; first-occurrence selection is
    ONE window shuffle keyed on the paragraph text (same key profile
    as exact dedup — boilerplate paragraphs concentrate on one key but
    a window over an already-sorted run is O(n), not quadratic);
    reassembly is one keyed agg on doc_id with an in-memory
    array_sort over that document's surviving paragraphs (bounded by
    document size, not corpus size). No all-pairs step anywhere.

    Analog of the reference's duplicate-row cleanup DELETEs
    (myapp/views.py:33-44) lifted from rows to paragraphs.
    """
    from pyspark.sql.window import Window

    paras = documents.select(
        "doc_id",
        F.size(F.split("text", sep)).alias("n_paras"),
        F.posexplode(F.split("text", sep)).alias("pos", "para"),
    )
    w = Window.partitionBy("para").orderBy("doc_id", "pos")
    kept = paras.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        kept.groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "para"))).alias("ps"),
            F.max("n_paras").alias("n_paras"),
        )
        .select(
            "doc_id",
            F.concat_ws(sep, F.transform("ps", lambda x: x["para"])).alias(
                "dedup_text"
            ),
            F.size("ps").cast("bigint").alias("n_kept"),
            (F.col("n_paras") - F.size("ps")).cast("bigint").alias("n_dropped"),
        )
        .orderBy("doc_id")
    )


def _positional_shingles(col: Column, k: int) -> Column:
    """Word k-shingles in POSITION ORDER (no dedup): element i is the
    shingle starting at token i. Same O(tokens) zip_with construction
    as `_word_shingles`; the null tail (last k-1 shifted slots) is
    filtered off the END, so surviving indices still equal token
    offsets."""
    toks = F.filter(F.split(col, r"\s+"), lambda x: x != "")
    out = toks
    for j in range(1, k):
        shifted = F.slice(toks, j + 1, 1 << 30)
        out = F.zip_with(out, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.filter(out, lambda x: x.isNotNull())


def substring_dup_spans(documents: DataFrame, k: int = 8) -> DataFrame:
    """Exact substring-duplication detection: every k-token window that
    occurs more than once in the corpus (across documents OR repeated
    within one) marks its span; overlapping/adjacent marked windows are
    merged into maximal spans per document. This is the
    span-granularity exact dedup used on large LM corpora — removing
    repeated boilerplate *inside* otherwise-unique documents, which
    document-level dedup (exact/MinHash) cannot see.

    Shape per stage:
    1. one tokenize pass, positional k-shingles (O(tokens) zip_with),
    2. occurrence counts: groupBy shingle — ONE shuffle on the shingle
       string, map-side partial aggs; no self-join, so no inverted-list
       quadratic risk (contrast ngram_jaccard_pairs, which must pair
       docs and therefore needs the stop-shingle cutoff),
    3. duplicated windows rejoin positions on the shingle key (same
       shuffle key → AQE-coalesced), then per-doc island-merge with two
       window functions over the (small) marked-position set.

    The join/group key is the shingle STRING — engine-exact for the
    oracle. At 100 TB, substitute ``xxhash64(sh)`` as the key: 64-bit
    collisions (~1e-10 at 10^5 distinct shingles, still negligible at
    10^10) can only mark a false duplicate span, never miss one.

    Output: (doc_id, span_start, span_end, n_dup_windows) with token
    offsets, span_end exclusive; ordered for display parity.
    """
    sh = _materialize(
        _spread(documents, "doc_id", cap=4 * documents.rdd.getNumPartitions()).select(
            "doc_id",
            F.posexplode(_positional_shingles(F.col("text"), k)).alias("pos", "sh"),
        )
    )
    dup = sh.groupBy("sh").agg(F.count("*").alias("n_occ")).filter(F.col("n_occ") > 1)
    marked = sh.join(dup.select("sh"), "sh").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = marked.withColumn(
        "brk",
        F.when(F.col("pos") - F.lag("pos").over(w) <= k, F.lit(0)).otherwise(F.lit(1)),
    ).withColumn(
        "island",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + k).alias("span_end"),
            F.count("*").alias("n_dup_windows"),
        )
        .drop("island")
        .orderBy("doc_id", "span_start")
    )


def doc_novelty(documents: DataFrame, shingle_k: int = 3) -> DataFrame:
    """Per-document novelty: the fraction of a document's distinct
    word k-shingles that occur in NO other document (corpus document
    frequency = 1). High-novelty docs carry new content; low-novelty
    docs are recombinations of text the corpus already has — the
    quality-scoring cousin of near-dup detection, used to prioritize
    genuinely new data in a curation mix.

    One shingling pass (shared `_shingled` semantics with the dedup
    family); the corpus frequency is a groupBy count joined back to
    the exploded index — NOT a COUNT window over the shingle key: the
    aggregate reduces a hot shingle map-side (each task ships one
    partial), and the join back is AQE-skew-splittable, whereas
    WindowExec buffers a hot shingle's ENTIRE inverted list in one
    task, making the stage wall-clock O(hottest shingle) at corpus
    scale. The index is materialized once for its two consumers.
    novelty is a single final double division of exact counts.
    """
    ex = _materialize(
        _shingled(documents, shingle_k).select(
            "doc_id", F.explode("shingles").alias("s")
        )
    )
    df_tab = ex.groupBy("s").agg(F.count("*").alias("df"))
    return (
        ex.join(df_tab, "s")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum((F.col("df") == 1).cast("bigint")).alias("n_unique"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_unique",
            (F.col("n_unique").cast("double") / F.col("n_shingles").cast("double")).alias(
                "novelty"
            ),
        )
        .orderBy("doc_id")
    )


def containment_pairs(
    documents: DataFrame,
    threshold: float = 0.5,
    shingle_k: int = 3,
    max_df_frac: float = 0.5,
) -> DataFrame:
    """Asymmetric near-dup detection: shingle *containment*
    ``|A∩B| / min(|A|,|B|)`` — the measure that catches excerpt
    duplicates (a paragraph lifted into a much longer page), which
    symmetric Jaccard misses because the union is dominated by the
    longer side. Standard curation companion to `ngram_jaccard_pairs`
    (same candidate set, different acceptance test).

    Same scale shape as the Jaccard operator: the materialized
    stop-shingle-filtered inverted index (`_kept_inverted`) feeds the
    co-occurrence self-join, so zero-overlap pairs never materialize
    and hot boilerplate shingles are cut before the join. Containment
    is one final double division of exact integer counts.
    """
    inv = _materialize(_kept_inverted(documents, shingle_k, max_df_frac))
    sizes = inv.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = inv.select("source", "sh_h", F.col("doc_id").alias("doc_a"))
    b = inv.select("source", "sh_h", F.col("doc_id").alias("doc_b"))
    co = (
        a.join(b, ["source", "sh_h"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("source", "doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        co.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "source",
            "doc_a",
            "doc_b",
            "n_inter",
            (
                F.col("n_inter").cast("double")
                / F.least("n_a", "n_b").cast("double")
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
        .orderBy("doc_a", "doc_b")
    )


def fuzzy_prefix_match(
    documents: DataFrame,
    block_chars: int = 16,
    probe_chars: int = 60,
    max_dist: int = 12,
) -> DataFrame:
    """Blocked fuzzy record linkage: candidate pairs share an exact
    ``block_chars``-character prefix (the blocking key), then the
    expensive edit-distance test runs on candidates only —
    ``levenshtein`` over the first ``probe_chars`` characters. The
    classic two-phase shape of entity resolution / fuzzy dedup at
    scale: a cheap equi-join proposes, an O(n·m) string metric
    disposes.

    Blocking is what makes this survive 100 TB: levenshtein over all
    pairs is quadratic in the corpus, but an equi-join on the prefix
    key is one hash shuffle, and the quadratic work is confined to
    same-prefix groups (near-dup clusters are small by nature; a hot
    block would indicate boilerplate best handled by the stop-shingle
    cutoff upstream). Both Spark and DuckDB implement the standard
    Wagner-Fischer edit distance, so the metric is engine-exact.
    """
    keyed = documents.select(
        "doc_id",
        F.substring("text", 1, block_chars).alias("blk"),
        F.substring("text", 1, probe_chars).alias("probe"),
    )
    a = keyed.select("blk", F.col("doc_id").alias("doc_a"), F.col("probe").alias("probe_a"))
    b = keyed.select("blk", F.col("doc_id").alias("doc_b"), F.col("probe").alias("probe_b"))
    return (
        a.join(b, "blk")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("probe_a", "probe_b").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= max_dist)
        .orderBy("doc_a", "doc_b")
    )


def dup_rate_by_source(documents: DataFrame) -> DataFrame:
    """Per-source duplication scorecard: how much of each source is
    exact-duplicate mass, and how much of that is cross-source — the
    panel that decides which ingest feed to fix first (a source whose
    dup mass is mostly internal re-crawls needs dedup-at-ingest; one
    whose dups live in OTHER sources needs mirror detection).
    `dup_cluster_sizes` answers "how duplicated is the corpus";
    this answers "whose fault is it".

    Shape: ONE digest aggregation over the corpus (the `exact_dedup`
    shuffle) producing per-(content, source) copy counts plus the
    content total, then a join back of the two count relations and a
    #sources-row summary. The corpus shuffles once; all ratios are
    single final double divisions over exact integer counts."""
    norm = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    per_src = _materialize(
        _spread(documents, "doc_id", cap=4 * documents.rdd.getNumPartitions())
        .select(F.md5(norm.cast("binary")).alias("content_fp"), "source")
        .groupBy("content_fp", "source")
        .agg(F.count("*").alias("n_here"))
    )
    totals = per_src.groupBy("content_fp").agg(F.sum("n_here").alias("n_total"))
    joined = per_src.join(totals, "content_fp").select(
        "source",
        "n_here",
        "n_total",
        # copies of this content IN this source beyond the first
        # anywhere-copy are duplicate mass; content also present
        # elsewhere marks cross-source duplication
        (F.col("n_total") > F.col("n_here")).alias("cross_source"),
    )
    return (
        joined.groupBy("source")
        .agg(
            F.sum("n_here").cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("n_total") > 1, F.col("n_here")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("n_dup_docs"),
            F.sum(
                F.when(F.col("cross_source"), F.col("n_here")).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("n_cross_source_docs"),
            F.count("*").cast("bigint").alias("n_contents"),
        )
        .withColumn(
            "dup_rate",
            F.col("n_dup_docs").cast("double") / F.col("n_docs").cast("double"),
        )
        .orderBy("source")
    )


BLOCKING_RR_SQL = (
    "round(1.0 - CAST(candidate_pairs AS DOUBLE)"
    " / (CAST(n_docs AS DOUBLE) * (CAST(n_docs AS DOUBLE) - 1.0) / 2.0), 9)"
)


def blocking_stats(documents: DataFrame, block_chars: int = 16) -> DataFrame:
    """Blocking-quality audit for the two-phase linkage plans
    (`fuzzy_prefix_match`, the LSH band joins): BEFORE running a
    candidate join over a new corpus, measure what the blocking key
    buys — candidate pairs vs the quadratic all-pairs count
    (reduction ratio) and the hot-block tail that dominates the join's
    skew. At 100 TB this one cheap panel is the difference between a
    tractable candidate join and an accidental n² (the r1 scale-killer
    class this repo removed); it belongs in the pipeline ahead of
    every blocked-join deployment.

    One keyed count over the corpus (map-side partials), then an
    O(#blocks) summary: all pair arithmetic runs on the COUNT
    relation. Counts are exact integers (pairs = c·(c−1)/2 per
    block); the reduction ratio is one final double division."""
    counts = documents.select(
        F.substring("text", 1, block_chars).alias("blk")
    ).groupBy("blk").agg(F.count("*").alias("c"))
    return counts.agg(
        F.count("*").cast("bigint").alias("n_blocks"),
        F.sum("c").cast("bigint").alias("n_docs"),
        F.max("c").cast("bigint").alias("max_block"),
        # DECIMAL(38,0) per-block product (oracle: HUGEINT): a single
        # hot block over ~3e9 docs would overflow the bigint product —
        # exactly the degenerate corpus this audit exists to flag. The
        # final bigint cast bounds the TOTAL at ~9.2e18 pairs (one
        # 4.3e9-doc block); past that ANSI aborts loudly, never wraps.
        F.sum(F.expr("CAST(c AS DECIMAL(38,0)) * (c - 1) div 2"))
        .cast("bigint")
        .alias("candidate_pairs"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("singleton_blocks"),
    ).select(
        "n_blocks",
        "n_docs",
        "max_block",
        "candidate_pairs",
        "singleton_blocks",
        # pinned-order double expression, shared verbatim with the oracle
        F.expr(BLOCKING_RR_SQL).alias("reduction_ratio"),
    )


def edit_distance_pairs(
    documents: DataFrame,
    block_chars: int = 12,
    cmp_chars: int = 32,
    max_dist: int = 6,
    max_df: int = 1000,
) -> DataFrame:
    """Character-level near-duplicate candidates: pairs of documents
    whose cleaned text agrees on the first `block_chars` characters
    (the blocking key) and whose first `cmp_chars` characters are
    within Levenshtein distance `max_dist`. This is the classic
    blocked edit-distance join of record linkage — it catches the
    typo/OCR/template-drift duplicates that token-set methods
    (`ngram_jaccard_pairs`, MinHash) miss, because one character edit
    inside a word replaces the whole token.

    Cross-engine contract: Levenshtein runs on text LOWERED and
    stripped to `[a-z0-9 ]` first — Spark's implementation counts
    code points while DuckDB's counts bytes, so the cleaned-ASCII
    domain (where they provably coincide) is part of the operator's
    definition, not an accident of the test corpus. Distance is exact
    integer DP in both engines; similarity is one final division
    rounded to 9 dp.

    Scale shape: block + verify. The join shuffles only (key,
    doc_id, probe-prefix) — never full text — on the blocking key;
    keys appearing in more than `max_df` documents are dropped by a
    broadcast anti join BEFORE the self-join (the `_kept_inverted`
    stop-key rule: one boilerplate prefix otherwise makes its block
    quadratic). Each surviving block is ≤ max_df rows, so the
    per-block pair work is bounded by construction; the Levenshtein
    verify runs on ≤ cmp_chars-character strings, O(cmp_chars²) per
    pair. Recall is a function of the blocking key — a pair whose
    first `block_chars` characters already differ is out of scope by
    definition (tested as the operator's recall contract, mirroring
    the MinHash/containment fixtures)."""
    if block_chars < 1 or cmp_chars < block_chars:
        raise ValueError(
            "edit_distance_pairs: need 1 <= block_chars <= cmp_chars"
        )
    # positive-class extract-runs-and-join, not a negated-class
    # replace (the normalized_dedup ~25× regex rule; byte-identical)
    clean = F.expr(
        "array_join(regexp_extract_all(lower(text), '[a-z0-9 ]+', 0), '')"
    )
    probes = _materialize(
        _spread(documents, "doc_id", cap=4 * documents.rdd.getNumPartitions()).select(
            "doc_id",
            F.substring(clean, 1, block_chars).alias("bkey"),
            F.substring(clean, 1, cmp_chars).alias("probe"),
        )
    )
    hot = (
        probes.groupBy("bkey")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > max_df)
        .select("bkey")
    )
    kept = probes.join(F.broadcast(hot), "bkey", "left_anti")
    a = kept.select(
        "bkey", F.col("doc_id").alias("a_id"), F.col("probe").alias("a_probe")
    )
    b = kept.select(
        "bkey", F.col("doc_id").alias("b_id"), F.col("probe").alias("b_probe")
    )
    return (
        a.join(b, "bkey")
        .filter(F.col("a_id") < F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            F.levenshtein("a_probe", "b_probe").alias("edit_dist"),
            F.greatest(F.length("a_probe"), F.length("b_probe")).alias("cmp_len"),
        )
        .filter(F.col("edit_dist") <= max_dist)
        .select(
            "a_id",
            "b_id",
            "edit_dist",
            F.expr(
                "CASE WHEN cmp_len > 0 THEN"
                " round(1.0 - CAST(edit_dist AS DOUBLE) / CAST(cmp_len AS DOUBLE), 9)"
                " ELSE CAST(1.0 AS DOUBLE) END"
            ).alias("similarity"),
        )
        .orderBy("a_id", "b_id")
    )


def line_dedup(documents: DataFrame, max_docs: int = 20) -> DataFrame:
    """Boilerplate-line removal (the RefinedWeb/Dolma line-frequency
    filter): drop every line that appears in MORE than `max_docs`
    distinct documents — nav bars, subscribe prompts, copyright
    footers — and reassemble each document from its surviving lines
    in order. Distinct from `paragraph_dedup` (keep FIRST occurrence,
    drop repeats): a boilerplate line is noise in its first document
    too, so the frequency rule deletes ALL occurrences, while rare
    lines keep every occurrence.

    Documents whose every line is boilerplate survive with empty
    clean_text (n_kept = 0) — the row count is input-stable, so the
    dropped mass is auditable per document.

    Scale shape: posexplode is map-side; document frequency is a
    (doc, line) distinct + a count window partitioned by line (a hot
    boilerplate line makes a LARGE partition but the window over it is
    O(n), the `paragraph_dedup` posture — no all-pairs step); the
    drop join is LEFT ANTI keyed on (doc_id, line), which spreads
    every hot line across its documents — skew-free by construction.
    Reassembly is one doc-keyed agg bounded by document size. The
    exploded relation is materialized once (diamond: frequency pass +
    drop join).

    Reference analog: the duplicate-row cleanup DELETEs
    (myapp/views.py:33-44), lifted from whole rows to corpus-wide
    repeated lines."""
    ex = _materialize(
        documents.select(
            "doc_id",
            F.size(F.split("text", "\n")).alias("n_lines"),
            F.posexplode(F.split("text", "\n")).alias("pos", "line"),
        )
    )
    ld = ex.select("doc_id", "line").distinct()
    w = Window.partitionBy("line")
    hot_pairs = (
        ld.withColumn("df", F.count("*").over(w))
        .filter(F.col("df") > F.lit(int(max_docs)))
        .select("doc_id", "line")
    )
    kept = ex.join(hot_pairs, ["doc_id", "line"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("pos", "line"))).alias("ps"),
        F.max("n_lines").alias("n_lines"),
    )
    base = documents.select(
        "doc_id", F.size(F.split("text", "\n")).alias("n_lines")
    )
    return (
        base.join(rebuilt.drop("n_lines"), "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_lines").cast("bigint").alias("n_lines"),
            F.coalesce(F.size("ps"), F.lit(0)).cast("bigint").alias("n_kept"),
            (F.col("n_lines") - F.coalesce(F.size("ps"), F.lit(0)))
            .cast("bigint")
            .alias("n_dropped"),
            F.coalesce(
                F.concat_ws("\n", F.transform("ps", lambda x: x["line"])),
                F.lit(""),
            ).alias("clean_text"),
        )
        .orderBy("doc_id")
    )


def boilerplate_lines(documents: DataFrame, max_docs: int = 20) -> DataFrame:
    """The hot-line PANEL behind `line_dedup`'s drop rule: every line
    that appears in more than ``max_docs`` distinct documents, with
    its document frequency, total occurrence count, and the character
    mass the drop rule would remove — the report a curation run reads
    to eyeball WHAT is being stripped (nav bars, subscribe prompts,
    footers) before committing the rewrite. `line_dedup` rebuilds
    documents; this names the boilerplate.

    Scale shape: one line explode into ONE keyed aggregate —
    `count(distinct doc_id)` plans as the two-phase Expand+partial
    shape, so a hot line's state still combines map-side; output is
    only the lines over the threshold (rare by definition). Ordered by
    (doc_freq DESC, line) — the house total order."""
    ex = _spread(documents, "doc_id", cap=4 * documents.rdd.getNumPartitions()).select(
        "doc_id", F.explode(F.split("text", "\n")).alias("line")
    )
    return (
        ex.groupBy("line")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("doc_freq"),
            F.count("*").cast("bigint").alias("n_occurrences"),
        )
        .filter(F.col("doc_freq") > F.lit(int(max_docs)))
        .select(
            "line",
            "doc_freq",
            "n_occurrences",
            (F.col("n_occurrences") * F.length("line").cast("bigint")).alias(
                "chars_mass"
            ),
        )
        .orderBy(F.col("doc_freq").desc(), F.col("line"))
    )


def cross_source_dup_matrix(
    documents: DataFrame, threshold: float = 0.5, shingle_k: int = 4
) -> DataFrame:
    """Near-duplication MATRIX between sources: verified near-dup
    pairs rolled up per unordered source pair — the mirror-site /
    syndication detector ("src3 and src9 share 40k near-identical
    pages") that decides which source to drop wholesale before
    doc-level dedup even runs. The within-source dedup family blocks
    BY source and cannot see these; this rides
    `minhash_lsh_pairs_portable`'s global banding (no source
    blocking), so cross-source mirrors land in the same buckets.

    avg_jaccard sums the per-pair round(9) values as exact
    DECIMAL(28,9) (order-independent) with one final division.
    Composition over the banded pipeline — candidates only, never
    all-pairs; the rollup output is ≤ #sources² rows."""
    pairs = minhash_lsh_pairs_portable(
        documents, threshold=threshold, shingle_k=shingle_k
    )
    src = documents.select("doc_id", "source")
    labeled = pairs.join(
        src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")),
        "doc_a",
    ).join(
        src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")),
        "doc_b",
    )
    return (
        labeled.select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            F.expr("CAST(round(jaccard, 9) AS DECIMAL(28,9))").alias("j9"),
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum("j9").cast("decimal(28,9)").alias("sum_jaccard"),
        )
        .select(
            "source_a",
            "source_b",
            "n_pairs",
            # decimal accumulator, DOUBLE at the hashed edge (the
            # round-7 no-DecimalType-at-the-edge rule)
            F.col("sum_jaccard").cast("double").alias("sum_jaccard"),
            (
                F.col("sum_jaccard").cast("double")
                / F.col("n_pairs").cast("double")
            ).alias("avg_jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


def simhash_distance_hist(documents: DataFrame, max_hamming: int = 8) -> DataFrame:
    """SimHash threshold-tuning panel: the Hamming-distance histogram
    over banded candidate pairs, with the cumulative pair count per
    radius — the table an operator reads to pick `max_hamming` for
    `simhash_pairs_portable` (each row answers "if I dedup at radius h, how
    many pairs fire?"), the SimHash twin of `jaccard_threshold_curve`.

    Pure composition over `simhash_pairs_portable` at a WIDER radius
    (more, narrower pigeonhole bands — recall at every h ≤ max_hamming
    is still guaranteed by the band argument), reduced to a
    ≤ max_hamming+1-row relation before the cumulative window. Counts
    are exact integers; no floats anywhere."""
    pairs = simhash_pairs_portable(documents, max_hamming)
    per_h = pairs.groupBy("hamming").agg(
        F.count("*").cast("bigint").alias("n_pairs")
    )
    w = Window.orderBy("hamming").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_h.select(
            "hamming",
            "n_pairs",
            F.sum("n_pairs").over(w).cast("bigint").alias("cum_pairs"),
        )
        .orderBy("hamming")
    )


def cdc_chunk_dedup(
    documents: DataFrame, window: int = 8, divisor: int = 64
) -> DataFrame:
    """Content-defined-chunking dedup report (the FastCDC/rsync
    family): chunk boundaries are placed where the rolling content
    hash of a ``window``-char gram hits 0 mod ``divisor`` — so an
    INSERTION shifts only the chunks it touches and every downstream
    chunk re-aligns, the property fixed-offset chunking lacks and the
    reason storage dedup uses CDC. Word-shingle dedup sees token-level
    reuse; this sees raw byte-stream reuse (logs, concatenated dumps,
    base64 blobs) where tokenization is meaningless.

    Pinned cross-engine definition: grams are substring(text, i,
    window) for i = 1..len−window+1; the gram hash is the repo's
    60-bit md5-prefix integer; a boundary is the gram END index
    (i+window−1) where hash % divisor = 0, plus the document end; a
    chunk is the text between consecutive boundaries. An occurrence is
    a DUPLICATE if the same chunk content (md5) appeared at a smaller
    (doc_id, start) — exact first-writer-wins attribution. Expected
    chunk length ≈ divisor chars.

    Scale shape: gram extraction is the `regexp_extract_all`
    lookahead single pass (never substring-per-i on the Spark side);
    cut points reduce to a per-doc relation of ~len/divisor rows; the
    per-doc lag window and the per-chunk-hash first-occurrence window
    both run on the CHUNK relation (~corpus/divisor rows), then one
    (source) rollup. Output #sources rows."""
    d = _spread(documents, "doc_id", cap=4 * documents.rdd.getNumPartitions()).select(
        "doc_id", "source", "text", F.length("text").alias("len")
    ).filter(F.col("len") > 0)
    grams = d.select(
        "doc_id",
        F.posexplode(
            F.expr(f"regexp_extract_all(text, '(?s)(?=(.{{{window}}})).', 1)")
        ).alias("pos", "gram"),
    ).select(
        "doc_id",
        (F.col("pos") + window).alias("cut"),
        F.conv(F.substring(F.md5("gram"), 1, 15), 16, 10).cast("bigint").alias("h"),
    )
    cuts = (
        grams.filter(F.col("h") % divisor == 0)
        .select("doc_id", "cut")
        .unionByName(d.select("doc_id", F.col("len").alias("cut")))
        .distinct()
    )
    wdoc = Window.partitionBy("doc_id").orderBy("cut")
    chunks = (
        cuts.withColumn("prev", F.lag("cut", 1, 0).over(wdoc))
        .join(d.select("doc_id", "source", "text"), "doc_id")
        .select(
            "doc_id",
            "source",
            (F.col("prev") + 1).alias("start"),
            F.expr("substring(text, prev + 1, cut - prev)").alias("chunk"),
        )
        .select(
            "doc_id",
            "source",
            "start",
            F.md5("chunk").alias("chash"),
            F.length("chunk").cast("bigint").alias("clen"),
        )
    )
    wfirst = Window.partitionBy("chash").orderBy("doc_id", "start")
    attributed = chunks.withColumn("rn", F.row_number().over(wfirst))
    return (
        attributed.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_chunks"),
            F.sum("clen").cast("bigint").alias("chunk_chars"),
            F.sum(F.when(F.col("rn") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_occurrences"),
            F.sum(F.when(F.col("rn") > 1, F.col("clen")).otherwise(0))
            .cast("bigint")
            .alias("dup_chars"),
        )
        .select(
            "source",
            "n_chunks",
            "chunk_chars",
            "n_dup_occurrences",
            "dup_chars",
            (
                F.col("dup_chars").cast("double")
                / F.col("chunk_chars").cast("double")
            ).alias("dup_ratio"),
        )
        .orderBy("source")
    )


def winnow_longest_run(
    documents: DataFrame,
    k: int = 3,
    w: int = 4,
    min_run: int = 2,
    max_df: int = 50,
) -> DataFrame:
    """Longest shared RUN between document pairs, measured in
    consecutive winnowing fingerprints — the "how long is the copied
    passage" companion to `winnow_overlap_pairs` (which counts shared
    fingerprints but not their contiguity: 10 scattered boilerplate
    hits and one 10-fingerprint verbatim block look identical there).
    No suffix automaton needed: a shared run of window minima lies on
    one DIAGONAL of the position grid (pos_a − pos_b constant), so
    longest-run reduces to gaps-and-islands over integer positions —
    the classic plagiarism-detector trick on top of MOSS fingerprints.

    A run of R consecutive shared fingerprints certifies a shared
    region spanning AT LEAST R−1+w+k−1 tokens on each side (each
    window covers w+k−1 tokens; consecutive distinct minima advance
    ≥1 window) — emitted as `est_run_tokens`, integer arithmetic end
    to end, a lower bound by construction.

    Scale shape: positional fingerprints ≈ tokens per doc (pre-dedup
    winnowing density); hot fingerprints (doc frequency > `max_df`)
    are cut by a broadcast anti-join BEFORE the self-join (the
    `winnow_overlap_pairs` rule); the diagonal window runs per
    (pair, diag) over match rows only — never the corpora. Matches
    are bounded by the inverted index after the hot cut."""
    toks = F.filter(F.split("text", r"\s+"), lambda x: x != "")
    grams = toks
    for j in range(1, k):
        shifted = F.slice(toks, j + 1, 1 << 30)
        grams = F.zip_with(grams, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    grams = F.filter(grams, lambda x: x.isNotNull())
    hs = F.transform(
        grams,
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint"),
    )
    with_hs = (
        _spread(documents, "doc_id", cap=4 * documents.rdd.getNumPartitions())
        .filter(F.size(toks) >= k)
        .select("doc_id", hs.alias("hs"))
    )
    m = F.size("hs")
    wins = F.when(
        m >= w,
        F.transform(
            F.sequence(F.lit(0), m - w),
            lambda j: F.array_min(F.slice(F.col("hs"), j + 1, w)),
        ),
    ).otherwise(F.array(F.array_min("hs")))
    # positional: keep the window index; consecutive equal minima are
    # one fingerprint occurrence (winnowing emits each min once per
    # run), so collapse runs of the same value — then RE-NUMBER by
    # ordinal (row_number over window position): a verbatim copy
    # produces the same collapsed value sequence, so its ordinals
    # advance in lockstep and the diagonal trick sees consecutive
    # integers (raw positions gap wherever a run collapsed)
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    fps = _materialize(
        with_hs.select("doc_id", F.posexplode(wins).alias("pos", "fp"))
        .withColumn("prev_fp", F.lag("fp").over(wdoc))
        .filter((F.col("prev_fp").isNull()) | (F.col("prev_fp") != F.col("fp")))
        .select(
            "doc_id",
            F.row_number().over(wdoc).alias("pos"),
            "fp",
        )
    )
    hot = (
        fps.select("doc_id", "fp")
        .distinct()
        .groupBy("fp")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > max_df)
    )
    kept = fps.join(F.broadcast(hot.select("fp")), "fp", "left_anti")
    a = kept.select("fp", F.col("doc_id").alias("doc_a"), F.col("pos").alias("pos_a"))
    b = kept.select("fp", F.col("doc_id").alias("doc_b"), F.col("pos").alias("pos_b"))
    matches = (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "pos_a", "pos_b")
        .distinct()
    )
    wd = Window.partitionBy(
        "doc_a", "doc_b", F.col("pos_a") - F.col("pos_b")
    ).orderBy("pos_a")
    runs = matches.select(
        "doc_a",
        "doc_b",
        (F.col("pos_a") - F.row_number().over(wd)).alias("island"),
        (F.col("pos_a") - F.col("pos_b")).alias("diag"),
    ).groupBy("doc_a", "doc_b", "diag", "island").agg(
        F.count("*").alias("run_len")
    )
    return (
        runs.groupBy("doc_a", "doc_b")
        .agg(
            F.sum("run_len").cast("bigint").alias("n_matches"),
            F.max("run_len").cast("bigint").alias("longest_run"),
        )
        .filter(F.col("longest_run") >= min_run)
        .select(
            "doc_a",
            "doc_b",
            "n_matches",
            "longest_run",
            (F.col("longest_run") - 1 + F.lit(w + k - 1))
            .cast("bigint")
            .alias("est_run_tokens"),
        )
        .orderBy("doc_a", "doc_b")
    )


def dup_degree_stats(documents: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Degree distribution of the near-duplicate pair GRAPH — the
    hot-document detector that sizes every downstream dedup decision:
    a heavy tail here (one doc near-dup to thousands) is what turns
    clustering quadratic and is exactly the mass the hot-key
    anti-joins exist for; a clean corpus shows degree ≤ a few. Output
    per degree: how many docs have that many near-dup partners, with
    the total pair-end mass.

    Composition over `minhash_lsh_pairs_portable` (banded candidates,
    exact verify — never all-pairs): pairs → per-doc degree (each
    pair contributes one end to each doc) → degree histogram. Pure
    integer counts; the only double is the share division.

    Scale shape: two keyed aggregations over the PAIR relation (≤
    candidates, hot-key bounded by the banding), never the corpus."""
    pairs = minhash_lsh_pairs_portable(documents, threshold=threshold)
    ends = pairs.select(F.col("doc_a").alias("doc_id")).unionAll(
        pairs.select(F.col("doc_b").alias("doc_id"))
    )
    degrees = ends.groupBy("doc_id").agg(F.count("*").alias("degree"))
    # diamond rule: the histogram feeds the total row AND the final
    # select — materialize or the whole banded pair pipeline above
    # recomputes per consumer
    hist = _materialize(
        degrees.groupBy("degree").agg(
            F.count("*").cast("bigint").alias("n_docs")
        )
    )
    total = hist.agg(F.sum("n_docs").cast("bigint").alias("n_dup_docs"))
    return (
        hist.crossJoin(F.broadcast(total))
        .select(
            F.col("degree").cast("bigint").alias("degree"),
            "n_docs",
            (F.col("n_docs").cast("double") / F.col("n_dup_docs").cast("double")).alias(
                "share"
            ),
        )
        .orderBy("degree")
    )


NORMALIZE_KEEP_CLASS = r"[a-z0-9 \t\r\n]+"
NORMALIZE_WS_CLASS = r"[ \t\r\n]+"


def normalized_text_key(col):
    """The normalization-key expression shared by `normalized_dedup`
    and its oracle: casefold → strip everything outside
    [a-z0-9 + explicit whitespace] → collapse whitespace runs to one
    space → trim, then md5 the result (a fixed-width shuffle key so
    the cluster aggregation never shuffles document bodies). The
    whitespace classes are EXPLICIT character sets, not `\\s` — Java
    regex and RE2 draw that class differently at the edges (\\x0B),
    and an ambiguous class at a dedup key is a silent cross-engine
    divergence.

    The strip pass is POSITIVE-class extract-runs-and-join
    (`regexp_extract_all(KEEP)+array_join`), not a negated-class
    `regexp_replace` — measured 25× faster on Spark's regex engine
    over 571k docs (25.4 s → 0.9 s; replace with `[^...]` degrades
    pathologically while run extraction stays ~chars-linear) and
    byte-identical on every document (pinned by test). DuckDB mirrors
    with `array_to_string(regexp_extract_all(...), '')`."""
    from pyspark.sql import functions as F

    norm = F.trim(
        F.regexp_replace(
            F.array_join(
                F.regexp_extract_all(
                    F.lower(col), F.lit(NORMALIZE_KEEP_CLASS), 0
                ),
                "",
            ),
            F.lit(NORMALIZE_WS_CLASS),
            F.lit(" "),
        )
    )
    return F.md5(norm)


def normalized_dedup(documents: DataFrame) -> DataFrame:
    """Normalization-key dedup impact panel per source: what exact
    dedup MISSES and casefold/punctuation/whitespace normalization
    catches — the rung between `exact_dedup` (byte-identical only)
    and the MinHash family (true near-dups). Mirror sites that
    re-case titles, inject tracking punctuation, or reflow whitespace
    produce byte-distinct copies that are identical under this key;
    the panel prices, per source, how many documents a normalized
    pass would remove (keep-first-by-doc_id keeper rule, the
    `dedup_keepers` convention).

    Exactness: pure integer counts; the only double is the final
    removal-rate division.

    Scale shape: one normalization+md5 projection per doc (~chars
    cost, map-side), a keyed count+min aggregate on the 16-byte key,
    one shuffle join back on that key (doc-scale but narrow — key +
    ids only, document bodies never shuffle), then a ≤ #sources-row
    rollup. No windows, no self-joins. The keyed projection feeds
    BOTH the cluster aggregate and the join back — materialized per
    the diamond rule (the normalization pass is the operator's cost;
    recomputing it per consumer tripled the 100× wall time)."""
    keyed = _materialize(
        _spread(documents, "doc_id", cap=4 * documents.rdd.getNumPartitions()).select(
            "doc_id", "source", normalized_text_key(F.col("text")).alias("k")
        )
    )
    clusters = keyed.groupBy("k").agg(
        F.count("*").cast("bigint").alias("csize"),
        F.min("doc_id").alias("keeper"),
    )
    joined = keyed.join(clusters, "k")
    per = joined.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("csize") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_in_dup_clusters"),
        F.sum(F.when(F.col("doc_id") != F.col("keeper"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_removed"),
    )
    return per.select(
        "source",
        "n_docs",
        "n_in_dup_clusters",
        "n_removed",
        (
            F.col("n_removed").cast("double") / F.col("n_docs").cast("double")
        ).alias("removal_rate"),
    ).orderBy("source")


# Cohen's κ finals over the exact 2×2 confusion counts (a=both flag,
# b=signature only, c=exact only, d=neither; n=a+b+c+d): multiply
# po−pe and 1−pe through by n² so every term is exact BIGINT (n² ≤
# 2.5e13 at 5M docs) and the hashed edge is ONE double division —
# the KENDALL_TAU_SQL / SPEARMAN_RHO_SQL contract.
KAPPA_SQL = (
    "CASE WHEN n * n - (a + b) * (a + c) - (c + d) * (b + d) <> 0 THEN"
    " CAST(n * (a + d) - (a + b) * (a + c) - (c + d) * (b + d) AS DOUBLE)"
    " / CAST(n * n - (a + b) * (a + c) - (c + d) * (b + d) AS DOUBLE)"
    " END"
)


def dedup_agreement_kappa(
    documents: DataFrame, threshold: float = 0.5, shingle_k: int = 3
) -> DataFrame:
    """Cohen's κ between the SIGNATURE near-dup path
    (`minhash_lsh_pairs_portable`) and the EXACT inverted-index path
    (`ngram_jaccard_pairs`) at the same (threshold, shingle_k)
    operating point, as doc-level verdicts — the decision number for
    "can the cheap signature path replace the exact one on THIS
    corpus?": κ ≈ 1 says yes; the off-diagonal counts say which way
    it errs (sig_only = banding collisions / stop-shingle policy
    differences, exact_only = banding recall misses). Chance-corrected
    agreement matters here because dup verdicts are rare — raw
    agreement is ~1 even for a useless signature.

    Verdict definition: a doc is "duplicate" under a path iff it
    participates in ≥1 pair at the threshold. The signature path bands
    GLOBALLY; its pairs are restricted to same-source here so both
    paths judge the same pair population (the exact path blocks by
    source — its DF cutoff is per-source by design). Docs too short to
    shingle are non-duplicates under both paths and land in the
    agreeing cell, honestly.

    Exactness: both pair relations are the registry operators' own
    machinery (portable md5 hash family; exact Jaccard over integer
    set sizes); verdicts are existence semi-joins; the 2×2 counts are
    exact BIGINTs and κ is one double division via `KAPPA_SQL`
    (shared verbatim with the oracle).

    Scale shape: two linear banded/inverted-index passes (each the
    respective operator's own bound), two doc-level distinct
    projections, two left semi-style joins against the doc spine, one
    global 2×2 aggregate. Nothing new beyond the operators it
    audits."""
    cm = _dedup_verdicts(documents, threshold, shingle_k).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(F.col("v_sig") & F.col("v_exact"), 1).otherwise(0))
        .cast("bigint")
        .alias("a"),
        F.sum(F.when(F.col("v_sig") & ~F.col("v_exact"), 1).otherwise(0))
        .cast("bigint")
        .alias("b"),
        F.sum(F.when(~F.col("v_sig") & F.col("v_exact"), 1).otherwise(0))
        .cast("bigint")
        .alias("c"),
        F.sum(F.when(~F.col("v_sig") & ~F.col("v_exact"), 1).otherwise(0))
        .cast("bigint")
        .alias("d"),
    )
    return cm.select(
        F.col("n").alias("n_docs"),
        F.col("a").alias("both_dup"),
        F.col("b").alias("sig_only"),
        F.col("c").alias("exact_only"),
        (
            (F.col("a") + F.col("d")).cast("double") / F.col("n").cast("double")
        ).alias("agree_rate"),
        F.expr(KAPPA_SQL).alias("kappa"),
    )


def _dedup_verdicts(
    documents: DataFrame, threshold: float, shingle_k: int
) -> DataFrame:
    """The per-doc (source, v_sig, v_exact) verdict relation shared
    by `dedup_agreement_kappa` (global 2×2) and
    `dedup_agreement_by_source` (per-source 2×2): run the signature
    pass (same-source-restricted, so both paths judge the same pair
    population) and the exact inverted-index pass, then flag each doc
    by whether it participates in ≥1 pair under each. Docs too short
    to shingle land in the agreeing non-dup cell, honestly."""
    # The two audited paths are INDEPENDENT pipelines over the same
    # input; each runs eager materialize jobs during construction.
    # Built sequentially, the signature path's job tail leaves the
    # cluster idle while the exact path waits — overlapping the two
    # constructions from a 2-thread pool back-fills those tails
    # (guide §2.6: actions are only sequential because driver code
    # calls them sequentially). Measured at sf0.1: 2.95 s → 1.84 s
    # warm construction. Results are unchanged: the threads only
    # BUILD the two DataFrames (and run their deterministic
    # materialize jobs); the join below still composes them lazily.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_sig = pool.submit(
            minhash_lsh_pairs_portable,
            documents,
            threshold=threshold,
            shingle_k=shingle_k,
        )
        f_exact = pool.submit(
            ngram_jaccard_pairs,
            documents,
            threshold=threshold,
            shingle_k=shingle_k,
        )
        sigp = f_sig.result()
        exp_ = f_exact.result().select("doc_a", "doc_b")
    src = documents.select("doc_id", "source")
    sp = (
        sigp.join(
            src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a")),
            "doc_a",
        )
        .join(
            src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b")),
            "doc_b",
        )
        .filter(F.col("src_a") == F.col("src_b"))
        .select("doc_a", "doc_b")
    )
    def _docset(p: DataFrame, flag: str) -> DataFrame:
        return (
            p.select(F.col("doc_a").alias("doc_id"))
            .unionByName(p.select(F.col("doc_b").alias("doc_id")))
            .distinct()
            .withColumn(flag, F.lit(True))
        )

    return (
        documents.select("doc_id", "source")
        .join(_docset(sp, "s_flag"), "doc_id", "left")
        .join(_docset(exp_, "e_flag"), "doc_id", "left")
        .select(
            "source",
            F.coalesce("s_flag", F.lit(False)).alias("v_sig"),
            F.coalesce("e_flag", F.lit(False)).alias("v_exact"),
        )
    )


def dedup_agreement_by_source(
    documents: DataFrame, threshold: float = 0.5, shingle_k: int = 3
) -> DataFrame:
    """`dedup_agreement_kappa` keyed by source — tells the user WHICH
    ingest's corpus breaks the signature path: a template-heavy feed
    (many borderline-Jaccard pairs) drags banding recall down for
    THAT source while the global κ still looks healthy. Same verdict
    relation (`_dedup_verdicts` — the two audited passes run ONCE),
    one extra groupBy key; the 2×2 counts stay exact BIGINTs and κ is
    the same shared `KAPPA_SQL` division, now per source. A source
    whose docs carry no verdict disagreement and no dups reports
    κ NULL (undefined — chance agreement is 1), the honest edge.

    Scale shape: identical to the global audit plus one key — the
    per-source aggregate is map-side-combinable over the doc-level
    verdict relation; output is #sources rows."""
    cm = (
        _dedup_verdicts(documents, threshold, shingle_k)
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.when(F.col("v_sig") & F.col("v_exact"), 1).otherwise(0))
            .cast("bigint")
            .alias("a"),
            F.sum(F.when(F.col("v_sig") & ~F.col("v_exact"), 1).otherwise(0))
            .cast("bigint")
            .alias("b"),
            F.sum(F.when(~F.col("v_sig") & F.col("v_exact"), 1).otherwise(0))
            .cast("bigint")
            .alias("c"),
            F.sum(F.when(~F.col("v_sig") & ~F.col("v_exact"), 1).otherwise(0))
            .cast("bigint")
            .alias("d"),
        )
    )
    return cm.select(
        "source",
        F.col("n").alias("n_docs"),
        F.col("a").alias("both_dup"),
        F.col("b").alias("sig_only"),
        F.col("c").alias("exact_only"),
        (
            (F.col("a") + F.col("d")).cast("double") / F.col("n").cast("double")
        ).alias("agree_rate"),
        F.expr(KAPPA_SQL).alias("kappa"),
    ).orderBy("source")


def boilerplate_mass_by_source(
    documents: DataFrame, shingle_k: int = 5
) -> DataFrame:
    """Per-source boilerplate MASS: what fraction of each source's
    5-gram token mass sits in grams that repeat across documents —
    the quantitative companion to `top_dup_ngrams_by_source` (which
    names WHICH passages repeat; this says HOW MUCH of the feed a
    boilerplate strip would remove — the number a curation budget is
    planned against). dup = a gram appearing in ≥ 2 distinct docs of
    the SAME source (the per-source report's own criterion).

    Exactness: occurrence and distinct-doc counts are exact BIGINTs
    over the literal shingle strings (`_word_shingles`, multiplicity
    kept); the share is one fixed-shape double division.

    Scale shape: ONE gram explode (the standard shingle-pass cost) +
    one (source, gram) count shuffle — exactly `top_dup_ngrams_by_
    source`'s plan minus the window — then a #sources-row final.
    Singleton grams never leave the aggregate."""
    grams = _word_shingles(F.col("text"), shingle_k, distinct=False)
    exploded = (
        _spread(documents.filter(F.col("text").isNotNull()), "doc_id", cap=4 * documents.rdd.getNumPartitions())
        .select("source", "doc_id", F.explode(grams).alias("gram"))
    )
    counted = exploded.groupBy("source", "gram").agg(
        F.count("*").cast("bigint").alias("n_occ"),
        F.count_distinct("doc_id").cast("bigint").alias("n_docs"),
    )
    return (
        counted.groupBy("source")
        .agg(
            F.sum("n_occ").cast("bigint").alias("n_grams"),
            F.sum(F.when(F.col("n_docs") >= 2, F.col("n_occ")).otherwise(0))
            .cast("bigint")
            .alias("dup_gram_occurrences"),
            F.count("*").cast("bigint").alias("n_distinct_grams"),
        )
        .select(
            "source",
            "n_grams",
            "dup_gram_occurrences",
            "n_distinct_grams",
            F.expr(
                "CASE WHEN n_grams > 0 THEN CAST(dup_gram_occurrences"
                " AS DOUBLE) / CAST(n_grams AS DOUBLE) END"
            ).alias("dup_mass_share"),
        )
        .orderBy("source")
    )


def winnow_chain_lengths(
    documents: DataFrame,
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_df: int = 50,
) -> DataFrame:
    """Dup-CHAIN length distribution from winnowing evidence: the
    transitive closure of `winnow_overlap_pairs` (A shares a passage
    with B, B with C ⇒ one chain), histogrammed by chain size — the
    panel that distinguishes isolated near-pairs (chain_len 2,
    harmless re-posts) from boilerplate cascades (long chains of
    template descendants, where removing pairs one at a time
    undercounts the redundant mass). n_docs per row = chain_len ×
    n_chains by construction; doc_share is each chain-size class's
    share of CHAINED docs (singletons excluded — they're the corpus
    minus the closure, reported by the dedup scorecards).

    Exactness: pairs are the winnowing operator's own md5-portable
    machinery; the closure is min-label propagation (order-independent
    — the `dup_clusters` contract, mirrored in DuckDB by a recursive
    reachability closure exactly as `dedup_keepers` does); counts are
    integers and the one double division is final.

    Scale shape: the pair pass is `winnow_overlap_pairs`' own bound
    (measured 244 s / 5M docs); the closure runs over the PAIR
    relation (bounded CC iterations, lineage-checkpointed); the
    histogram is two keyed counts over the tiny cluster relation
    (materialized — the share row and the size rows both consume
    it)."""
    pairs = winnow_overlap_pairs(documents, k, w, min_shared, max_df)
    clusters = dup_clusters(pairs.select("doc_a", "doc_b"))
    sizes = clusters.groupBy("cluster_id").agg(
        F.count("*").cast("bigint").alias("chain_len")
    )
    hist = _materialize(
        sizes.groupBy("chain_len").agg(
            F.count("*").cast("bigint").alias("n_chains")
        )
    )
    total = hist.agg(
        F.sum(F.col("chain_len") * F.col("n_chains")).alias("n_chained_docs")
    )
    return (
        hist.crossJoin(F.broadcast(total))
        .select(
            "chain_len",
            "n_chains",
            (F.col("chain_len") * F.col("n_chains")).alias("n_docs"),
            (
                (F.col("chain_len") * F.col("n_chains")).cast("double")
                / F.col("n_chained_docs").cast("double")
            ).alias("doc_share"),
        )
        .orderBy("chain_len")
    )


def minhash_jaccard_calibration(
    documents: DataFrame,
    n_hashes: int = N_HASHES,
    bands: int = BANDS,
    shingle_k: int = 3,
    err_bins: int = 20,
) -> DataFrame:
    """How accurate is the MinHash Jaccard ESTIMATE on *this* corpus?
    For every banded candidate pair: estimated Jaccard = matching
    signature components / n_hashes vs the exact shingle-set Jaccard,
    bucketed by absolute error into ``err_bins`` 1/err_bins-wide
    bins — the calibration readout that, together with
    `dedup_agreement_kappa` (decision-level agreement), tells a user
    whether the signature path can replace exact verification at their
    threshold: a histogram hugging bucket 0 says the estimator's
    √(j(1−j)/n_hashes) error is inside their decision margin.

    Exactness end-to-end: both Jaccards are RATIONALS of exact
    integers (the portable md5 hash family — bit-identical shingle
    keys in both engines), so the error bucket
    floor(err_bins·|m·u − i·H| / (H·u)) is pure integer arithmetic:
    m = matching components, H = n_hashes, i = |A∩B|, u = |A∪B|.
    sum_matches = Σm is integral (shared denominator H), letting the
    consumer recover the mean estimate per bucket exactly. One double
    division for `share`.

    Scale shape: rides the standard banded pass — the materialized
    shingle-hash relation feeds signatures AND exact verification
    (diamond rule), candidates come from band equality (never
    all-pairs), and both the component-match join and the set
    intersection run on CANDIDATES only. Output ≤ err_bins+1 rows."""
    if n_hashes % bands:
        raise ValueError("minhash_jaccard_calibration: bands must divide n_hashes")
    hs_base = _materialize(portable_shingle_hashes(documents, shingle_k))
    # one parsed expression per aggregate / band struct / rename (the
    # portable_bands py4j rule); literal types match the F.lit form,
    # so the signature arithmetic is identical
    sig = _materialize(
        hs_base.groupBy("doc_id").agg(
            *[
                F.expr(
                    f"min(({a} * shiftright(h, 30) + {b} * (h & {(1 << 30) - 1})"
                    f" + {c}) % {MINHASH_P}) AS mh_{i}"
                )
                for i, (a, b, c) in enumerate(portable_perm_params(n_hashes))
            ]
        )
    )
    rows_per_band = n_hashes // bands
    band_structs = ", ".join(
        "struct({bi} AS band_id, concat_ws('|', {parts}) AS band_key)".format(
            bi=bi,
            parts=", ".join(
                f"CAST(mh_{bi * rows_per_band + r} AS STRING)"
                for r in range(rows_per_band)
            ),
        )
        for bi in range(bands)
    )
    banded = sig.selectExpr(
        "doc_id", f"explode(array({band_structs})) AS band"
    ).selectExpr("doc_id", "band.band_id AS band_id", "band.band_key AS band_key")
    cand = (
        banded.select("band_id", "band_key", F.col("doc_id").alias("doc_a"))
        .join(
            banded.select(
                "band_id", "band_key", F.col("doc_id").alias("doc_b")
            ),
            ["band_id", "band_key"],
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sig_a = sig.selectExpr(
        "doc_id AS doc_a", *[f"mh_{i} AS a_{i}" for i in range(n_hashes)]
    )
    sig_b = sig.selectExpr(
        "doc_id AS doc_b", *[f"mh_{i} AS b_{i}" for i in range(n_hashes)]
    )
    match_expr = F.expr(
        " + ".join(
            f"(CASE WHEN a_{i} = b_{i} THEN 1 ELSE 0 END)"
            for i in range(n_hashes)
        )
    )
    shing = hs_base.groupBy("doc_id").agg(
        F.array_sort(F.collect_set("h")).alias("hs")
    )
    verified = (
        cand.join(sig_a, "doc_a")
        .join(sig_b, "doc_b")
        .select("doc_a", "doc_b", match_expr.cast("bigint").alias("m"))
        .join(
            shing.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a")),
            "doc_a",
        )
        .join(
            shing.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b")),
            "doc_b",
        )
        .select(
            "m",
            F.size(F.array_intersect("hs_a", "hs_b")).cast("bigint").alias("i"),
            (F.size("hs_a") + F.size("hs_b")).cast("bigint").alias("sz"),
        )
        .select(
            "m",
            "i",
            (F.col("sz") - F.col("i")).alias("u"),
        )
    )
    counts = _materialize(
        verified.select(
            F.least(
                F.expr(
                    f"({err_bins} * abs(m * u - i * {n_hashes}))"
                    f" div ({n_hashes} * u)"
                ),
                F.lit(err_bins - 1),
            ).alias("err_bucket"),
            "m",
        )
        .groupBy("err_bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum("m").cast("bigint").alias("sum_matches"),
        )
    )
    total = counts.agg(F.sum("n_pairs").alias("t"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            F.col("err_bucket").cast("int").alias("err_bucket"),
            "n_pairs",
            "sum_matches",
            (F.col("n_pairs").cast("double") / F.col("t").cast("double")).alias(
                "share"
            ),
        )
        .orderBy("err_bucket")
    )


def top_dup_ngrams(
    documents: DataFrame, shingle_k: int = 5, top_n: int = 20
) -> DataFrame:
    """The most-duplicated passages report: word ``shingle_k``-grams
    ranked by how many DISTINCT documents contain them — the
    boilerplate-hunting readout (nav bars, license headers, template
    footers) that tells a curation pipeline WHAT `paragraph_dedup` /
    `boilerplate_lines` are about to remove, in the operators' own
    shingle vocabulary. Distinct-doc count (not occurrences) ranks, so
    one document repeating a phrase can't fake corpus-wide
    boilerplate; occurrence counts ride along.

    Exactness: grams are the literal shingle STRINGS (the
    `ngram_jaccard_pairs` tokenization, pre-distinct so occurrence
    counts are honest); counts are exact BIGINTs; the top-N order is
    (n_docs DESC, n_occurrences DESC, gram) — a unique tiebreak, the
    `topk_events` rule.

    Scale shape: the gram explode is the standard shingle-pass cost
    (~tokens rows, spread before the explode); one count shuffle keyed
    by gram; the top-N is TakeOrderedAndProject — no global sort ever
    materializes. Only grams with n_docs ≥ 2 qualify (singleton grams
    — the overwhelming mass — die in the aggregate's filter, never
    reaching the driver)."""
    grams = _word_shingles(F.col("text"), shingle_k, distinct=False)
    exploded = (
        _spread(documents.filter(F.col("text").isNotNull()), "doc_id", cap=4 * documents.rdd.getNumPartitions())
        .select("doc_id", F.explode(grams).alias("gram"))
    )
    counted = exploded.groupBy("gram").agg(
        F.count("*").cast("bigint").alias("n_occurrences"),
        F.count_distinct("doc_id").cast("bigint").alias("n_docs"),
    )
    return (
        counted.filter(F.col("n_docs") >= 2)
        .orderBy(
            F.col("n_docs").desc(), F.col("n_occurrences").desc(), F.col("gram")
        )
        .limit(top_n)
    )


def top_dup_ngrams_by_source(
    documents: DataFrame, shingle_k: int = 5, top_n: int = 5
) -> DataFrame:
    """`top_dup_ngrams` keyed by source: each source's own top-N
    boilerplate passages — the per-feed view a curation pipeline acts
    on (global boilerplate says what to strip everywhere; per-source
    says WHICH ingest is template-heavy). Same exactness and scale
    shape as the global report; the top-N is a per-source window over
    the counted gram relation, WindowGroupLimit-pruned (rank ≤ N
    pushes into the shuffle), with the same unique tiebreak."""
    grams = _word_shingles(F.col("text"), shingle_k, distinct=False)
    exploded = (
        _spread(documents.filter(F.col("text").isNotNull()), "doc_id", cap=4 * documents.rdd.getNumPartitions())
        .select("source", "doc_id", F.explode(grams).alias("gram"))
    )
    counted = exploded.groupBy("source", "gram").agg(
        F.count("*").cast("bigint").alias("n_occurrences"),
        F.count_distinct("doc_id").cast("bigint").alias("n_docs"),
    )
    w = Window.partitionBy("source").orderBy(
        F.col("n_docs").desc(), F.col("n_occurrences").desc(), F.col("gram")
    )
    return (
        counted.filter(F.col("n_docs") >= 2)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= top_n)
        .select("source", "gram", "n_occurrences", "n_docs")
        .orderBy("source", F.col("n_docs").desc(), F.col("n_occurrences").desc(), "gram")
    )
