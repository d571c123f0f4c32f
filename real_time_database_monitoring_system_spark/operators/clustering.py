"""Embedding clustering and cluster-blocked curation operators.

K-means (Lloyd) over the `embeddings` table, plus the two curation
operators the LLM-data literature builds on top of it:

- `semantic_dedup` — SemDeDup (Abbas et al., 2023): cluster the
  corpus, then search for near-duplicate pairs ONLY within a cluster.
  The cluster assignment is the blocking structure that replaces the
  all-pairs cross product; at corpus scale k grows with N so the
  per-cluster block stays bounded.
- `prototypicality` — SSL-prototype pruning (Sorscher et al., 2022):
  rank each vector by distance to its own cluster centroid and flag
  the peripheral tail, the standard "keep prototypical examples"
  pruning signal.

Determinism contract (the repo-wide oracle rule): all distance math
runs in the INTEGER domain. Embeddings are quantized once to
``q_i = round(x_i * 1e6)`` longs; squared L2 distances, dot products
and centroid updates are exact integer arithmetic, so Spark and the
DuckDB oracle agree bit-for-bit with no float-summation-order hazard.
Centroid means round to the integer grid via ``(2*s + n) div (2*n)``
(truncating division, identical in Spark `div`, DuckDB `//` and the
driver-side helper below) — quantized k-means, losing 1e-6 of
precision per coordinate per step.

Plan shape (the MLlib KMeans shape, restated declaratively):

- Fit: per iteration, ONE scan of the quantized table (assignment is
  a single projected expression over k literal centroids — no join,
  no shuffle) + ONE narrow shuffle of (cluster, dim, value) partial
  sums (map-side combine caps each task's output at k×64 rows) + a
  k×64-row collect to the driver. Centroids are model state, not
  data — collecting them is the broadcast-variable pattern, not a
  driver-side data loop.
- Final assignment query: pure map-side (scan + project against
  literal centroids), zero shuffles; Catalyst sees one stage.

Reference parity: the reference has no ML surface at all — these
operators are part of the training-data-pipeline layer this engine
adds on top of the reference's monitoring queries (SURVEY.md §6).
"""

from __future__ import annotations

import weakref

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .util import materialize as _materialize
from .util import spread as _spread

_SCALE = 1_000_000


def _tdiv(a: int, b: int) -> int:
    """Truncating integer division (toward zero) — matches Spark's
    `div` and DuckDB's `//` for the negative numerators a centered
    quantization can produce (Python's `//` floors instead)."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def quantized(embeddings: DataFrame) -> DataFrame:
    """(vec_id, label, qvec: array<long>) with q_i = round(x_i*1e6).

    Centered (sign-preserving) quantization: dot products and cosines
    over qvec approximate the float originals to ~1e-6 while keeping
    every downstream comparison exact-integer.

    NULL embeddings AND vectors containing a NULL element are dropped
    (matching the oracles' WHERE): either otherwise rides through as a
    NULL distance, where Spark's null-skipping `least` and SQL's
    NULLS-LAST row_number would pick different clusters.

    Domain guard: the packed argmin in `_best_cluster` requires
    |q_i| ≤ 2^21 (|x_i| ≲ 2.097 — any normalized or near-normalized
    embedding). A coordinate outside that bound would silently
    overflow the shifted distance key, so it raises instead — loud
    failure, never garbage clusters."""
    qv = (
        embeddings.filter(F.col("embedding").isNotNull())
        .filter(
            F.forall(
                F.col("embedding").cast("array<double>"), lambda x: x.isNotNull()
            )
        )
        .select(
            "vec_id",
            "label",
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: F.round(x * _SCALE).cast("long"),
            ).alias("qvec"),
        )
    )
    in_domain = F.forall(F.col("qvec"), lambda q: F.abs(q) <= F.lit(1 << 21))
    return qv.filter(
        F.when(in_domain, F.lit(True)).otherwise(
            F.raise_error(
                F.lit(
                    "quantized: |coordinate| exceeds ~2.097 — the packed "
                    "argmin would overflow; normalize the embeddings"
                )
            )
        )
    )


def _dist_sq_sql(vec_name: str, centroid: list[int]) -> str:
    """SQL text for the exact squared L2 distance between column
    ``vec_name`` and a literal centroid: Σ(a−b)² ≤ 64·(2^21)² ≪ 2^63,
    fold over longs.

    The WHOLE expression is one SQL string, parsed JVM-side in one
    call instead of a py4j round-trip per literal or lambda: the
    former Column-built form (`F.zip_with` + `F.aggregate` with
    Python lambdas) cost dozens of py4j round-trips
    per centroid — k=8 centroids × (2 Lloyd iterations + the
    assignment projection) measured ~0.23 s of pure driver-side plan
    CONSTRUCTION per query call (r13 instrumentation). One parsed
    string is the identical resolved expression — same zip_with/
    aggregate fold, same long arithmetic — so results are unchanged
    bit for bit."""
    lit_c = "array(" + ",".join(f"{int(v)}L" for v in centroid) + ")"
    return (
        f"aggregate(zip_with({vec_name}, {lit_c},"
        " (a, b) -> (a - b) * (a - b)),"
        " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )


def _best_cluster(vec_sql: str, centroids: dict[int, list[int]]) -> tuple[Column, Column]:
    """(cluster_id, dist_sq) of the nearest centroid, ties to the
    smaller cluster id. ``vec_sql`` is the SQL TEXT of the quantized
    vector (a column name, or a quantization expression — see
    `cluster_id_col`), interpolated into one parsed expression per
    output (the `_dist_sq_sql` py4j rule).

    The argmin is `least(dist << 6 | cid)` — dist ≤ 64·(2^21)² < 2^47,
    so the shifted key stays well inside a long and orders exactly like
    the (dist, cid) lexicographic sort the oracle's row_number uses.
    Single projected expression over literal centroids: no join, no
    shuffle. (An earlier struct-based `least` lost field names to
    struct type coercion; the integer encoding is also cheaper.)"""
    assert len(centroids) <= 64, "encoded argmin supports ≤ 64 clusters"
    cands = [
        f"(shiftleft({_dist_sq_sql(vec_sql, cvec)}, 6) | {int(cid)})"
        for cid, cvec in sorted(centroids.items())
    ]
    best_sql = cands[0] if len(cands) == 1 else (
        "least(" + ", ".join(cands) + ")"
    )
    return (
        F.expr(f"CAST(({best_sql}) & 63 AS INT)"),
        F.expr(f"shiftrightunsigned({best_sql}, 6)"),
    )


def _quantized_table(embeddings: DataFrame) -> DataFrame:
    """The materialized, spread quantized relation every Lloyd job and
    (r13) every same-call consumer reads — computed from the source
    exactly once per operator call.

    Spread width capped by the input's split count (the
    embedding_near_dup_pairs rule): the Lloyd assignment projection
    is k × 64-term fold trees, and at full local width a tiny table
    fans out into setup-dominated tasks (measured kmeans_clusters
    3.03 → 2.38 s at sf0.1 with the cap; a real corpus arrives in
    thousands of splits, so the cap never binds in production)."""
    return _materialize(
        _spread(
            quantized(embeddings),
            "vec_id",
            cap=4 * embeddings.rdd.getNumPartitions(),
        )
    )


# Static Column groups over a fixed schema, built once per live
# SparkContext: rebuilding them per call costs a py4j round-trip per
# F.expr (the 64 dimension sums measured 0.115 s per kmeans_fit call,
# the PCA groups 1.08 s per call — r13 instrumentation). A Column is a
# handle into the JVM that made it, so a stopped or relaunched context
# must rebuild rather than reuse it.
_EXPR_CACHE: dict = {}


def _per_context(key, build):
    """``build()``, memoized per (key, live SparkContext)."""
    sc = SparkContext._active_spark_context
    hit = _EXPR_CACHE.get(key)
    if hit is None or hit[0]() is not sc:
        hit = _EXPR_CACHE[key] = (weakref.ref(sc), build())
    return hit[1]


def _dim_sums() -> list[Column]:
    return _per_context(
        "dim_sums",
        lambda: [F.expr(f"sum(qvec[{i}])").alias(f"s_{i}") for i in range(64)],
    )


def _lloyd(qv: DataFrame, k: int, n_iter: int) -> dict[int, list[int]]:
    """Lloyd iterations over an already-materialized quantized
    relation; returns the final centroids (see `kmeans_fit`)."""
    seeds = qv.orderBy("vec_id").limit(k).select("vec_id", "qvec").collect()
    centroids = {i: list(r["qvec"]) for i, r in enumerate(seeds)}
    if not centroids:
        return centroids
    # a single groupBy(cid) with 64 sums + count shuffles k×65 values
    # total — the earlier posexplode form multiplied the feed ×64
    # before its (cid, pos) shuffle for the same integer sums
    # (equivalence: Σ qvec[i] per cid is the same number either way)
    dim_sums = _dim_sums()
    for _ in range(n_iter):
        cid_col, _d = _best_cluster("qvec", centroids)
        rows = (
            qv.select(cid_col.alias("cid"), "qvec")
            .groupBy("cid")
            .agg(F.count("*").alias("n"), *dim_sums)
            .collect()
        )
        new: dict[int, list[int]] = {}
        for r in rows:
            n = r["n"]
            new[r["cid"]] = [_tdiv(2 * r[f"s_{i}"] + n, 2 * n) for i in range(64)]
        # empty clusters carry their previous centroid
        centroids = {cid: new.get(cid, cvec) for cid, cvec in centroids.items()}
    return centroids


def kmeans_fit(
    embeddings: DataFrame, k: int = 8, n_iter: int = 2
) -> dict[int, list[int]]:
    """Lloyd iterations on the quantized table; returns the final
    centroids {cluster_id: [64 longs]}.

    Init is deterministic: the k smallest vec_ids seed the clusters
    (cluster_id = seed vec_id's rank order = vec_id for the test
    tables). A cluster that loses all members keeps its previous
    centroid (both engines implement the same carry rule)."""
    return _lloyd(_quantized_table(embeddings), k, n_iter)


def kmeans_assign(
    embeddings: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    keep_qvec: bool = False,
    centroids: dict[int, list[int]] | None = None,
) -> DataFrame:
    """(vec_id, label, cluster_id, dist_sq[, qvec]) after `n_iter`
    Lloyd rounds. The returned plan is scan+project only — the fitted
    centroids are baked in as literals, so the 100 TB assignment pass
    is embarrassingly parallel with zero exchanges. `keep_qvec` lets a
    consumer that needs the vectors (the within-cluster pair search)
    carry them through the same projection instead of joining the
    quantized table back on vec_id. `centroids` accepts a precomputed
    fit (from `kmeans_fit` with the same params) so callers needing
    both the model and the assignment — `cluster_quality` — pay the
    Lloyd iterations once, not twice."""
    if centroids is None:
        centroids = kmeans_fit(embeddings, k=k, n_iter=n_iter)
    qv = quantized(embeddings)
    extra = ["qvec"] if keep_qvec else []
    if not centroids:
        return qv.select(
            "vec_id",
            "label",
            F.lit(None).cast("int").alias("cluster_id"),
            F.lit(None).cast("long").alias("dist_sq"),
            *extra,
        ).limit(0)
    cid_col, dist_col = _best_cluster("qvec", centroids)
    return qv.select(
        "vec_id",
        "label",
        cid_col.alias("cluster_id"),
        dist_col.alias("dist_sq"),
        *extra,
    )


def kmeans_clusters(embeddings: DataFrame, k: int = 8, n_iter: int = 2) -> DataFrame:
    """Driver-checked surface: full assignment ordered by vec_id.

    r13: reads the fit's materialized quantized relation instead of
    re-scanning and re-quantizing the source for the assignment pass
    (the `semantic_dedup` reuse — the fit already paid for that
    relation; identical rows by construction). `kmeans_assign` keeps
    the zero-exchange scan+project shape for callers that want a
    source-anchored assignment plan."""
    qv = _quantized_table(embeddings)
    centroids = _lloyd(qv, k, n_iter)
    if not centroids:
        return kmeans_assign(
            embeddings, k=k, n_iter=n_iter, centroids=centroids
        ).orderBy("vec_id")
    cid_col, dist_col = _best_cluster("qvec", centroids)
    return qv.select(
        "vec_id",
        "label",
        cid_col.alias("cluster_id"),
        dist_col.alias("dist_sq"),
    ).orderBy("vec_id")


def _int_dot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two qvec columns (≤ 64·(2^21)²).

    The aggregate(zip_with) fold beats a flat unrolled
    `a[0]*b[0] + … + a[63]*b[63]` expression here (measured 3.2 s vs
    4.9 s warm on the sf0.1 pair stage): 127 GetArrayItem nodes carry
    per-element null/bounds checks and blow up the codegen'd method,
    while the fold walks both array buffers once."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def semantic_dedup(
    embeddings: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    threshold: float = 0.3,
) -> DataFrame:
    """SemDeDup: near-duplicate pairs (a_id, b_id, cos_sim) searched
    ONLY within a k-means cluster.

    The cluster id is the blocking key: the self-join shuffles both
    sides on cluster_id and compares a_id < b_id pairs inside each
    block. At 100 TB, k scales with the corpus (SemDeDup uses ~10^5
    clusters for 10^9 docs) so blocks stay bounded; a degenerate hot
    cluster is the same skew problem as any blocked join and takes
    the same salting fix (`operators.skew`). MEASURED at 200k
    vectors: the fixed check-scale k=8 makes 25k-row blocks (≈2.5e9
    pairs — quadratic, do not run); k is the knob, and beyond a few
    hundred clusters the literal-centroid assignment (chosen here for
    oracle exactness) hands off to a centroid-TABLE join — identical
    integer math, no literals in the plan, unbounded k. Cosine is computed on
    the exact integer dots (double-exact below 2^53), rounded to 9 dp
    before thresholding — the repo-wide cross-engine cosine rule.

    Each row's squared norm is computed ONCE, map-side, into the
    materialized assignment table: the quadratic pair stage then
    evaluates a single 64-element fold per pair (the cross dot)
    instead of three — same final expression bit for bit
    (sqrt(na)·sqrt(nb) on the exact integer norms), 3× less fold work
    where the operator actually spends its time.

    r13: the assignment is built over the SAME materialized quantized
    relation the fit iterated on (guide §2.4 — the former shape
    re-read the source, re-quantized and re-spread it for the
    assignment pass; the relation is already spread by vec_id, so the
    second repartition exchange disappears with the duplicate scan).
    Identical rows: `kmeans_assign` applies the same `quantized`
    projection this relation was built from."""
    qv = _quantized_table(embeddings)
    centroids = _lloyd(qv, k, n_iter)
    if centroids:
        cid_col, _dist = _best_cluster("qvec", centroids)
        assigned = qv.select(cid_col.alias("cluster_id"), "vec_id", "qvec")
    else:
        assigned = kmeans_assign(
            embeddings, k=k, n_iter=n_iter, keep_qvec=True, centroids=centroids
        ).select("cluster_id", "vec_id", "qvec")
    assign = _materialize(
        assigned.select(
            "cluster_id",
            "vec_id",
            "qvec",
            _int_dot(F.col("qvec"), F.col("qvec")).alias("norm_sq"),
        )
    )
    a = assign.select(
        F.col("cluster_id"),
        F.col("vec_id").alias("a_id"),
        F.col("qvec").alias("a_vec"),
        F.col("norm_sq").alias("a_norm"),
    )
    b = assign.select(
        F.col("cluster_id"),
        F.col("vec_id").alias("b_id"),
        F.col("qvec").alias("b_vec"),
        F.col("norm_sq").alias("b_norm"),
    )
    cos = F.round(
        _int_dot(F.col("a_vec"), F.col("b_vec")).cast("double")
        / (
            F.sqrt(F.col("a_norm").cast("double"))
            * F.sqrt(F.col("b_norm").cast("double"))
        ),
        9,
    )
    return (
        a.join(b, "cluster_id")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("cluster_id", "a_id", "b_id", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
        .orderBy("a_id", "b_id")
    )


def prototypicality(
    embeddings: DataFrame, k: int = 8, n_iter: int = 2, tail: float = 0.9
) -> DataFrame:
    """Prototype-distance pruning signal: every vector with its
    cluster, exact distance-to-centroid, the cluster's discrete
    `tail`-quantile of that distance, and an `is_peripheral` flag for
    the tail beyond it (the prune-candidate set).

    One map-side assignment pass + one k-row quantile aggregate
    (exact `percentile_disc` over integer distances — no float
    interpolation to disagree across engines) joined back broadcast.
    r13: the assignment reads the fit's materialized quantized
    relation instead of re-scanning and re-quantizing the source
    (the `semantic_dedup` reuse; identical rows by construction)."""
    qv = _quantized_table(embeddings)
    centroids = _lloyd(qv, k, n_iter)
    if centroids:
        cid_col, dist_col = _best_cluster("qvec", centroids)
        assigned = qv.select(
            "vec_id",
            "label",
            cid_col.alias("cluster_id"),
            dist_col.alias("dist_sq"),
        )
    else:
        assigned = kmeans_assign(
            embeddings, k=k, n_iter=n_iter, centroids=centroids
        )
    assign = _materialize(assigned)
    thr = assign.groupBy("cluster_id").agg(
        F.expr(f"percentile_disc({tail}) WITHIN GROUP (ORDER BY dist_sq)")
        .cast("long")  # disc picks an actual integer distance; keep it integral
        .alias("dist_p_tail")
    )
    return (
        assign.join(F.broadcast(thr), "cluster_id")
        .select(
            "vec_id",
            "label",
            "cluster_id",
            "dist_sq",
            "dist_p_tail",
            (F.col("dist_sq") > F.col("dist_p_tail")).alias("is_peripheral"),
        )
        .orderBy("vec_id")
    )


def cluster_id_col(embeddings_col: str, centroids: dict[int, list[int]]) -> Column:
    """Map-side cluster id for a raw float embedding COLUMN NAME under
    fitted centroids — quantization + argmin in one projected
    expression (no join, no shuffle; the quantization inlines into the
    `_best_cluster` SQL text, the same transform `quantized` applies).
    Empty centroids (a fit on an empty table) degrade to a NULL
    cluster id, so a partitioned write of an empty corpus still
    succeeds."""
    if not centroids:
        return F.lit(None).cast("int")
    q_sql = (
        f"transform(CAST({embeddings_col} AS ARRAY<DOUBLE>),"
        f" x -> CAST(round(x * {_SCALE}) AS BIGINT))"
    )
    cid, _dist = _best_cluster(q_sql, centroids)
    return cid


def write_clustered(
    embeddings: DataFrame, path: str, k: int = 8, n_iter: int = 2
) -> dict[int, list[int]]:
    """Persist the embedding table partitioned by its k-means cluster
    id — the IVF storage layout: each inverted list is a directory, so
    an `nprobe`-list probe opens only those directories
    (PartitionFilters prune before any file IO) instead of scanning
    the corpus. This is the at-rest half of `similarity.ivf_knn`'s
    "at scale the big side is pre-partitioned by list id" contract.

    Returns the fitted centroids so the prober can rank lists without
    re-fitting. The write is one fit + one map-side assignment pass +
    the partitioned write; re-clustering (k changes, drift) is a
    rewrite, which is how IVF indexes rebuild anywhere."""
    centroids = kmeans_fit(embeddings, k=k, n_iter=n_iter)
    (
        embeddings.withColumn(
            "cluster_id", cluster_id_col("embedding", centroids)
        )
        .write.mode("overwrite")
        .partitionBy("cluster_id")
        .parquet(path)
    )
    return centroids


def read_probed(spark, path: str, probe_clusters: list[int]) -> DataFrame:
    """Read only the probed inverted lists from a `write_clustered`
    layout; the isin predicate is a partition filter, so unprobed
    lists cost nothing. The schema is explicit (the engine-wide
    no-inference rule), which also makes an empty layout — a fit on
    an empty corpus writes no files — readable instead of an
    UNABLE_TO_INFER_SCHEMA failure."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    from ..sources.registry import SCHEMAS

    # StructType.add mutates in place — build a fresh copy instead of
    # appending to the shared registry schema
    schema = StructType(
        list(SCHEMAS["embeddings"].fields) + [StructField("cluster_id", IntegerType())]
    )
    return spark.read.schema(schema).parquet(path).filter(
        F.col("cluster_id").isin([int(c) for c in probe_clusters])
    )


def cluster_quality(
    embeddings: DataFrame, k: int = 8, n_iter: int = 2
) -> DataFrame:
    """Davies–Bouldin cluster-quality diagnostics: one row per cluster
    with its size, intra-cluster scatter S_i (mean member→centroid
    distance), the most-confusable other cluster, and the DB ratio
    R_i = max_j≠i (S_i + S_j) / M_ij — the model-selection signal for
    choosing k (lower is better; mean of R_i is the DB index).

    Cost shape: the 0-exchange assignment pass + ONE k-row aggregate;
    the k×k centroid-separation table is computed driver-side from the
    exact integer centroids (model state, not data). Determinism: the
    per-point sqrt is rounded to 9 dp then decimal-accumulated (the
    user_entropy rule), centroid separations are exact-integer sums
    under one sqrt."""
    centroids = kmeans_fit(embeddings, k=k, n_iter=n_iter)
    if not centroids:
        return embeddings.sparkSession.createDataFrame(
            [], "cluster_id int, n_members bigint, s_intra double, "
            "nearest_other int, r_max double"
        )
    assign = kmeans_assign(embeddings, k=k, n_iter=n_iter, centroids=centroids)
    scatter = assign.groupBy("cluster_id").agg(
        F.count("*").alias("n_members"),
        (
            F.sum(
                F.round(F.sqrt(F.col("dist_sq").cast("double")), 9).cast(
                    "decimal(28,9)"
                )
            ).cast("double")
            / F.count("*").cast("double")
        ).alias("s_intra"),
    )
    sep_rows = []
    for i, ci in centroids.items():
        for j, cj in centroids.items():
            if i != j:
                m = sum((a - b) * (a - b) for a, b in zip(ci, cj)) ** 0.5
                sep_rows.append((i, j, float(m)))
    seps = embeddings.sparkSession.createDataFrame(
        sep_rows, "cluster_id int, other_id int, m_sep double"
    )
    a = scatter.select("cluster_id", "n_members", "s_intra")
    b = scatter.select(
        F.col("cluster_id").alias("other_id"), F.col("s_intra").alias("s_other")
    )
    ratios = (
        seps.join(F.broadcast(a), "cluster_id")
        .join(F.broadcast(b), "other_id")
        .select(
            "cluster_id",
            "n_members",
            "s_intra",
            "other_id",
            F.round((F.col("s_intra") + F.col("s_other")) / F.col("m_sep"), 9).alias(
                "r"
            ),
        )
    )
    w_best = Window.partitionBy("cluster_id").orderBy(F.desc("r"), F.asc("other_id"))
    return (
        ratios.withColumn("rk", F.row_number().over(w_best))
        .filter(F.col("rk") == 1)
        .select(
            "cluster_id",
            "n_members",
            F.round("s_intra", 9).alias("s_intra"),
            F.col("other_id").alias("nearest_other"),
            F.col("r").alias("r_max"),
        )
        .orderBy("cluster_id")
    )


def _pca_chain(terms: list[str]) -> str:
    """Left-associated sum chain — BOTH engines parse `a + b + c` into
    the same evaluation order, so generated-identical text guarantees
    bit-identical double folds."""
    return " + ".join(terms)


def pca_power_iter(embeddings: DataFrame, dims: int = 64) -> DataFrame:
    """Dominant principal direction of the (uncentered) embedding
    Gram matrix by TWO unrolled power-iteration steps, entirely
    in-engine — the distributed linear-algebra primitive behind
    embedding-drift monitoring and whitening ("which direction holds
    the corpus' variance, and how much moved since yesterday").
    Never materializes the 64×64 covariance: each step is the matvec
    X·(Xᵀv) as one row-wise dot + one 64-sum aggregate, the classic
    two-pass trick that scales to any row count at fixed state.

    Engine-exactness (the reason two FIXED steps, not
    iterate-to-convergence): v₀ = 1 (scale cancels in normalization),
    so step 1's per-row dot Σ_d q_d is an exact integer and the
    per-dim sums S1_d are exact DECIMAL/HUGEINT. v₁ is rounded to
    6 dp; step 2's per-row dot is then EXACT in doubles (6-dp values
    scaled by 2^21-bounded integers stay under 2^53), re-scaled to an
    exact integer micro-dot, so S2_d is again exact integer
    accumulation — order-independent under any partitioning. Both
    normalizations are generated left-associated 64-term chains
    (identical text on both engines) with one sqrt each, rounded at
    the edge. A rank-deficient corpus (zero norm) yields NULL
    loadings, not a crash.

    Scale shape: the quantized relation is materialized once and
    scanned twice (once per step); each step is map-side projection +
    ONE 64-column aggregate; v₁ rides back as a broadcast 1-row
    relation. Nothing row-wise ever shuffles."""
    if dims != 64:
        raise ValueError("pca_power_iter: the engine's embedding width is 64")
    qv = _materialize(quantized(embeddings).select("vec_id", "qvec"))
    # the per-row sum is projected ONCE and the 64 aggregates read the
    # projected column — embedding the 64-term chain inside each of the
    # 64 SUM expressions generates 64×64-term methods that overflow
    # janino's 64 KB method limit (whole-stage codegen fails, the
    # aggregate runs interpreted, and every stage pays repeated failed
    # compiles: measured 15.7 s → ~1 s at sf0.1). Same arithmetic
    # (BIGINT product, DECIMAL(38,0) accumulation), same values.
    # All five expression groups are STATIC in dims, so they are built
    # once per SparkContext (`_pca_exprs`) — rebuilding them per call
    # cost 1.08 s of py4j round-trips (r13 instrumentation, the `_dim_sums`
    # rule).
    rowsum, s1_aggs, v1_cols, idot, s2_aggs, l_cols, dim_structs = _pca_exprs(
        dims
    )
    s1 = qv.select("qvec", rowsum).agg(*s1_aggs)
    # norm chains likewise project once (64 copies of a 64-term chain
    # is the same codegen blowup, just on a 1-row relation)
    v1 = s1.select("*", _pca_norm_col(dims, "s1", "n1sq")).select(*v1_cols)
    # the per-row micro-dot is projected ONCE, then 64 sums read it —
    # not re-derived inside every aggregate expression (the twin's
    # planner materializes each copy; one projection keeps both plans
    # linear in dims instead of quadratic)
    s2 = qv.crossJoin(F.broadcast(v1)).select("qvec", idot).agg(*s2_aggs)
    loadings = s2.select("*", _pca_norm_col(dims, "s2", "n2sq")).select(
        *l_cols
    )
    return (
        loadings.select(F.explode(dim_structs).alias("x"))
        .select(F.col("x.dim").alias("dim"), F.col("x.loading").alias("loading"))
        .orderBy("dim")
    )


def _pca_norm_col(dims: int, pre: str, alias: str) -> Column:
    """The left-associated squared-norm chain over ``pre``_d columns —
    static per (dims, prefix), built once per context."""
    chain = _pca_chain(
        [f"CAST({pre}_{d} AS DOUBLE) * CAST({pre}_{d} AS DOUBLE)" for d in range(dims)]
    )
    return _per_context(
        ("pca_norm", dims, pre, alias), lambda: F.expr(f"({chain})").alias(alias)
    )


def _pca_exprs(dims: int) -> tuple:
    """The static expression groups of `pca_power_iter`, built once
    per context: (rowsum, s1 aggregates, v1 projection, idot, s2
    aggregates, loading projection, dim structs). The generated TEXT
    is byte-identical to the former per-call construction, so both
    engines' parse trees — and every IEEE operation sequence — are
    unchanged."""
    return _per_context(("pca", dims), lambda: _build_pca_exprs(dims))


def _build_pca_exprs(dims: int) -> tuple:
    sumq = _pca_chain([f"qvec[{d}]" for d in range(dims)])
    rowsum = F.expr(f"({sumq})").alias("rowsum")
    s1_aggs = [
        F.expr(f"SUM(CAST(qvec[{d}] * rowsum AS DECIMAL(38,0)))").alias(
            f"s1_{d}"
        )
        for d in range(dims)
    ]
    v1_cols = [
        F.expr(
            f"CASE WHEN n1sq > 0.0 THEN"
            f" round(CAST(s1_{d} AS DOUBLE) / sqrt(n1sq), 6) END"
        ).alias(f"v1_{d}")
        for d in range(dims)
    ]
    dot1 = _pca_chain([f"qvec[{d}] * v1_{d}" for d in range(dims)])
    idot = F.expr(
        f"CAST(round(round({dot1}, 6) * 1000000.0, 0) AS DECIMAL(38,0))"
    ).alias("idot")
    s2_aggs = [
        F.expr(f"SUM(qvec[{d}] * idot)").alias(f"s2_{d}")
        for d in range(dims)
    ]
    l_cols = [
        F.expr(
            f"CASE WHEN n2sq > 0.0 THEN"
            f" round(CAST(s2_{d} AS DOUBLE) / sqrt(n2sq), 9) END"
        ).alias(f"l_{d}")
        for d in range(dims)
    ]
    dim_structs = F.array(
        *[
            F.struct(F.lit(d).alias("dim"), F.col(f"l_{d}").alias("loading"))
            for d in range(dims)
        ]
    )
    return (
        rowsum,
        s1_aggs,
        v1_cols,
        idot,
        s2_aggs,
        l_cols,
        dim_structs,
    )
