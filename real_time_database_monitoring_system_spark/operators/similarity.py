"""Similarity search over the `embeddings` table (`embedding:
array<float>`, 64-dim).

- Brute-force cosine top-k: the exact baseline. Dot products via
  zip_with + aggregate (JVM higher-order functions — no Python, no
  UDF). The query side is a small DataFrame and is broadcast, so the
  scan of the big side stays shuffle-free; per-query top-k is a
  window over rank.
- LSH-bucketed ANN: random-hyperplane signatures (seeded, literal
  planes) bucket both sides; candidates are scored only within
  matching buckets (multi-probe across bands). This is the 100 TB
  path: the candidate join replaces the all-pairs cross product.
- Literal-plane projections: every dot product against seeded planes
  (sign-LSH bands for `knn_lsh` and `embedding_near_dup_pairs`, the
  Johnson–Lindenstrauss dots of `random_projection` and
  `knn_projected`) goes through ONE numpy kernel, `_plane_dots`, inside
  a `mapInArrow` pass. Its fold order matches DuckDB's sequential
  `list_dot_product`, so the oracle twins agree bit for bit.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .util import materialize as _materialize
from .util import spread as _spread


def _dot(a: Column, b: Column) -> Column:
    """Sequential fold dot product over double arrays (deterministic
    summation order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def knn_bruteforce(embeddings: DataFrame, n_queries: int = 20, k: int = 5) -> DataFrame:
    """Exact cosine top-k for the first `n_queries` vectors against the
    whole table (self-match excluded).

    The query set (vec_id < n_queries) is broadcast; the big side is
    scanned once with a map-side cosine + per-query top-k window.
    Cosine is rounded to 9 dp *for ranking and output* so results are
    reproducible across engines (the raw double differs only in the
    last ulp across summation strategies).
    """
    emb_d = _spread(
        embeddings, "vec_id", cap=4 * embeddings.rdd.getNumPartitions()
    ).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("vec")
    )
    queries = emb_d.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("vec").alias("q_vec")
    )
    scored = (
        emb_d.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            "label",
            F.round(cosine(F.col("q_vec"), F.col("vec")), 9).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "rn", "vec_id", "label", "cos_sim")
        .orderBy("q_id", "rn")
    )


def _hyperplanes(n_planes: int, dim: int, seed: int = 7) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def _plane_dots(col, planes):
    """The package's ONE dot product against literal planes: the
    ``(n, n_planes)`` float64 accumulator of an Arrow ``list<double>``
    column ``col`` against the ``(n_planes, dim)`` matrix ``planes``,
    plus the per-row ``bad`` mask. Runs inside the `mapInArrow` workers
    of `banded_signatures_arrow` and `plane_dots_arrow`.

    Per plane the dot accumulates acc ← acc + v_i·c_i in ascending i,
    starting at 0.0: numpy's elementwise multiply and add are the same
    correctly-rounded IEEE operations as the left-associated SQL chain
    `0.0 + v[0]·c0 + v[1]·c1 + …` and DuckDB's sequential
    `list_dot_product`, with no FMA fusion and no reassociation, so
    every consumer's doubles are bit-identical to those folds (pinned
    against a test-side chain spec, tests/plane_chain_spec.py).
    Corner cases follow the chain: a NULL vector or a vector with a
    NULL element is a ``bad`` row (its accumulator row is junk the
    emitters override); NaN elements propagate; a vector shorter than
    the plane width raises `ValueError` (the chain's ANSI array index
    would refuse it too); a longer vector uses its first ``dim``
    elements."""
    import numpy as np

    n = len(col)
    n_planes, dim = planes.shape
    acc = np.zeros((n, n_planes), dtype=np.float64)
    row_null = col.is_null().to_numpy(zero_copy_only=False)
    if n == 0:
        return acc, row_null
    offs = col.offsets.to_numpy()
    lengths = offs[1:] - offs[:-1]
    if ((lengths < dim) & ~row_null).any():
        raise ValueError(
            f"vector shorter than the {dim}-dim plane width (the expression "
            "chain's ANSI array index would equally refuse it)"
        )
    vals = col.values
    v_np = vals.to_numpy(zero_copy_only=False)
    if len(v_np) == 0:
        return acc, row_null  # every row is NULL
    idx = offs[:-1].astype(np.int64)[:, None] + np.arange(dim)[None, :]
    # NULL rows read clamped junk; they are flagged bad
    idx = np.clip(idx, 0, len(v_np) - 1)
    v = v_np[idx]  # (n, dim)
    bad = row_null.copy()
    if vals.null_count:
        bad |= vals.is_null().to_numpy(zero_copy_only=False)[idx].any(axis=1)
    for i in range(dim):
        acc += v[:, i : i + 1] * planes[:, i][None, :]
    return acc, bad


def _plane_pass(emb_d: DataFrame, planes, out_cols: dict[str, str], emit) -> DataFrame:
    """One `mapInArrow` pass over ``emb_d`` (… vec: array<double> …):
    each batch's `_plane_dots` ``(acc, bad)`` go to ``emit``, whose
    Arrow arrays are appended as ``out_cols`` (name → Spark type)."""
    coef = [list(p) for p in planes]
    names = list(out_cols)
    schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in emb_d.schema.fields]
        + [f"{n} {t}" for n, t in out_cols.items()]
    )

    def gen(it):
        import numpy as np
        import pyarrow as pa

        C = np.array(coef, dtype=np.float64)
        for batch in it:
            acc, bad = _plane_dots(batch.column("vec"), C)
            yield pa.RecordBatch.from_arrays(
                batch.columns + emit(acc, bad), names=batch.schema.names + names
            )

    return emb_d.mapInArrow(gen, schema)


NEAR_DUP_BANDS = 8
NEAR_DUP_BITS = 6
NEAR_DUP_SEED = 104729


def banded_signatures_arrow(
    emb_d: DataFrame,
    bands: int,
    bits_per_band: int,
    planes: list[list[float]],
) -> DataFrame:
    """``emb_d`` (… vec: array<double> …) plus one packed sign-LSH
    ``band_j`` INT column per band, in ONE vectorized Arrow pass over
    the `_plane_dots` kernel (guide §4.2: hand whole batches to numpy
    instead of evaluating a bands×bits×dim-term projection row-wise).
    Band j packs the sign bits of planes j·bits … (j+1)·bits − 1
    little-endian — bit i set iff that plane's dot is ≥ 0.0 or NaN
    (Spark compares NaN ≥ 0.0 as true). Bad rows (NULL vector or
    element) get all-zero bands: the chain's NULL dot fails every
    `>= 0` test. ``planes`` must hold bands × bits_per_band planes."""
    if len(planes) != bands * bits_per_band:
        raise ValueError(
            "banded_signatures_arrow: need bands * bits_per_band planes, "
            f"got {len(planes)}"
        )

    def emit(acc, bad):
        import numpy as np
        import pyarrow as pa

        bits = ((acc >= 0.0) | np.isnan(acc)) & ~bad[:, None]
        packed = (
            bits.reshape(len(bits), bands, bits_per_band)
            << np.arange(bits_per_band)
        ).sum(axis=2)
        return [pa.array(packed[:, j].astype(np.int32)) for j in range(bands)]

    return _plane_pass(
        emb_d, planes, {f"band_{j}": "int" for j in range(bands)}, emit
    )


def plane_dots_arrow(emb_d: DataFrame, planes: list[list[float]]) -> DataFrame:
    """``emb_d`` (… vec: array<double> …) plus ``__d array<double>``:
    the raw `_plane_dots` fold of ``vec`` against each plane, NULL for
    a bad row (NULL vector or element — the chain's NULL dot). Callers
    scale and round ``__d[j]`` in Spark SQL, so Spark's rounding stays
    the one the oracle twins replicate."""

    def emit(acc, bad):
        import numpy as np
        import pyarrow as pa

        n, k = acc.shape
        return [
            pa.ListArray.from_arrays(
                pa.array(np.arange(0, (n + 1) * k, k, dtype=np.int32)),
                pa.array(acc.ravel()),
                mask=pa.array(bad),
            )
        ]

    return _plane_pass(emb_d, planes, {"__d": "array<double>"}, emit)


def _scaled_projection(out_dim: int) -> Column:
    """proj_j = round(__d[j] · (1/√out_dim), 9) over
    `plane_dots_arrow`'s dots, as one parsed expression (one JVM-side
    parse instead of a py4j round-trip per literal)."""
    inv = 1.0 / math.sqrt(out_dim)
    return F.expr(
        "array("
        + ", ".join(
            f"round(__d[{j}] * CAST({inv!r} AS DOUBLE), 9)" for j in range(out_dim)
        )
        + ")"
    )


def rademacher_planes(
    n_planes: int, dim: int = 64, seed: int = NEAR_DUP_SEED
) -> list[list[float]]:
    """Deterministic ±1 hyperplanes for sign-LSH, shared verbatim by
    the Spark operator and its DuckDB oracle twin (both embed the same
    literal coefficients, so the candidate sets agree exactly: the
    products ±1.0·x are IEEE-exact and both engines sum left-to-right).
    Rademacher entries are a standard random-projection choice with the
    same LSH collision guarantees as Gaussian planes."""
    rng = random.Random(seed)
    return [[float(rng.choice((-1.0, 1.0))) for _ in range(dim)] for _ in range(n_planes)]


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    bands: int = NEAR_DUP_BANDS,
    bits_per_band: int = NEAR_DUP_BITS,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the dedup-by-embedding
    member of the dedup family.

    Candidates come from sign-LSH bands (deterministic ±1 hyperplanes)
    composed with the coarse cluster id: two vectors are candidates iff
    they share `label` AND at least one (band_id, band_value). The
    pairwise step is therefore a plain equi-join on that key — never an
    all-pairs product within a label block, which is quadratic when a
    corpus has few large clusters. Exact cosine (rounded to 9 dp for
    cross-engine reproducibility) is computed on candidates only.

    Recall at the default 8 bands × 6 bits is ≥98% for cosine ≥ 0.9
    (1-(1-p^6)^8, p = 1-θ/π); the DuckDB oracle replicates the exact
    same bands, so correctness checks are hash-exact, not approximate.
    At corpus scale, `bits_per_band` grows with log2(n) to hold bucket
    sizes constant (the knob production sizing turns) — MEASURED, not
    theoretical: at 200k vectors the check-scale default (6 bits,
    sized for 2k) implies ~8·n²/2·2⁻⁶ ≈ 2.5e9 expected random-collision
    candidates and dies in shuffle spill, while 16 bits (≈ log2 n + 2)
    completes in 30.6 s on the same table. The driver entry keeps the
    check-scale default because the oracle must embed the identical
    literal planes; a production deployment sets the knob from its
    corpus count.
    """
    # Spread width capped by the input's split count (×4): every task
    # of the band pass pays a fixed Python-worker and Arrow hand-off
    # cost, so a tiny input at full local width is setup-dominated
    # (measured at local[16] on a 4-core host, sf0.1's 2 000 rows:
    # 3.20 s median uncapped at width 16 vs 2.14 s capped at width 8).
    # A real corpus arrives in thousands of scan splits, so the cap
    # never binds in production (guide §1.2: fix the per-task fixed
    # cost before adding parallelism).
    emb_d = _spread(
        embeddings, "vec_id", cap=4 * embeddings.rdd.getNumPartitions()
    ).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("vec")
    )
    # materialized: both pair-join sides consume the signature table,
    # which would otherwise run the band pass twice
    sig = _materialize(
        banded_signatures_arrow(
            emb_d,
            bands,
            bits_per_band,
            rademacher_planes(bands * bits_per_band),
        )
    )
    band_structs = [
        F.struct(F.lit(j).alias("band_id"), F.col(f"band_{j}").alias("band_val"))
        for j in range(bands)
    ]
    # band rows carry ONLY ids (the minhash_lsh_pairs_portable rule): the
    # 512-byte vector would otherwise cross the band-join shuffle
    # `bands`× on both sides and ride through the candidate distinct;
    # vectors join back from the materialized signature table once
    # per (small) candidate set instead
    banded = sig.select(
        "vec_id", "label", F.explode(F.array(*band_structs)).alias("b")
    ).select(
        "vec_id", "label",
        F.col("b.band_id").alias("band_id"), F.col("b.band_val").alias("band_val"),
    )
    a = banded.select(
        "label", "band_id", "band_val", F.col("vec_id").alias("vec_a")
    )
    b = banded.select(
        "label", "band_id", "band_val", F.col("vec_id").alias("vec_b")
    )
    cand = (
        a.join(b, ["label", "band_id", "band_val"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("label", "vec_a", "vec_b")
        .distinct()
    )
    va = sig.select(F.col("vec_id").alias("vec_a"), F.col("vec").alias("va"))
    vb = sig.select(F.col("vec_id").alias("vec_b"), F.col("vec").alias("vb"))
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .select(
            "label",
            "vec_a",
            "vec_b",
            F.round(cosine(F.col("va"), F.col("vb")), 9).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
        .orderBy("vec_a", "vec_b")
    )


def _label_centroids(emb_d: DataFrame, dim: int = 64) -> DataFrame:
    """#labels-row centroid table from a (label, vec: array<double>)
    relation: element-wise decimal-exact mean in ONE grouped pass —
    64 decimal sums + count as single parsed expressions (one
    JVM-side parse each, not a py4j round-trip per literal), array
    assembly in the same
    projection. Replaces the posexplode form, which multiplied the
    table ×64 before its (label, pos) shuffle and then paid a SECOND
    shuffle to reassemble arrays; the sums are the same numbers, so
    centroids are bit-identical (decimal accumulation is
    order-independent). NULL vectors are filtered up front — the exact
    rows posexplode silently skipped."""
    sums = [
        F.expr(f"sum(CAST(vec[{i}] AS DECIMAL(18,12)))").alias(f"s_{i}")
        for i in range(dim)
    ]
    arr = (
        "array("
        + ", ".join(f"CAST(s_{i} AS DOUBLE) / CAST(n AS DOUBLE)" for i in range(dim))
        + ")"
    )
    return (
        emb_d.filter(F.col("vec").isNotNull())
        .groupBy("label")
        .agg(F.count("*").alias("n"), *sums)
        .select("label", "n", F.expr(arr).alias("centroid"))
    )


def embedding_drift(old: DataFrame, new: DataFrame, dim: int = 64) -> DataFrame:
    """Per-label embedding-distribution drift between two corpus
    snapshots: cosine similarity and L2 distance between each label's
    OLD and NEW centroid, with both sample sizes — the embedding-space
    twin of the scalar drift detectors (`anomaly.psi_drift`/`ks_drift`
    watch a value distribution; this watches where each class's mass
    sits in representation space). A retrain gate reads `cos_sim`
    dropping (or `l2_shift` growing) for a label as "this class's
    inputs moved — revalidate before serving".

    Determinism: centroids are the `_label_centroids` decimal-exact
    means; cosine is the shared fold expression; L2 comes from the
    same three dot products (‖a−b‖² = a·a − 2a·b + b·b, clamped at 0
    against last-ulp negatives) so both engines fold doubles in the
    identical order — one round(…, 9) each at the output edge.

    Scale shape: one grouped pass per snapshot (map-side decimal
    partials, #labels-row outputs), then a #labels-row join — the feed
    is never joined or shuffled against itself. Labels present in only
    one snapshot have no drift to measure and drop out (inner join).
    Both centroid relations are MATERIALIZED: the presentation sort's
    range-partition sampling otherwise recomputes the join child, i.e.
    BOTH full grouped passes run twice (measured 57.6 → 16.1 s at
    100× — the per-pass 64-decimal-sum aggregation is the honest
    remaining cost of order-independent exact centroids)."""

    def _prep(df: DataFrame) -> DataFrame:
        return df.select(
            "label", F.col("embedding").cast("array<double>").alias("vec")
        )

    co = _materialize(
        _label_centroids(_prep(old), dim).select(
            "label", F.col("n").alias("n_old"), F.col("centroid").alias("c_old")
        )
    )
    cn = _materialize(
        _label_centroids(_prep(new), dim).select(
            "label", F.col("n").alias("n_new"), F.col("centroid").alias("c_new")
        )
    )
    a, b = F.col("c_old"), F.col("c_new")
    l2_sq = _dot(a, a) - F.lit(2.0) * _dot(a, b) + _dot(b, b)
    return (
        co.join(cn, "label")
        .select(
            "label",
            "n_old",
            "n_new",
            F.round(cosine(a, b), 9).alias("cos_sim"),
            F.round(F.sqrt(F.greatest(l2_sq, F.lit(0.0))), 9).alias("l2_shift"),
        )
        .orderBy("label")
    )


def label_centroid_similarity(embeddings: DataFrame) -> DataFrame:
    """Pairwise cosine similarity between per-label centroid vectors —
    the cluster-overlap map of the embedding space: labels whose
    centroids sit close are candidates for merging (or for confusing
    the IVF probe, whose lists they are).

    Centroid components are EXACT decimal(18,12) sums divided once
    into doubles (double summation order varies across engines and
    partitionings; decimal accumulation does not — the repo sum rule).
    The pairwise stage is a self cross join of the #labels-row centroid
    table — quadratic only in label count, never in vectors — and the
    cosine is the shared fold expression, rounded to 9 dp. The
    centroid relation feeds BOTH cross-join sides and the sort's
    sampling pass, so it is materialized (diamond rule — the grouped
    64-decimal-sum pass over the feed must run exactly once).
    """
    cent = _materialize(
        _label_centroids(
            embeddings.select(
                "label", F.col("embedding").cast("array<double>").alias("vec")
            )
        )
    )
    a = cent.select(F.col("label").alias("label_a"), F.col("centroid").alias("ca"))
    b = cent.select(F.col("label").alias("label_b"), F.col("centroid").alias("cb"))
    return (
        a.crossJoin(b)
        .filter(F.col("label_a") < F.col("label_b"))
        .select(
            "label_a",
            "label_b",
            F.round(cosine(F.col("ca"), F.col("cb")), 9).alias("cos_sim"),
        )
        .orderBy("label_a", "label_b")
    )


def ivf_knn(
    embeddings: DataFrame,
    n_queries: int = 20,
    k: int = 5,
    nprobe: int = 3,
) -> DataFrame:
    """IVF-style ANN: coarse quantization into inverted lists, probe
    the closest lists only.

    The coarse quantizer is the per-`label` centroid (mean vector) —
    in production the labels come from a k-means pass; the search
    machinery is identical. Queries compute exact cosine only against
    vectors whose list is among their `nprobe` nearest centroids. At
    scale the big side is pre-partitioned (clustered) by list id, so a
    probe touches only those partitions.

    Fully deterministic (and therefore oracle-backed): centroid
    components are exact decimal sums divided once into doubles (the
    `label_centroid_similarity` rule — double `avg` is summation-order
    dependent), and the probe ranking uses the round-9 cosine with a
    label tiebreak, the same contract the exact top-k applies.
    """
    # spread width capped by the input split count (the
    # embedding_near_dup_pairs rule: tiny inputs must not fan out into
    # setup-dominated tasks; never binds on a many-split real corpus)
    emb_d = _spread(
        embeddings, "vec_id", cap=4 * embeddings.rdd.getNumPartitions()
    ).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("vec")
    )
    # centroid per list: element-wise decimal-exact mean, one grouped pass
    cent = _label_centroids(emb_d)
    queries = emb_d.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("vec").alias("q_vec")
    )
    # rank centroids per query, keep nprobe lists
    qc = queries.crossJoin(F.broadcast(cent)).select(
        "q_id",
        "q_vec",
        "label",
        F.round(cosine(F.col("q_vec"), F.col("centroid")), 9).alias("c_sim"),
    )
    wq = Window.partitionBy("q_id").orderBy(F.desc("c_sim"), F.asc("label"))
    probes = qc.withColumn("pr", F.row_number().over(wq)).filter(F.col("pr") <= nprobe).select(
        "q_id", "q_vec", "label"
    )
    cand = emb_d.join(F.broadcast(probes), "label").filter(F.col("vec_id") != F.col("q_id"))
    scored = cand.select(
        "q_id", "vec_id", "label", F.round(cosine(F.col("q_vec"), F.col("vec")), 9).alias("cos_sim")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "rn", "vec_id", "label", "cos_sim")
        .orderBy("q_id", "rn")
    )


def knn_lsh(
    embeddings: DataFrame,
    n_queries: int = 20,
    k: int = 5,
    n_planes: int = 12,
    bands: int = 3,
    dim: int = 64,
) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane LSH.

    Signature bits are split into `bands`; two vectors are candidates
    if any band matches (multi-probe improves recall). Exact cosine is
    computed only on candidates. At scale, both sides shuffle on
    (band_id, band_sig) — bucket sizes are data-independent in
    expectation, and no cross product exists.

    Deterministic end to end, so oracle-backed: the Gaussian planes
    are seeded Python floats (the oracle embeds them as literals —
    repr round-trips the exact double), the bands come from
    `banded_signatures_arrow`, whose sequential fold has the same
    per-step IEEE rounding as DuckDB's list_dot_product (the
    `rademacher_planes` argument, which never actually required ±1
    coefficients), and scoring is the round-9 cosine with unique
    tiebreaks. Band j is the packed sign bits of planes 4j … 4j+3 at
    the default 12 planes × 3 bands.
    """
    bits_per_band = n_planes // bands
    emb_d = _materialize(
        banded_signatures_arrow(
            _spread(
                embeddings, "vec_id", cap=4 * embeddings.rdd.getNumPartitions()
            ).select(
                "vec_id", "label", F.col("embedding").cast("array<double>").alias("vec")
            ),
            bands,
            bits_per_band,
            _hyperplanes(n_planes, dim)[: bands * bits_per_band],
        )
    )
    band_structs = [
        F.struct(F.lit(j).alias("band_id"), F.col(f"band_{j}").alias("band_sig"))
        for j in range(bands)
    ]
    # band rows carry ONLY ids (the minhash_lsh_pairs_portable rule): the
    # vector arrays would otherwise cross the band join `bands`× per
    # side and inflate the candidate distinct; they join back from
    # the materialized signature table per candidate instead
    banded = emb_d.select(
        "vec_id", F.explode(F.array(*band_structs)).alias("b")
    ).select("vec_id", F.col("b.band_id").alias("band_id"), F.col("b.band_sig").alias("band_sig"))
    queries = banded.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), "band_id", "band_sig"
    )
    cand = (
        banded.join(queries, ["band_id", "band_sig"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id")
        .distinct()
    )
    qv = emb_d.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("vec").alias("q_vec")
    )
    scored = (
        cand.join(emb_d.select("vec_id", "label", "vec"), "vec_id")
        .join(F.broadcast(qv), "q_id")
        .select(
            "q_id",
            "vec_id",
            "label",
            F.round(cosine(F.col("q_vec"), F.col("vec")), 9).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "rn", "vec_id", "label", "cos_sim")
        .orderBy("q_id", "rn")
    )


def embedding_quantize_int8(embeddings: DataFrame) -> DataFrame:
    """Per-vector symmetric int8 quantization audit: scale =
    max|x|/127, q_i = round(x_i/scale), and the reconstruction-error
    panel (max abs error, MSE) every 100 TB embedding store runs
    before committing to int8 — 4× less storage and bandwidth than
    float32, and this operator is the go/no-go measurement.

    Entirely map-side (one projection over the vectors, no shuffle
    except the presentation sort): the scale is a per-row max over the
    row's own vector, not an aggregate. Determinism: elements cast to
    double first; q uses round() (half away from zero in both
    engines); error squares fold left-to-right and round(9) at the
    edge — the `_plane_dots` convention. Zero vectors quantize to
    all zeros with scale 0 (guarded, no division).

    Expressed as SCALAR chains over `embedding[i]` subscripts, not
    transform/zip_with/aggregate lambdas — Spark evaluates
    higher-order functions interpreted per element, and the original
    HOF chain cost 35 s per 200k vectors at 100× while this staged
    codegen form (same IEEE operation order: per-element round-trip
    error, max, left-to-right square fold starting at 0.0) is
    byte-identical and ~2× faster. Three stages, each MATERIALIZED so
    projection collapse cannot inline an expensive expression into
    its consumers: (1) scale (a 64-term max — would otherwise be
    pasted into all 64 error terms), (2) the error ARRAY (each
    element's `round()` — Spark routes double rounding through
    BigDecimal, the measured floor of this operator at ~6 s/12.8M
    elements, so each element must round exactly ONCE; an inlined
    max+fold would round twice), (3) the max/fold coda over cheap
    subscript reads. The last materialization also feeds the
    presentation sort, whose range-partition sampling would otherwise
    recompute its child. `dim` pins the engine's embedding width
    (registry schema)."""
    dim = 64
    xd = [f"CAST(embedding[{i}] AS DOUBLE)" for i in range(dim)]
    scale = (
        "greatest(" + ", ".join(f"abs({x})" for x in xd) + ")"
        " / CAST(127.0 AS DOUBLE)"
    )
    errs = [
        f"abs({x} - (CASE WHEN __scale = CAST(0.0 AS DOUBLE)"
        f" THEN CAST(0.0 AS DOUBLE)"
        f" ELSE CAST(round({x} / __scale, 0) AS DOUBLE) END) * __scale)"
        for x in xd
    ]
    max_err = "greatest(" + ", ".join(f"__e[{i}]" for i in range(dim)) + ")"
    sq_fold = "CAST(0.0 AS DOUBLE)"
    for i in range(dim):
        sq_fold = f"({sq_fold} + __e[{i}] * __e[{i}])"
    staged = _materialize(
        embeddings.filter(F.col("embedding").isNotNull()).select(
            "vec_id", "label", "embedding", F.expr(scale).alias("__scale")
        )
    )
    errored = _materialize(
        staged.select(
            "vec_id",
            "label",
            "__scale",
            F.array(*[F.expr(e) for e in errs]).alias("__e"),
        )
    )
    return (
        errored.select(
            "vec_id",
            "label",
            F.round("__scale", 9).alias("scale"),
            F.expr(f"round({max_err}, 9)").alias("max_abs_err"),
            F.expr(
                f"round({sq_fold} / CAST({dim} AS DOUBLE), 9)"
            ).alias("mse"),
        )
        .orderBy("vec_id")
    )


def random_projection(embeddings: DataFrame, out_dim: int = 16) -> DataFrame:
    """Johnson–Lindenstrauss random projection 64 → `out_dim` dims
    using the SAME deterministic Rademacher planes as the LSH paths
    (one source of truth, so the oracle embeds identical literals):
    proj_j = ⟨x, plane_j⟩ / √out_dim. The dimensionality-reduction
    step before ANN indexing when 64-d is still too wide at 100 TB —
    distances are preserved within the JL distortion bound
    (pytest-checked on pairs), at out_dim/64 the storage.

    Map-side only: the dots come from the `plane_dots_arrow` pass,
    the scaling and round(9) (the float-path rule) from one Spark
    projection, and each output row is (vec_id, label, dim_id, value)
    from a posexplode of that array — no shuffle except the
    presentation sort. The projection ARRAY is MATERIALIZED before the
    explode: the global orderBy's range-partitioner would otherwise
    SAMPLE-then-recompute the Arrow pass. The explode and sort then
    run over stored narrow rows."""
    if out_dim <= 0:
        raise ValueError("random_projection: out_dim must be positive")
    emb_d = embeddings.filter(F.col("embedding").isNotNull()).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("vec")
    )
    projected = _materialize(
        plane_dots_arrow(emb_d, rademacher_planes(out_dim)).select(
            "vec_id", "label", _scaled_projection(out_dim).alias("__p")
        )
    )
    return (
        projected.select(
            "vec_id", "label", F.posexplode("__p").alias("dim_id", "value")
        )
        .select(
            "vec_id",
            "label",
            F.col("dim_id").cast("int").alias("dim_id"),
            "value",
        )
        .orderBy("vec_id", "dim_id")
    )


def knn_projected(
    embeddings: DataFrame,
    n_queries: int = 20,
    k: int = 5,
    shortlist: int = 32,
    out_dim: int = 16,
) -> DataFrame:
    """Two-stage compressed-first k-NN: shortlist candidates by squared
    L2 distance in the `out_dim`-d Johnson–Lindenstrauss projection
    (4× less arithmetic per pair at out_dim=16), then re-rank the
    shortlist by EXACT 64-d cosine — the standard memory-bandwidth-
    bound ANN serving layout (search compressed, verify full), and the
    composition of `random_projection` with `knn_bruteforce`'s
    contract (same output schema).

    Scale shape: the corpus is projected once into a materialized
    relation; the projected query side broadcasts; the shortlist
    window's WindowGroupLimit prunes to `shortlist` per partition
    map-side, so the shuffle carries candidates, not the corpus; the
    full-precision vectors are fetched by broadcasting the (tiny)
    candidate list back onto the corpus — the big side never
    shuffles. Fully deterministic (shared Rademacher planes, round(9)
    metrics, vec_id tiebreaks), hence oracle-exact despite being an
    approximate search."""
    if shortlist < k:
        raise ValueError("knn_projected: shortlist must be >= k")
    emb_d = _spread(
        embeddings.filter(F.col("embedding").isNotNull()),
        "vec_id",
        cap=4 * embeddings.rdd.getNumPartitions(),
    ).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("vec")
    )
    base = _materialize(
        plane_dots_arrow(emb_d, rademacher_planes(out_dim)).select(
            "vec_id", "label", "vec", _scaled_projection(out_dim).alias("pvec")
        )
    )
    pq = base.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"),
        F.col("vec").alias("q_vec"),
        F.col("pvec").alias("q_pvec"),
    )
    pdist2 = F.round(
        F.expr(
            "aggregate(zip_with(q_pvec, pvec, (x, y) -> (x - y) * (x - y)), "
            "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        ),
        9,
    )
    ws = Window.partitionBy("q_id").orderBy(F.asc("pdist2"), F.asc("vec_id"))
    cand = (
        base.select("vec_id", "pvec")
        .crossJoin(F.broadcast(pq.select("q_id", "q_pvec")))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", pdist2.alias("pdist2"))
        .withColumn("srn", F.row_number().over(ws))
        .filter(F.col("srn") <= shortlist)
        .select("q_id", "vec_id")
    )
    wk = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        base.select("vec_id", "label", "vec")
        .join(F.broadcast(cand), "vec_id")
        .join(F.broadcast(pq.select("q_id", "q_vec")), "q_id")
        .select(
            "q_id",
            "vec_id",
            "label",
            F.round(cosine(F.col("q_vec"), F.col("vec")), 9).alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= k)
        .select("q_id", "rn", "vec_id", "label", "cos_sim")
        .orderBy("q_id", "rn")
    )


def ann_recall_audit(
    embeddings: DataFrame,
    n_queries: int = 20,
    k: int = 5,
    nprobe: int = 3,
) -> DataFrame:
    """Recall@k of the IVF probe against the exact brute-force top-k,
    per query — the self-auditing quality metric an ANN deployment
    publishes next to its index (the number the `nprobe`/`bits` sizing
    knobs are turned against). Composes the two existing operators
    verbatim, so the audit measures EXACTLY what the production pair
    serves: both sides share the round-9 cosine and unique tiebreaks,
    making the metric deterministic and oracle-checkable (most ANN
    recall numbers are sampled estimates; this one is exact).

    Scale shape: both sub-plans are the operators' own (broadcast
    query set, bounded probes); the audit adds a (q_id, vec_id) join
    of two k·n_queries-row relations and two tiny aggregates. At
    production scale the same audit runs over a sampled query set —
    the knob is n_queries, the plan is unchanged.

    Returns (q_id, n_exact, n_hits, recall) ordered by q_id."""
    exact = knn_bruteforce(embeddings, n_queries, k).select("q_id", "vec_id")
    approx = ivf_knn(embeddings, n_queries, k, nprobe).select("q_id", "vec_id")
    base = exact.groupBy("q_id").agg(F.count("*").alias("n_exact"))
    hits = exact.join(approx, ["q_id", "vec_id"]).groupBy("q_id").agg(
        F.count("*").alias("n_hits")
    )
    return (
        base.join(hits, "q_id", "left")
        .select(
            "q_id",
            "n_exact",
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0)).cast("double")
                / F.col("n_exact").cast("double"),
                9,
            ).alias("recall"),
        )
        .orderBy("q_id")
    )


def split_embedding_leakage(
    embeddings: DataFrame,
    threshold: float = 0.3,
    train_pct: int = 90,
    val_pct: int = 5,
    bands: int = NEAR_DUP_BANDS,
    bits_per_band: int = NEAR_DUP_BITS,
) -> DataFrame:
    """SEMANTIC train/eval leakage audit: near-duplicate embedding
    pairs whose members land in DIFFERENT hash-bucket splits, rolled
    up per unordered split pair. `curation.split_leakage` catches
    byte/prefix-level leaks; 13-gram decontamination catches verbatim
    n-gram overlap — this is the third rung, paraphrase-level leakage
    that only embedding similarity sees (the reason eval suites report
    "decontaminated by embedding similarity" alongside n-gram rules).

    Pure composition: `embedding_near_dup_pairs` (sign-LSH banded
    candidates, exact round(9) cosine — never all-pairs) + the
    `assign_split` md5(id)-bucket rule on each side + a ≤3×3-row
    rollup. avg_cos_sim sums the already-round(9) cosines as exact
    DECIMAL(28,9) (order-independent) with one final division;
    max_cos_sim is a max over already-rounded values. A clean corpus
    split shows zero rows at a production threshold — the audit's
    pass state. ``bands``/``bits_per_band`` pass through to the
    candidate generator — the `embedding_near_dup_pairs` sizing law
    (bits ≈ log2 n) applies verbatim, since this audit rides its
    banding (measured: the check-scale 6-bit default dies in spill at
    200k vectors; 16 bits completes in 21.5 s)."""
    pairs = embedding_near_dup_pairs(
        embeddings,
        threshold=threshold,
        bands=bands,
        bits_per_band=bits_per_band,
    )

    def _split(id_col: str) -> Column:
        bucket = (
            F.conv(
                F.substring(
                    F.md5(F.col(id_col).cast("string").cast("binary")), 1, 8
                ),
                16,
                10,
            ).cast("bigint")
            % 100
        )
        return (
            F.when(bucket < train_pct, "train")
            .when(bucket < train_pct + val_pct, "val")
            .otherwise("test")
        )

    labeled = pairs.select(
        "vec_a",
        "vec_b",
        "cos_sim",
        _split("vec_a").alias("sp_a"),
        _split("vec_b").alias("sp_b"),
    ).filter(F.col("sp_a") != F.col("sp_b"))
    return (
        labeled.select(
            F.least("sp_a", "sp_b").alias("split_a"),
            F.greatest("sp_a", "sp_b").alias("split_b"),
            F.col("cos_sim").cast("decimal(28,9)").alias("c9"),
        )
        .groupBy("split_a", "split_b")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum("c9").cast("decimal(28,9)").alias("sum_cos_sim"),
            F.max("c9").cast("double").alias("max_cos_sim"),
        )
        .select(
            "split_a",
            "split_b",
            "n_pairs",
            # decimal accumulator, DOUBLE at the hashed edge (the
            # round-7 no-DecimalType-at-the-edge rule)
            F.col("sum_cos_sim").cast("double").alias("sum_cos_sim"),
            (
                F.col("sum_cos_sim").cast("double")
                / F.col("n_pairs").cast("double")
            ).alias("avg_cos_sim"),
            "max_cos_sim",
        )
        .orderBy("split_a", "split_b")
    )


def negative_samples(
    embeddings: DataFrame,
    k: int = 5,
    anchor_mod: int = 97,
    _materialize_topk: bool = True,
) -> DataFrame:
    """Deterministic hard-negative assignment for contrastive
    training: for each anchor vector (a sparse deterministic subset,
    vec_id ≡ 0 mod ``anchor_mod``), the ``k`` candidates with a
    DIFFERENT label ranked by the md5 of the (anchor, candidate) pair
    — reproducible pseudo-random negatives with no RNG state, so a
    re-run, a retry, or another engine assigns the identical batch
    (the `hash_sample` determinism rule applied to pair sampling).

    Scale shape: the anchor relation is BROADCAST against one
    candidate scan; ranking is a per-anchor window over #anchors ×
    corpus pairs whose rank filter is pushed map-side
    (WindowGroupLimit — the shuffle carries ≤ k·partitions rows per
    anchor, never the pair relation). The pair evaluation itself is
    Θ(#anchors × corpus) md5s BY DEFINITION — that is the operator's
    cost model, and the anchor BATCH size is the knob production
    tunes (anchors stream through in bounded batches; the corpus is
    scanned once per batch). A fixed ``anchor_mod`` makes the batch
    grow WITH the corpus — quadratic, measured >6.5 min at 200k
    vectors (412M broadcast-nested-loop pairs) vs 9.2 s with the batch
    held at the 1× size — so a production deployment derives the mod
    from corpus count / target batch. The top-k relation (tiny) is
    materialized before the presentation sort: range-partition
    sampling would otherwise run the whole pair pass twice."""
    anchors = embeddings.select(
        F.col("vec_id").alias("anchor_id"), F.col("label").alias("anchor_label")
    ).filter(F.col("anchor_id") % anchor_mod == 0)
    cands = embeddings.select(
        F.col("vec_id").alias("neg_id"), F.col("label").alias("neg_label")
    )
    key = F.md5(
        F.concat(
            F.col("anchor_id").cast("string"),
            F.lit("|"),
            F.col("neg_id").cast("string"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy("sample_key", "neg_id")
    topk = (
        cands.join(F.broadcast(anchors), F.col("neg_label") != F.col("anchor_label"))
        .withColumn("sample_key", key)
        .withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= k)
        .select("anchor_id", "anchor_label", "neg_rank", "neg_id", "neg_label", "sample_key")
    )
    # _materialize_topk=False is the PLAN-TEST window: localCheckpoint
    # truncates lineage, so the broadcast-nested-loop shape above is
    # invisible in the returned plan otherwise (tests/test_plans.py
    # asserts on the un-materialized form; production keeps the
    # default — the sort's range-partition sampling must not re-run
    # the pair pass)
    if _materialize_topk:
        topk = _materialize(topk)
    return topk.orderBy("anchor_id", "neg_rank")


def embedding_norm_audit(embeddings: DataFrame) -> DataFrame:
    """Embedding hygiene panel per label: vector count, dimensionality
    agreement, zero-norm count, and the L2-norm spread — the first
    check before any cosine-based stage (a zero vector crashes cosine
    normalization; a norm distribution with a wild spread usually
    means two encoder versions were mixed, which silently wrecks both
    ANN recall and semantic dedup thresholds).

    Determinism: norms are the sequential `_norm` fold over the
    float32-exact doubles (identical per-step IEEE rounding in Spark's
    `aggregate` and DuckDB's `list_reduce` — the `knn_lsh` rule), with
    sqrt correctly-rounded; min/max are order statistics over those
    exact doubles; avg_norm accumulates round(9) norms as exact
    DECIMAL(28,9) with a DOUBLE edge (the repo's standard ratio rule).

    Scale shape: one map-side projection computes each row's norm;
    one keyed aggregate per label. No joins, no windows, no shuffle
    beyond the ≤ #labels aggregation."""
    per = _spread(
        embeddings, "vec_id", cap=4 * embeddings.rdd.getNumPartitions()
    ).select(
        "label",
        F.size("embedding").alias("dim"),
        _norm(F.col("embedding").cast("array<double>")).alias("nrm"),
    )
    return (
        per.groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_vecs"),
            F.countDistinct("dim").cast("bigint").alias("n_dims"),
            F.sum(F.when(F.col("nrm") == 0.0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_zero"),
            F.min("nrm").alias("min_norm"),
            F.max("nrm").alias("max_norm"),
            F.sum(F.round(F.col("nrm"), 9).cast("decimal(28,9)")).alias("s_norm"),
        )
        .select(
            "label",
            "n_vecs",
            "n_dims",
            "n_zero",
            "min_norm",
            "max_norm",
            (F.col("s_norm").cast("double") / F.col("n_vecs").cast("double")).alias(
                "avg_norm"
            ),
        )
        .orderBy("label")
    )
