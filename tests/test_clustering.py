"""K-means / SemDeDup / prototypicality correctness and plan shape.

The oracle parity sweep (test_oracle_parity.py) already checks the
three registry entries against DuckDB; the tests here pin the pieces
the SQL twin can't see: independent-reimplementation exactness (a
NumPy Lloyd on the same integer arithmetic), the zero-shuffle
assignment plan, and empty-input degradation.
"""

from __future__ import annotations

import numpy as np
import pytest

from real_time_database_monitoring_system_spark.operators import clustering
from real_time_database_monitoring_system_spark.plans import checks
from real_time_database_monitoring_system_spark.sources.registry import SCHEMAS, load_table


def _numpy_lloyd(vecs: dict[int, np.ndarray], k: int, n_iter: int):
    """Independent reimplementation of the quantized Lloyd contract:
    integer vectors, (dist, cid) argmin, (2s+n) trunc-div (2n) centroid
    grid rounding, empty-cluster carry."""
    ids = sorted(vecs)
    cents = {i: vecs[v].copy() for i, v in enumerate(ids[:k])}

    def assign():
        out = {}
        for v in ids:
            best = min(
                (int(((vecs[v] - c) ** 2).sum()), cid) for cid, c in cents.items()
            )
            out[v] = best
        return out

    for _ in range(n_iter):
        a = assign()
        sums: dict[int, np.ndarray] = {}
        counts: dict[int, int] = {}
        for v, (_, cid) in a.items():
            sums[cid] = sums.get(cid, 0) + vecs[v]
            counts[cid] = counts.get(cid, 0) + 1
        for cid in cents:
            if cid in sums:
                num = 2 * sums[cid] + counts[cid]
                den = 2 * counts[cid]
                cents[cid] = np.sign(num) * (np.abs(num) // den)
        cents = {c: v.astype(np.int64) for c, v in cents.items()}
    return assign(), cents


def test_kmeans_matches_independent_numpy_lloyd(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = {
        r["vec_id"]: np.array(r["qvec"], dtype=np.int64)
        for r in clustering.quantized(emb).collect()
    }
    expect, _ = _numpy_lloyd(vecs, k=8, n_iter=2)
    got = {
        r["vec_id"]: (r["dist_sq"], r["cluster_id"])
        for r in clustering.kmeans_assign(emb).collect()
    }
    assert got == expect


def test_kmeans_assignment_plan_is_shuffle_free(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    df = clustering.kmeans_assign(emb)
    assert checks.count_exchanges(df) == 0, (
        "final assignment must be scan+project against literal centroids"
    )


def test_semantic_dedup_pairs_are_cluster_blocked_and_thresholded(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    assign = {
        r["vec_id"]: r["cluster_id"]
        for r in clustering.kmeans_assign(emb).collect()
    }
    vecs = {
        r["vec_id"]: np.array(r["qvec"], dtype=np.float64)
        for r in clustering.quantized(emb).collect()
    }
    pairs = clustering.semantic_dedup(emb).collect()
    assert pairs, "synthetic corpus must produce at least one semantic pair"
    for r in pairs:
        assert r["a_id"] < r["b_id"]
        assert assign[r["a_id"]] == assign[r["b_id"]] == r["cluster_id"]
        a, b = vecs[r["a_id"]], vecs[r["b_id"]]
        cos = float(a @ b) / (np.sqrt(a @ a) * np.sqrt(b @ b))
        assert r["cos_sim"] == pytest.approx(round(cos, 9), abs=1e-9)
        assert r["cos_sim"] >= 0.3


def test_prototypicality_tail_is_bounded(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    rows = clustering.prototypicality(emb).collect()
    by_cluster: dict[int, list] = {}
    for r in rows:
        assert r["is_peripheral"] == (r["dist_sq"] > r["dist_p_tail"])
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, rs in by_cluster.items():
        n_flag = sum(r["is_peripheral"] for r in rs)
        # discrete 0.9-quantile: strictly-greater tail is < 10% of the
        # cluster (never more — disc picks an actual member value)
        assert n_flag <= len(rs) * 0.1 + 1, f"cluster {cid} over-flagged"


def test_semantic_dedup_finds_planted_near_duplicate(spark, sf_dir):
    """The SemDeDup blocking contract: a genuine near-duplicate
    (cos → 1) lands in the same cluster as its original — the
    assignment argmin moves by at most the perturbation — so the
    within-cluster search must surface it. (Weak-similarity pairs that
    straddle cluster boundaries are out of contract by design.)"""
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    dup = emb.filter(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x + F.lit(0.0001)).cast("float")
        ).alias("embedding"),
        "label",
    )
    pairs = clustering.semantic_dedup(emb.unionByName(dup)).collect()
    hit = [r for r in pairs if r["a_id"] == 0 and r["b_id"] == 100000]
    assert hit and hit[0]["cos_sim"] >= 0.999, "planted near-dup must be found"


def test_kmeans_drops_null_embeddings(spark):
    """NULL vectors are excluded up front (matching the oracle WHERE):
    left in, Spark's null-skipping `least` and SQL's NULLS-LAST
    row_number would assign them different clusters."""
    emb = spark.createDataFrame(
        [(0, [0.1] * 64, 1), (1, None, 2), (2, [0.2] * 64, 3)],
        "vec_id long, embedding array<float>, label int",
    )
    out = clustering.kmeans_clusters(emb).collect()
    assert [r["vec_id"] for r in out] == [0, 2]


def test_kmeans_with_fewer_vectors_than_k(spark):
    """n < k: seeds are whatever exists; every vector sits in its own
    cluster at distance 0 (both engines implement the same LIMIT-k
    seeding, so the oracle degrades identically)."""
    emb = spark.createDataFrame(
        [(i, [float(i)] * 64, i) for i in range(3)],
        "vec_id long, embedding array<float>, label int",
    )
    rows = clustering.kmeans_clusters(emb).collect()
    assert [(r["vec_id"], r["cluster_id"], r["dist_sq"]) for r in rows] == [
        (0, 0, 0),
        (1, 1, 0),
        (2, 2, 0),
    ]


def test_tdiv_matches_duckdb_integer_division():
    """clustering._tdiv exists because Python // floors while Spark
    `div` and DuckDB `//` truncate toward zero; pin the three-way
    agreement on the negative-numerator cases that bit us."""
    import duckdb

    cases = [(-7, 2), (7, 2), (-12, 4), (-1, 3), (1, 3), (-9, 2), (10**12 + 1, 7)]
    got = [clustering._tdiv(a, b) for a, b in cases]
    duck = [
        duckdb.sql(f"SELECT CAST({a} AS BIGINT) // CAST({b} AS BIGINT)").fetchone()[0]
        for a, b in cases
    ]
    assert got == duck


def test_clustered_layout_prunes_unprobed_lists(spark, sf_dir, tmp_path):
    """The IVF storage layout: embeddings written partitioned by
    cluster id must serve an nprobe read through PartitionFilters
    (directory pruning), and the probed rows must be exactly the
    assignment's members of those clusters."""
    from real_time_database_monitoring_system_spark.plans import checks

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "emb_by_cluster")
    clustering.write_clustered(emb, path)
    probed = clustering.read_probed(spark, path, [1, 3])
    plan = checks.explain_str(probed)
    part_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert part_lines and "cluster_id" in part_lines[0], plan
    expect = {
        r["vec_id"]
        for r in clustering.kmeans_assign(emb).collect()
        if r["cluster_id"] in (1, 3)
    }
    assert {r["vec_id"] for r in probed.collect()} == expect


def test_semantic_pairs_compose_with_dedup_closure(spark, sf_dir):
    """The dedup machinery is pair-source agnostic: SemDeDup pairs
    feed dup_clusters/keeper_list exactly like MinHash or Jaccard
    pairs. Pins the composition: transitive closure over the semantic
    pair graph, min-id keepers, every vector accounted for once."""
    from pyspark.sql import functions as F

    from real_time_database_monitoring_system_spark.operators import dedup

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = clustering.semantic_dedup(emb).select(
        F.col("a_id").alias("doc_a"), F.col("b_id").alias("doc_b")
    )
    docs = emb.select(F.col("vec_id").alias("doc_id"))
    keepers = dedup.keeper_list(docs, pairs).collect()
    assert len(keepers) == emb.count()
    by_id = {r["doc_id"]: r for r in keepers}
    edge = pairs.first()
    a, b = edge["doc_a"], edge["doc_b"]
    assert by_id[a]["keeper_doc_id"] == by_id[b]["keeper_doc_id"]
    for r in keepers:
        assert r["keeper_doc_id"] <= r["doc_id"]
        assert by_id[r["keeper_doc_id"]]["is_keeper"]


def test_cluster_quality_matches_numpy_davies_bouldin(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    rows = clustering.cluster_quality(emb).collect()
    assign = clustering.kmeans_assign(emb).collect()
    vecs = {
        r["vec_id"]: np.array(r["qvec"], dtype=np.int64)
        for r in clustering.quantized(emb).collect()
    }
    _, cents = _numpy_lloyd(vecs, k=8, n_iter=2)
    by_c: dict[int, list] = {}
    for r in assign:
        by_c.setdefault(r["cluster_id"], []).append(r)
    s = {
        c: sum(round(float(np.sqrt(r["dist_sq"])), 9) for r in rs) / len(rs)
        for c, rs in by_c.items()
    }
    for row in rows:
        c = row["cluster_id"]
        assert row["n_members"] == len(by_c[c])
        assert row["s_intra"] == pytest.approx(s[c], abs=1e-8)
        r_best = max(
            (
                round(
                    (s[c] + s[o]) / float(np.sqrt(((cents[c] - cents[o]) ** 2).sum())),
                    9,
                ),
                -o,
            )
            for o in s
            if o != c
        )
        assert row["r_max"] == pytest.approx(r_best[0], abs=1e-8)
        assert row["nearest_other"] == -r_best[1]


def test_clustering_tolerates_empty_input(spark, tmp_path):
    emb = spark.createDataFrame([], SCHEMAS["embeddings"])
    assert clustering.kmeans_clusters(emb).count() == 0
    assert clustering.semantic_dedup(emb).count() == 0
    assert clustering.prototypicality(emb).count() == 0
    assert clustering.cluster_quality(emb).count() == 0
    path = str(tmp_path / "empty_clustered")
    assert clustering.write_clustered(emb, path) == {}
    assert clustering.read_probed(spark, path, [0, 1]).count() == 0


_RESTART_SCRIPT = """
import sys

repo, sf = sys.argv[1], sys.argv[2]
sys.path.insert(0, repo)
from pyspark import SparkContext

from real_time_database_monitoring_system_spark.operators import clustering
from real_time_database_monitoring_system_spark.session import get_local_spark
from real_time_database_monitoring_system_spark.sources.registry import load_table


def run():
    spark = get_local_spark()
    emb = load_table(spark, sf, "embeddings")
    rows = (
        sorted(map(tuple, clustering.kmeans_clusters(emb).collect())),
        [tuple(r) for r in clustering.pca_power_iter(emb).collect()],
    )
    return spark, rows


spark, first = run()
spark.stop()
# relaunch the JVM: Column handles from the first gateway point at
# object ids the new JVM reuses for unrelated objects
gateway = SparkContext._gateway
gateway.shutdown()
gateway.proc.stdin.close()
gateway.proc.wait()
SparkContext._gateway = None
SparkContext._jvm = None
spark, second = run()
spark.stop()
assert second == first and first[0] and first[1], "results changed"
print("RESTART_OK")
"""


def test_kmeans_and_pca_survive_context_restart(sf_dir):
    """The per-context expression caches rebuild after the SparkContext
    stops and a new JVM gateway starts (a separate Python process, so
    the suite's session is untouched)."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", _RESTART_SCRIPT, str(Path(__file__).resolve().parents[1]), sf_dir],
        capture_output=True,
        text=True,
        timeout=600,
        env=env,
    )
    assert "RESTART_OK" in out.stdout, out.stderr[-3000:]
