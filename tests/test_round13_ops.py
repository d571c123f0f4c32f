"""Round-13 optimization equivalence pins.

The r13 optimization round restructured hot operators without touching
what they compute; these tests make the equivalences falsifiable:

- `analytics._hl_select_group` (the Hodges–Lehmann order-statistic
  SELECTION that replaced the |V_ref|·|V_cur| grid) against a
  brute-force pairwise-difference grid on thousands of random
  fixtures, pure Python (no Spark) so the sweep is wide.
- `hl_from_value_counts` end-to-end on adversarial fixtures (the
  Spark path: rank targets, Arrow boundary, empty halves).
- the one literal-plane kernel (`similarity._plane_dots`, through its
  band and dot emitters) against the test-side chain spec
  `tests/plane_chain_spec.py`, on the real corpus and corner cases.
"""

from __future__ import annotations

import math
import random
from collections import defaultdict

import pandas as pd
import pytest
from pyspark.sql import functions as F

from real_time_database_monitoring_system_spark.operators import analytics, similarity
from tests.plane_chain_spec import band_cols, dots_col, python_bands, python_dot


def _brute_hl(pv):
    """Oracle-shaped brute force: expand the full difference grid and
    read the four order statistics off the cumulative relation."""
    refs = [(v, cr) for v, cr, cc in pv if cr > 0]
    curs = [(v, cc) for v, cr, cc in pv if cc > 0]
    n_ref = sum(cr for _, cr, _ in pv)
    n_cur = sum(cc for _, _, cc in pv)
    if not refs or not curs:
        return None
    pairs: dict[int, int] = defaultdict(int)
    for vr, cr in refs:
        for vc, cc in curs:
            pairs[vc - vr] += cr * cc
    ds = sorted(pairs)
    cum, acc = {}, 0
    for d in ds:
        acc += pairs[d]
        cum[d] = acc
    npairs = n_ref * n_cur
    k_ci = max(
        1,
        math.floor(
            float(npairs) / 2
            - 1.96
            * math.sqrt(
                float(n_ref) * float(n_cur) * float(n_ref + n_cur + 1) / 12.0
            )
        ),
    )

    def pick(t):
        for d in ds:
            if cum[d] >= t:
                return d
        return None

    return (
        n_ref,
        n_cur,
        pick((npairs + 1) // 2),
        pick(npairs // 2 + 1),
        pick(k_ci),
        pick(npairs + 1 - k_ci),
    )


def _select_hl(pv):
    """Drive `_hl_select_group` the way applyInPandas does, with the
    rank targets computed the way the Spark expressions compute them."""
    n_ref = sum(cr for _, cr, _ in pv)
    n_cur = sum(cc for _, _, cc in pv)
    if n_ref == 0 or n_cur == 0:
        return None
    npairs = n_ref * n_cur
    k_ci = max(
        1,
        math.floor(
            float(npairs) / 2
            - 1.96
            * math.sqrt(
                float(n_ref) * float(n_cur) * float(n_ref + n_cur + 1) / 12.0
            )
        ),
    )
    pdf = pd.DataFrame(
        {
            "event_type": ["t"] * len(pv),
            "cents": [v for v, _, _ in pv],
            "c_ref": [cr for _, cr, _ in pv],
            "c_cur": [cc for _, _, cc in pv],
            "t_hl_lo": [(npairs + 1) // 2] * len(pv),
            "t_hl_hi": [npairs // 2 + 1] * len(pv),
            "t_ci_lo": [k_ci] * len(pv),
            "t_ci_hi": [npairs + 1 - k_ci] * len(pv),
        }
    )
    out = analytics._hl_select_group(pdf)
    if len(out) == 0:
        return None
    r = out.iloc[0]
    return (
        int(r["n_ref"]),
        int(r["n_cur"]),
        int(r["hl_lo_cents"]),
        int(r["hl_hi_cents"]),
        int(r["ci_lo_cents"]),
        int(r["ci_hi_cents"]),
    )


def test_hl_selection_matches_bruteforce_sweep():
    """The binary-search selection equals the full-grid cumulative
    read on thousands of random alphabets, including one-sided types,
    singleton alphabets, heavy ties and negative values."""
    rng = random.Random(13)
    checked = 0
    for _ in range(4000):
        nvals = rng.randint(1, 12)
        vals = rng.sample(range(-30, 31), nvals)
        pv = [
            (v, rng.randint(0, 3), rng.randint(0, 3))
            for v in vals
        ]
        pv = [row for row in pv if row[1] + row[2] > 0]
        if not pv:
            continue
        assert _select_hl(pv) == _brute_hl(pv), f"fixture: {pv}"
        checked += 1
    assert checked > 3000


def test_hl_selection_wide_alphabet_heavy_counts():
    """Large sparse alphabets with heavy counts (the shape the cents
    quantization actually produces) agree too."""
    rng = random.Random(1313)
    for _ in range(60):
        vals = rng.sample(range(-100_000, 100_000), rng.randint(50, 200))
        pv = [(v, rng.randint(0, 500), rng.randint(0, 500)) for v in vals]
        assert _select_hl(pv) == _brute_hl(pv)


def test_hl_from_value_counts_spark_path(spark):
    """End-to-end through the Spark plan (rank-target expressions,
    Arrow boundary, presentation sort): adversarial fixtures including
    a type whose halves never overlap and a type with one giant tie."""
    fixtures = [
        ("gap", -5, 3, 0),
        ("gap", 1000, 0, 7),
        ("tie", 42, 9, 9),
        ("mix", -3, 2, 1),
        ("mix", 0, 0, 4),
        ("mix", 11, 5, 0),
        ("mix", 12, 1, 2),
        ("onesided", 7, 4, 0),
    ]
    pv = spark.createDataFrame(
        fixtures, "event_type string, cents bigint, c_ref bigint, c_cur bigint"
    )
    got = {
        r["event_type"]: (
            r["n_ref"],
            r["n_cur"],
            r["hl_lo_cents"],
            r["hl_hi_cents"],
            r["ci_lo_cents"],
            r["ci_hi_cents"],
            r["hl_shift_cents"],
        )
        for r in analytics.hl_from_value_counts(pv).collect()
    }
    assert set(got) == {"gap", "tie", "mix"}
    for name in got:
        rows = [
            (v, cr, cc) for t, v, cr, cc in fixtures if t == name
        ]
        b = _brute_hl(rows)
        assert got[name][:6] == b, f"{name}: {got[name][:6]} != {b}"
        assert got[name][6] == (b[2] + b[3]) / 2


def test_hl_output_order_and_schema(spark):
    """Presentation contract unchanged: ordered by event_type, the
    eight columns in their historical order and types."""
    pv = spark.createDataFrame(
        [("b", 1, 1, 1), ("a", 2, 2, 2)],
        "event_type string, cents bigint, c_ref bigint, c_cur bigint",
    )
    out = analytics.hl_from_value_counts(pv)
    assert out.columns == [
        "event_type",
        "n_ref",
        "n_cur",
        "hl_lo_cents",
        "hl_hi_cents",
        "ci_lo_cents",
        "ci_hi_cents",
        "hl_shift_cents",
    ]
    rows = out.collect()
    assert [r["event_type"] for r in rows] == ["a", "b"]
    assert all(isinstance(r["hl_shift_cents"], float) for r in rows)


# ---------------------------------------------------------------------------
# Jonckheere–Terpstra: pandas prefix-matrix jt2 vs the dense-grid form
# ---------------------------------------------------------------------------


def _brute_jt2(cells):
    """Doubled JT from (h, cents, c) cells the slow way: expand every
    cell and sum, over ordered hour pairs, 2·#(x<y) + #(x==y) —
    restricted to hours 0..23 and non-null cents, the dense-grid
    domain."""
    vals = []
    for h, v, c in cells:
        if 0 <= h <= 23 and v is not None:
            vals.extend([(h, v)] * c)
    jt2 = 0
    for i, (h1, v1) in enumerate(vals):
        for h2, v2 in vals[i + 1 :]:
            if h1 == h2:
                continue
            lo, hi = ((v1, v2) if h1 < h2 else (v2, v1))
            if lo < hi:
                jt2 += 2
            elif lo == hi:
                jt2 += 1
    return jt2


def _pandas_jt2(cells):
    pdf = pd.DataFrame(
        {
            "event_type": ["t"] * len(cells),
            "h": [h for h, _, _ in cells],
            "cents": [v for _, v, _ in cells],
            "c": [c for _, _, c in cells],
        }
    )
    out = analytics._jt_grid_group(pdf)
    return int(out.iloc[0]["jt2d"])


def test_jt2_matches_bruteforce_sweep():
    rng = random.Random(131)
    for _ in range(300):
        ncells = rng.randint(1, 40)
        seen = set()
        cells = []
        for _ in range(ncells):
            h = rng.randint(0, 23)
            v = rng.randint(-5, 5)
            if (h, v) in seen:
                continue
            seen.add((h, v))
            cells.append((h, v, rng.randint(1, 4)))
        assert _pandas_jt2(cells) == _brute_jt2(cells), f"cells: {cells}"


def test_jt2_out_of_range_hours_and_null_cents_excluded():
    """Rows outside the 0–23 hour grid (pre-epoch negative hours) and
    NULL-cents rows never matched the former dense-grid join, so they
    are excluded from jt2 — while the Spark-side marginals still count
    them (pinned end-to-end below)."""
    base = [(1, 10, 2), (2, 20, 3)]
    with_extras = base + [(-3, 10, 5), (25, 20, 1)]
    assert _pandas_jt2(with_extras) == _brute_jt2(base)
    # NULL cents via the pandas path directly
    pdf = pd.DataFrame(
        {
            "event_type": ["t"] * 3,
            "h": [1, 2, 3],
            "cents": [10.0, 20.0, float("nan")],
            "c": [2, 3, 4],
        }
    )
    assert int(analytics._jt_grid_group(pdf).iloc[0]["jt2d"]) == _brute_jt2(
        [(1, 10, 2), (2, 20, 3)]
    )


def test_jt_from_cell_counts_spark_path(spark):
    """End-to-end: jt2 via the Arrow task, marginals via Spark, on a
    fixture with an out-of-range hour (counts in marginals, not jt2)."""
    rows = [
        ("a", 1, 10, 2),
        ("a", 2, 20, 3),
        ("a", -3, 10, 5),
        ("b", 0, 7, 1),
        ("b", 23, 7, 2),
    ]
    pc = spark.createDataFrame(
        rows, "event_type string, h bigint, cents bigint, c bigint"
    )
    got = {r["event_type"]: r.asDict() for r in analytics.jt_from_cell_counts(pc).collect()}
    # type a: jt2 over the in-grid cells only
    assert got["a"]["jt2"] == _brute_jt2([(1, 10, 2), (2, 20, 3)])
    # marginals count the out-of-range hour row too
    assert got["a"]["n_total"] == 10
    # per-hour sizes: h=1→2, h=2→3, h=-3→5 (the out-of-range hour counts)
    assert got["a"]["sum_n2"] == 2 * 2 + 3 * 3 + 5 * 5
    # type b: all ties at cents=7 across two hours → jt2 = #tie-pairs = 1*2
    assert got["b"]["jt2"] == 2
    assert got["b"]["n_total"] == 3


def test_jt_from_cell_counts_sums_split_cells(spark):
    """A (type, h, cents) cell split over two rows counts as their sum
    (a streaming state or a union of partial relations carries such
    rows); it must not overwrite the other half."""
    schema = "event_type string, h bigint, cents bigint, c bigint"
    merged = [("a", 1, 10, 3), ("a", 2, 20, 4), ("a", 2, 5, 2)]
    split = [("a", 1, 10, 1), ("a", 1, 10, 2), ("a", 2, 20, 4), ("a", 2, 5, 2)]
    jt2 = [
        analytics.jt_from_cell_counts(spark.createDataFrame(rows, schema)).first()["jt2"]
        for rows in (merged, split)
    ]
    assert jt2[0] == _brute_jt2([(1, 10, 3), (2, 20, 4), (2, 5, 2)])
    assert jt2[1] == jt2[0]


def test_jt_from_cell_counts_bigint_cents_exact_beside_null(spark):
    """Cents 2^53 and 2^53 + 1 are distinct values even when the same
    type holds a NULL-cents row: the NULL must not turn the group's
    cents into float64, where the two collapse into a tie."""
    big = 2**53
    rows = [("a", 1, big, 1), ("a", 2, big + 1, 1), ("a", 3, None, 1)]
    pc = spark.createDataFrame(
        rows, "event_type string, h bigint, cents bigint, c bigint"
    )
    got = analytics.jt_from_cell_counts(pc).first()
    # one strictly increasing pair across hours → doubled count 2 (a tie gives 1)
    assert got["jt2"] == 2
    assert got["n_total"] == 3


def test_jt_from_cell_counts_alphabet_cap_fires(spark):
    """One type with 100 001 distinct cents (the cap is 100 000) raises
    ValueError when the operator is built, before the Arrow pass would
    buffer its 24 × V grid in one worker."""
    pc = spark.range(100_001).select(
        F.lit("a").alias("event_type"),
        (F.col("id") % 24).alias("h"),
        F.col("id").alias("cents"),
        F.lit(1).cast("bigint").alias("c"),
    )
    with pytest.raises(ValueError, match="alphabet of 100001 distinct cents"):
        analytics.jt_from_cell_counts(pc)


# ---------------------------------------------------------------------------
# Literal-plane projections: the one Arrow kernel vs the chain spec
# ---------------------------------------------------------------------------


def _rademacher(bands, bits):
    return similarity.rademacher_planes(bands * bits)


def _band_parity(df, bands, bits, planes):
    arrow = similarity.banded_signatures_arrow(df, bands, bits, planes)
    chain = df.select(
        "vec_id", "label", "vec", *band_cols("vec", planes, bands, bits)
    )
    assert chain.exceptAll(arrow).count() == 0
    assert arrow.exceptAll(chain).count() == 0


def _dots_parity(df, planes):
    k = len(planes)
    arrow = similarity.plane_dots_arrow(df, planes).select(
        "vec_id", F.array(*[F.col("__d")[j] for j in range(k)]).alias("d")
    )
    chain = df.select("vec_id", dots_col("vec", planes).alias("d"))
    assert chain.exceptAll(arrow).count() == 0
    assert arrow.exceptAll(chain).count() == 0


def _real_emb_d(spark, sf_dir):
    from real_time_database_monitoring_system_spark.sources.registry import load_table

    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("vec")
    )


def test_arrow_bands_bit_identical_to_chain_real_corpus(spark, sf_dir):
    """Every band of every row of the real embeddings table matches the
    chain spec at the check-scale 8×6 width, and a sequential Python
    fold over the same rows at the prod 8×16 width (a 128×64-term
    chain is too large a plan to hold the Spark spec to)."""
    emb_d = _real_emb_d(spark, sf_dir)
    _band_parity(emb_d, 8, 6, _rademacher(8, 6))

    planes = _rademacher(8, 16)
    got = {
        r["vec_id"]: tuple(r[f"band_{j}"] for j in range(8))
        for r in similarity.banded_signatures_arrow(emb_d, 8, 16, planes).collect()
    }
    rows = emb_d.select("vec_id", "vec").collect()
    assert len(got) == len(rows) > 0
    for r in rows:
        assert got[r["vec_id"]] == python_bands(r["vec"], planes, 8, 16), r["vec_id"]


def test_arrow_bands_gaussian_knn_lsh_planes_real_corpus(spark, sf_dir):
    """`knn_lsh`'s bands: 12 seeded Gaussian planes, 3 bands × 4 bits,
    against the general multiply chain."""
    _band_parity(_real_emb_d(spark, sf_dir), 3, 4, similarity._hyperplanes(12, 64))


def test_arrow_dots_bit_identical_to_chain_real_corpus(spark, sf_dir):
    """The 16 Rademacher dots behind `random_projection`/`knn_projected`
    equal the chain's doubles exactly, and so do `knn_lsh`'s Gaussian
    dots: with ±1 planes every fold order is exact on float32 data, so
    only the Gaussian check pins the kernel's order and its separate
    (unfused) multiply and add."""
    emb_d = _real_emb_d(spark, sf_dir)
    _dots_parity(emb_d, _rademacher(1, 16))
    _dots_parity(emb_d, similarity._hyperplanes(12, 64))


def test_plane_dots_kernel_matches_python_fold(sf_dir):
    """`_plane_dots` itself, on every real vector in one batch, equals
    the sequential Python fold exactly for Gaussian and ±1 planes (a
    BLAS matmul or a reordered fold differs in the last bits)."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    col = (
        pq.read_table(os.path.join(sf_dir, "embeddings.parquet"), columns=["embedding"])
        .column("embedding")
        .combine_chunks()
        .cast(pa.list_(pa.float64()))
    )
    vecs = col.to_pylist()
    for planes in (similarity._hyperplanes(12, 64), _rademacher(1, 16)):
        acc, bad = similarity._plane_dots(col, np.array(planes))
        for r, v in enumerate(vecs):
            if v is None or None in v:
                assert bad[r]
                continue
            assert not bad[r]
            assert acc[r].tolist() == [python_dot(v, p) for p in planes], r


def _corner_case_df(spark):
    import random as _random

    rng = _random.Random(7)
    rows = [(i, 1, [rng.uniform(-2, 2) for _ in range(64)]) for i in range(50)]
    rows.append((1000, 1, None))
    v = [0.5] * 64
    v[13] = None
    rows.append((1001, 1, v))
    v = [0.5] * 64
    v[7] = float("nan")
    rows.append((1002, 1, v))
    rows.append((1003, 1, [0.25] * 70))
    return spark.createDataFrame(rows, "vec_id bigint, label int, vec array<double>")


def test_arrow_bands_corner_cases(spark):
    """NULL vector / NULL element → all-zero bands (the chain's NULL
    dot); NaN element → every bit set (Spark's NaN ≥ 0.0 is true);
    longer-than-64 vectors use their first 64 elements — all checked
    against the chain itself; a shorter-than-64 vector raises (the
    chain's ANSI index would too)."""
    _band_parity(_corner_case_df(spark), 8, 6, _rademacher(8, 6))

    short = spark.createDataFrame(
        [(1, 1, [0.5] * 10)], "vec_id bigint, label int, vec array<double>"
    )
    with pytest.raises(Exception, match="shorter"):
        similarity.banded_signatures_arrow(short, 2, 3, _rademacher(2, 3)).collect()


def test_arrow_dots_corner_cases(spark):
    """The dots emitter on the same fixtures: a NULL vector or element
    gives NULL dots (an all-NULL array, as the chain's NULL elements),
    NaN propagates, a 70-dim vector uses its first 64 elements, and a
    short vector raises."""
    df = _corner_case_df(spark)
    _dots_parity(df, _rademacher(1, 16))
    got = {
        r["vec_id"]: r["__d"]
        for r in similarity.plane_dots_arrow(df, _rademacher(1, 4)).collect()
    }
    assert got[1000] is None and got[1001] is None
    assert all(math.isnan(x) for x in got[1002])

    short = spark.createDataFrame(
        [(1, 1, [0.5] * 10)], "vec_id bigint, label int, vec array<double>"
    )
    with pytest.raises(Exception, match="shorter"):
        similarity.plane_dots_arrow(short, _rademacher(1, 4)).collect()
