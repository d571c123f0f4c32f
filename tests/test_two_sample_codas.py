"""The keyed path of the seven two-sample ECDF codas (KS, Anderson–
Darling, Cramér–von Mises, Kuiper, Ansari–Bradley, Mood, Lepage).

The windowed drift members call each coda with ``keys=["event_type",
"day"]``; the batch operators and streaming twins call it with the
default per-type key. Both must score a group identically, so each
coda runs once on a hand-built ``(event_type, day, value, d_ref,
d_cur)`` relation keyed by (event_type, day), and once with the same
groups folded into one composite ``event_type`` key. The relation has
ties on both sides, a group whose reference half is empty and a group
with a single distinct value. The KS and Kuiper integer gap numerators
are also checked against hand-computed values."""

from __future__ import annotations

import json
from functools import reduce

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from real_time_database_monitoring_system_spark.operators import anomaly

# (event_type, day, value, d_ref, d_cur)
ROWS = [
    # ties on both sides; n_ref = 6, n_cur = 5
    ("a", 1, 1, 2, 1),
    ("a", 1, 2, 0, 3),
    ("a", 1, 3, 1, 1),
    ("a", 1, 5, 3, 0),
    # empty reference half
    ("a", 2, 1, 0, 2),
    ("a", 2, 4, 0, 1),
    # one distinct value
    ("b", 1, 7, 3, 2),
    # n_ref = n_cur = 3, the last value tied 2/2
    ("b", 2, 1, 1, 0),
    ("b", 2, 2, 0, 1),
    ("b", 2, 3, 2, 2),
]

CODAS = {
    "ks": anomaly.ks_from_value_counts,
    "ad": anomaly.ad_from_value_counts,
    "cvm": anomaly.cvm_from_value_counts,
    "kuiper": anomaly.kuiper_from_value_counts,
    "ab": anomaly.ab_from_value_counts,
    "mood": anomaly.mood_scale_from_value_counts,
    "lepage": anomaly.lepage_from_value_counts,
}

# gap_j = c_ref·n_cur − c_cur·n_ref at each distinct value, by hand:
# a/1: 2·5−1·6 = 4, 2·5−4·6 = −14, 3·5−5·6 = −15, 6·5−5·6 = 0
# a/2: n_ref = 0 and every c_ref = 0, so every gap is 0
# b/1: 3·2−2·3 = 0
# b/2: 1·3−0·3 = 3, 1·3−1·3 = 0, 3·3−3·3 = 0
KS_NUM = {"a/1": 15, "a/2": 0, "b/1": 0, "b/2": 3}
KUIPER_NUM = {"a/1": (4, 15), "a/2": (0, 0), "b/1": (0, 0), "b/2": (3, 0)}
HALVES = {"a/1": (6, 5), "a/2": (0, 3), "b/1": (3, 2), "b/2": (3, 3)}


@pytest.fixture(scope="module")
def outputs(spark) -> dict[str, dict[str, dict[str, dict]]]:
    """Every coda, keyed by (event_type, day) and keyed by the one
    composite event_type ``type/day``, collected in ONE action (each
    coda plan costs a dozen small jobs; a union lets them run side by
    side). Returns {coda: {path: {group: stats}}}, stats being the
    output row without its key columns."""
    per_value = spark.createDataFrame(
        ROWS, "event_type string, day bigint, value bigint, d_ref bigint, d_cur bigint"
    )
    group = F.concat_ws("/", "event_type", F.col("day").cast("string"))
    folded = per_value.select(group.alias("event_type"), "value", "d_ref", "d_cur")
    parts = []
    for name, coda in CODAS.items():
        keyed = coda(per_value, keys=["event_type", "day"])
        stats = [c for c in keyed.columns if c not in ("event_type", "day")]
        row = F.to_json(F.struct(*stats), {"ignoreNullFields": "false"}).alias("row")
        parts.append(keyed.select(F.lit(name), F.lit("keyed"), group, row))
        parts.append(
            coda(folded).select(F.lit(name), F.lit("single"), "event_type", row)
        )
    out: dict[str, dict[str, dict[str, dict]]] = {
        name: {"keyed": {}, "single": {}} for name in CODAS
    }
    for name, path, g, row in reduce(DataFrame.union, parts).collect():
        out[name][path][g] = json.loads(row)
    return out


@pytest.mark.parametrize("name", sorted(CODAS))
def test_keyed_coda_equals_per_group_coda(outputs, name):
    out = outputs[name]
    assert out["keyed"] == out["single"]
    # Lepage drops groups with an empty half (its Mann–Whitney side
    # does); every other coda reports them with NULL statistics
    expected = {"a/1", "b/1", "b/2"} if name == "lepage" else set(HALVES)
    assert set(out["keyed"]) == expected
    for g in expected:
        row = out["keyed"][g]
        assert (row["n_ref"], row["n_cur"]) == HALVES[g]
        if name == "ks":
            n_ref, n_cur = HALVES[g]
            if n_ref and n_cur:
                assert row["ks_d"] == KS_NUM[g] / (n_ref * n_cur)
            else:
                assert row["ks_d"] is None
        if name == "kuiper":
            assert (row["d_plus_num"], row["d_minus_num"]) == KUIPER_NUM[g]
