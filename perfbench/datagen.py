"""Seeded synthetic input tables for the benchmark.

The tables follow the schemas in ``sources.registry.SCHEMAS`` and the
shapes of the engine's test data: a TPC-H-like star schema with
uniform independent columns, an ``events`` feed with strictly
increasing timestamps over 30 days, a ``documents`` corpus drawn from
a 30-word vocabulary in which 5% of documents are near-duplicates
(another document's text plus a trailing ``dup`` token), and
unit-norm 64-d ``embeddings``. Row counts scale with ``sf`` the way
the test data does (lineitem = 6M * sf, events = 1M * sf, ...).

The same seed always writes the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

EVENTS_START = np.datetime64("2024-01-01T00:00:00", "us")
EVENTS_SPAN_US = 30 * 86_400 * 1_000_000
ORDERS_START = np.datetime64("1995-01-01", "D")
SHIP_START = np.datetime64("1995-01-02", "D")

ALL_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0, 2)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _days(start: np.datetime64, offsets: np.ndarray) -> pa.Array:
    return pa.array((start + offsets).astype("datetime64[us]"), pa.timestamp("us"))


def events_table(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    # strictly increasing, distinct µs offsets: ts order == event_id order
    offsets = np.sort(rng.choice(EVENTS_SPAN_US, size=n, replace=False))
    value = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(EVENTS_START + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": pa.array(value),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))]) for _ in range(n)]
    # near-duplicates: 5% of documents copy another document's text
    # (possibly itself a copy) and append one token
    for i in rng.choice(n, size=n // 20, replace=False):
        src = int(rng.integers(0, n - 1))
        texts[i] = texts[src + (src >= i)] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P).astype(object)),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def embeddings_table(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    e = rng.standard_normal((n, dim)).astype(np.float32)
    e /= np.linalg.norm(e, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(e), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
        }
    )


def build_tables(sf: float, seed: int, tables=ALL_TABLES) -> dict[str, pa.Table]:
    """Generate the named tables at scale factor `sf` from `seed`.

    Each table draws from its own child stream, so the set of tables
    requested does not change any table's contents."""
    n_cust = max(int(150_000 * sf), 10)
    n_orders = int(1_500_000 * sf)
    n_part = int(200_000 * sf)
    n_supp = max(int(10_000 * sf), 10)
    n_line = int(6_000_000 * sf)
    streams = dict(zip(ALL_TABLES, np.random.SeedSequence(seed).spawn(len(ALL_TABLES))))
    out: dict[str, pa.Table] = {}
    for name in tables:
        rng = np.random.default_rng(streams[name])
        if name == "region":
            t = pa.table(
                {
                    "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                    "r_name": pa.array(REGIONS),
                }
            )
        elif name == "nation":
            t = pa.table(
                {
                    "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                    "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                    "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
                }
            )
        elif name == "customer":
            t = pa.table(
                {
                    "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
                    "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                    "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
                    "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_cust)),
                    "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
                }
            )
        elif name == "supplier":
            t = pa.table(
                {
                    "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
                    "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                    "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
                    "s_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_supp)),
                }
            )
        elif name == "part":
            keys = np.arange(n_part, dtype=np.int64)
            names = [f"{a} {b}" for a in P_ADJ for b in P_NOUN]
            t = pa.table(
                {
                    "p_partkey": pa.array(keys),
                    "p_name": _pick(rng, names, n_part),
                    "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
                    "p_type": _pick(rng, P_TYPES, n_part),
                    "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
                    "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) * 0.1, 1)),
                }
            )
        elif name == "orders":
            t = pa.table(
                {
                    "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
                    "o_custkey": pa.array(rng.integers(0, n_cust, n_orders, dtype=np.int64)),
                    "o_orderstatus": _pick(rng, ["F", "O", "P"], n_orders),
                    "o_totalprice": pa.array(_cents(rng, 1000.0, 500000.0, n_orders)),
                    "o_orderdate": _days(ORDERS_START, rng.integers(0, 2404, n_orders)),
                    "o_orderpriority": _pick(rng, PRIORITIES, n_orders),
                }
            )
        elif name == "lineitem":
            t = pa.table(
                {
                    "l_orderkey": pa.array(rng.integers(0, n_orders, n_line, dtype=np.int64)),
                    "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
                    "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
                    "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
                    "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
                    "l_extendedprice": pa.array(_cents(rng, 900.0, 105000.0, n_line)),
                    "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
                    "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
                    "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
                    "l_linestatus": _pick(rng, ["F", "O"], n_line),
                    "l_shipdate": _days(SHIP_START, rng.integers(0, 2499, n_line)),
                }
            )
        elif name == "events":
            t = events_table(rng, int(1_000_000 * sf), max(n_cust // 10, 10))
        elif name == "documents":
            t = documents_table(rng, max(int(50_000 * sf), 500))
        elif name == "embeddings":
            t = embeddings_table(rng, max(int(20_000 * sf), 500))
        else:
            raise KeyError(name)
        out[name] = t
    return out


def write_tables(out_dir: str, tables: dict[str, pa.Table]) -> None:
    """One single-row-group parquet file per table, as in the test data."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), row_group_size=len(t) + 1)
