"""Local stand-in for the driver's t2 correctness gate.

Runs every `queries()` entry on Spark and its `oracle_sql()` twin on
DuckDB over the same sf dir, then compares row count, column names and
order-insensitive values. Used by tests and by `python
tests/oracle_harness.py [sf_dir] [query ...]` for fast iteration.
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from __spark_entry__ import oracle_sql, queries  # noqa: E402
from real_time_database_monitoring_system_spark.sources.registry import TABLES  # noqa: E402


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    return str(v)


def _norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_cell(r[i]) for i in idx) for r in rows)


def compare_query(spark, con, name: str, sf_dir: str) -> list[str]:
    """Return a list of mismatch descriptions (empty = pass)."""
    return compare_frame(queries()[name](spark, sf_dir), run_oracle(con, name))


def run_oracle(con, name: str):
    """(column names, rows) of entry `name`'s DuckDB oracle, or None
    for a rows-only entry (no oracle)."""
    ora = oracle_sql().get(name)
    if ora is None:
        return None
    res = con.execute(ora)
    return [d[0] for d in res.description], res.fetchall()


def compare_frame(sdf, oracle) -> list[str]:
    """Mismatches between the built entry `sdf` and its `run_oracle`
    result (empty = pass)."""
    problems: list[str] = []
    spark_rows = sdf.collect()
    spark_cols = sdf.columns
    if oracle is None:
        if len(spark_rows) == 0:
            problems.append("rows-only check: Spark returned 0 rows")
        return problems
    duck_cols, duck_rows = oracle
    if sorted(spark_cols) != sorted(duck_cols):
        problems.append(f"columns differ: spark={sorted(spark_cols)} duck={sorted(duck_cols)}")
        return problems
    if len(spark_rows) != len(duck_rows):
        problems.append(f"row count differs: spark={len(spark_rows)} duck={len(duck_rows)}")
    s_norm = _norm_rows(spark_cols, [tuple(r) for r in spark_rows])
    d_norm = _norm_rows(duck_cols, duck_rows)
    if s_norm != d_norm:
        diffs = [
            (a, b) for a, b in zip(s_norm, d_norm) if a != b
        ][:3]
        only_s = [r for r in s_norm[:2000] if r not in set(d_norm[:2000])][:2]
        problems.append(f"values differ; first diffs={diffs} spark-only-sample={only_s}")
    return problems


def main() -> None:
    from real_time_database_monitoring_system_spark.session import get_local_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    names = sys.argv[2:] or list(queries())
    spark = get_local_spark(8)
    con = duck_connection(sf_dir)
    failed = []
    for name in names:
        try:
            problems = compare_query(spark, con, name, sf_dir)
        except Exception as e:  # noqa: BLE001
            problems = [f"EXCEPTION: {type(e).__name__}: {str(e)[:500]}"]
        status = "OK" if not problems else "FAIL"
        print(f"[{status}] {name}")
        for p in problems:
            print(f"       {p}")
        if problems:
            failed.append(name)
    print(f"\n{len(names) - len(failed)}/{len(names)} passed; failed: {failed}")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
