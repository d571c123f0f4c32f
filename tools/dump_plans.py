"""Dump query plans for named declared queries to files.

Usage: python tools/dump_plans.py <outdir> <suffix> <query> [query ...]

For each query writes:
- <outdir>/<query>_<suffix>.txt — `.explain('formatted')` of the final
  plan;
- <outdir>/optimized/<query>.txt — the optimized logical plan of every
  relation passed to `util.materialize` while the query is built (in
  call order), then the optimized logical plan of the final relation,
  with expression ids and checkpoint-RDD attribute lists normalized so
  two checkouts can be compared textually.

Plan identity between two checkouts is then one command: run the tool
from each checkout into its own <outdir> and
`diff -r <outdir_a>/optimized <outdir_b>/optimized`.
Env: SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as bench.py.
"""

from __future__ import annotations

import importlib
import os
import pkgutil
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from __spark_entry__ import queries  # noqa: E402
from real_time_database_monitoring_system_spark import operators, streaming  # noqa: E402
from real_time_database_monitoring_system_spark.operators import util  # noqa: E402
from real_time_database_monitoring_system_spark.session import get_local_spark  # noqa: E402

_PACKAGE = "real_time_database_monitoring_system_spark"
# `name#123` / `name#123L` expression ids differ run to run; this also
# covers the attribute list of each `LogicalRDD [...]` a materialized
# relation re-enters the plan as
_EXPR_ID = re.compile(r"#\d+")


def _optimized(df) -> str:
    return _EXPR_ID.sub("#", df._jdf.queryExecution().optimizedPlan().toString())


def _record_materialize(seen: list[str]):
    """Route every `util.materialize` call — through the util module
    and through each package module's imported binding — via a wrapper
    that records the input's optimized plan first."""
    for pkg in (operators, streaming):
        for info in pkgutil.iter_modules(pkg.__path__):
            importlib.import_module(f"{pkg.__name__}.{info.name}")
    original = util.materialize

    def recording(df):
        seen.append(_optimized(df))
        return original(df)

    for name, mod in list(sys.modules.items()):
        if not name.startswith(_PACKAGE) or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, attr, recording)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    outdir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    os.makedirs(os.path.join(outdir, "optimized"), exist_ok=True)
    spark = get_local_spark()
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()
    seen: list[str] = []
    _record_materialize(seen)
    for name in names:
        seen.clear()
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(path)
        path = os.path.join(outdir, "optimized", f"{name}.txt")
        with open(path, "w") as fh:
            for i, sub in enumerate(seen):
                fh.write(f"== materialize #{i} ==\n{sub}\n")
            fh.write(f"== final ==\n{_optimized(df)}\n")
        print(path)


if __name__ == "__main__":
    main()
