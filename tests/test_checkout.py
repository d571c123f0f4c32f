"""The suite imports the checkout it lives in.

A run from a second copy of the repository (the parent side of an
A/B) must time and check that copy's code, not another checkout's."""

from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def test_suite_imports_its_own_checkout():
    import __spark_entry__
    import real_time_database_monitoring_system_spark as pkg
    from tests import oracle_harness

    for mod in (pkg, __spark_entry__, oracle_harness):
        assert Path(mod.__file__).resolve().is_relative_to(ROOT), mod.__file__
