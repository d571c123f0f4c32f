"""Session defaults that change behaviour rather than plans."""

import pytest
from pyspark.errors import ArithmeticException
from pyspark.errors.utils import is_debugging_enabled
from pyspark.sql import functions as F


def test_origin_capture_off(spark):
    # every Column function would otherwise record its Python call
    # site over py4j (about ten round trips per call)
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False


def test_runtime_error_keeps_its_class_without_origin_capture(spark):
    df = spark.range(1).select((F.col("id") / F.lit(0)).alias("q"))
    with pytest.raises(ArithmeticException) as err:
        df.collect()
    assert err.value.getCondition() == "DIVIDE_BY_ZERO"
