"""``session.get_spark`` defaults that trade something away."""

from __future__ import annotations

import pytest
from pyspark.errors import ArithmeticException


def test_call_site_capture_off_keeps_error_class(spark):
    """PySpark's per-Column call-site capture is off; an ANSI error still
    carries its error class."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    with pytest.raises(ArithmeticException) as e:
        spark.sql("SELECT 1 / 0 AS x").collect()
    assert e.value.getCondition() == "DIVIDE_BY_ZERO"
