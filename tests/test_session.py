"""The engine's pinned session config (``session.get_spark``)."""

from __future__ import annotations

import pytest
from pyspark.errors import ArithmeticException


def test_ansi_mode_is_pinned_and_overflow_raises(spark):
    # set by get_spark itself, not inherited from Spark's default
    assert spark.sparkContext.getConf().get("spark.sql.ansi.enabled") == "true"
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    with pytest.raises(ArithmeticException) as err:
        spark.sql("SELECT CAST(100 AS DECIMAL(20, 18)) AS x").collect()
    # the condition may carry a subclass (``.WITH_SUGGESTION``)
    assert err.value.getCondition().split(".")[0] == "NUMERIC_VALUE_OUT_OF_RANGE"
