"""Session construction: the static conf `get_spark` pins in the builder."""

from __future__ import annotations

import pytest
from pyspark.errors import PySparkException
from pyspark.sql import functions as F

from data_warehouse_hive_spark.session import conf_scope


def test_call_site_capture_is_off(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_plan_build_captures_no_call_site(spark, sf_dir, registry, monkeypatch):
    import pyspark.errors.utils as utils

    def captured(depth):
        raise AssertionError("PySpark captured a call site")

    monkeypatch.setattr(utils, "_capture_call_site", captured)
    df = registry["q_tpch_q06"].fn(spark, sf_dir)
    assert df.columns


def test_runtime_error_keeps_its_class(spark):
    with conf_scope(spark, {"spark.sql.ansi.enabled": "true"}):
        with pytest.raises(PySparkException) as err:
            spark.range(1).select(F.lit(1) / F.lit(0)).collect()
    assert err.value.getCondition() == "DIVIDE_BY_ZERO"
