"""The session factory's settings that change PySpark's own behaviour."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_get_spark_turns_call_site_capture_off(spark):
    # every DataFrame/Column call would otherwise record its Python call
    # site over py4j; PySpark reads the flag once per process
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()
    # errors still carry their message, only the call-site block goes
    with pytest.raises(Exception, match="lsn went backwards"):
        spark.range(1).select(F.raise_error(F.lit("lsn went backwards"))).collect()
