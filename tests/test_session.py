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


def _checkpoint_manager(spark, path) -> str:
    """The class ``CheckpointFileManager.create`` picks for ``path`` under
    the session's Hadoop configuration, as a streaming query's logs do."""
    jvm = spark._jvm
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(path)), spark._jsparkSession.sessionState().newHadoopConf()
    )
    return manager.getClass().getName()


def test_get_spark_writes_checkpoint_logs_through_filesystem(spark, tmp_path):
    from outboxx_spark.session import (
        CHECKPOINT_FILE_MANAGER,
        CHECKPOINT_FILE_MANAGER_CONF,
        get_spark,
    )

    assert _checkpoint_manager(spark, tmp_path) == CHECKPOINT_FILE_MANAGER
    # a caller's value wins (a deployment's cloud-specific manager);
    # getOrCreate hands back the shared session, so put the default back
    context = CHECKPOINT_FILE_MANAGER.replace("FileSystemBased", "FileContextBased")
    try:
        assert get_spark(extra_conf={CHECKPOINT_FILE_MANAGER_CONF: context}) is spark
        assert _checkpoint_manager(spark, tmp_path) == context
    finally:
        spark.conf.set(CHECKPOINT_FILE_MANAGER_CONF, CHECKPOINT_FILE_MANAGER)
    assert _checkpoint_manager(spark, tmp_path) == CHECKPOINT_FILE_MANAGER
