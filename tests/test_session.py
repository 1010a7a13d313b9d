"""Session posture set by get_spark that is not visible in a plan."""

from __future__ import annotations

from cassowary_spark.session import WINDOW_EXEC_LOGGER


def test_window_exec_logger_is_at_error(spark):
    jvm = spark.sparkContext._jvm
    level = jvm.org.apache.logging.log4j.LogManager.getLogger(WINDOW_EXEC_LOGGER).getLevel()
    assert level.toString() == "ERROR"


def test_dataframe_call_site_capture_is_off(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
