"""Session factory defaults that are not visible in query results."""

from __future__ import annotations


def test_only_the_window_exec_logger_is_raised_to_error(spark):
    log_manager = spark.sparkContext._jvm.org.apache.logging.log4j.LogManager

    def level(name):
        return str(log_manager.getLogger(name).getLevel())

    assert level("org.apache.spark.sql.execution.window.WindowExec") == "ERROR"
    assert str(log_manager.getRootLogger().getLevel()) == "WARN"
    assert level("org.apache.spark.sql.execution.window.WindowExecBase") == "WARN"
    assert level("org.apache.spark.sql.execution.SparkPlan") == "WARN"
