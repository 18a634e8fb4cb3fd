"""``get_spark`` inside a process that already has a session."""

from buildkite_logs_parquet_spark.session import get_spark


def test_get_spark_keeps_active_session_confs(spark, monkeypatch):
    """An in-process caller (the CLI's ``main``) gets the running session
    back with its confs intact, not reset to ``SPARK_GRAFT_CPUS``."""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "7")
    assert get_spark(app_name="other") is spark
    assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
