"""session.py master detection: a builder-set ``local[N]`` must never
override an externally configured master (spark-submit --master), and
the detection must work BEFORE a JVM exists — ``SparkConf()`` without a
context reads an empty local dict, so the factory probes the launcher's
actual records (PYSPARK_SUBMIT_ARGS / MASTER / SPARK_MASTER / a live
context)."""

from __future__ import annotations

from divolte_collector_spark.session import _external_master


def test_master_env_var_detected(monkeypatch):
    monkeypatch.setenv("MASTER", "spark://cluster:7077")
    assert _external_master() == "spark://cluster:7077"


def test_spark_master_env_var_detected(monkeypatch):
    monkeypatch.delenv("MASTER", raising=False)
    monkeypatch.setenv("SPARK_MASTER", "yarn")
    assert _external_master() == "yarn"


def test_pyspark_submit_args_detected(monkeypatch):
    monkeypatch.delenv("MASTER", raising=False)
    monkeypatch.delenv("SPARK_MASTER", raising=False)
    monkeypatch.setenv(
        "PYSPARK_SUBMIT_ARGS", "--master k8s://https://host:443 pyspark-shell"
    )
    assert _external_master() == "k8s://https://host:443"
    monkeypatch.setenv(
        "PYSPARK_SUBMIT_ARGS", "--master=yarn --deploy-mode client pyspark-shell"
    )
    assert _external_master() == "yarn"


def test_no_external_master_without_env_or_context(monkeypatch):
    monkeypatch.delenv("MASTER", raising=False)
    monkeypatch.delenv("SPARK_MASTER", raising=False)
    monkeypatch.delenv("PYSPARK_SUBMIT_ARGS", raising=False)
    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    assert _external_master() is None


def test_live_context_master_detected(monkeypatch, spark):
    monkeypatch.delenv("MASTER", raising=False)
    monkeypatch.delenv("SPARK_MASTER", raising=False)
    monkeypatch.delenv("PYSPARK_SUBMIT_ARGS", raising=False)
    assert _external_master() == spark.sparkContext.master


class _RecordingBuilder:
    """Stands in for ``SparkSession.builder``: records master/config
    calls and returns them from getOrCreate instead of starting a JVM."""

    def __init__(self):
        self.calls = {}

    def appName(self, name):
        return self

    def master(self, master):
        self.calls["master"] = master
        return self

    def config(self, key, value):
        self.calls[key] = value
        return self

    def getOrCreate(self):
        return self.calls


def test_cpus_env_var_read_when_get_spark_is_called(monkeypatch):
    from pyspark.sql import SparkSession

    from divolte_collector_spark import session

    # set only after the module was imported
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setattr(session, "_external_master", lambda: None)
    monkeypatch.setattr(SparkSession, "builder", _RecordingBuilder())
    calls = session.get_spark("t")
    assert calls["master"] == "local[3]"
    assert calls["spark.sql.shuffle.partitions"] == "3"
