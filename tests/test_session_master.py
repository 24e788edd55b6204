"""Session factory: master resolution must never downgrade a cluster job
to local mode (a spark-submit-provided master is inherited unless cores
are explicit), submitted confs win over the engine defaults, and the
defaults keep a warm query free of Janino recompiles."""

import os
from types import SimpleNamespace

import pandas as pd
import pytest
from pyspark import SparkConf

import ccnet_spark_spark.session as session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_inherits_submitted_master(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    master, n = session._resolve_master(None, submitted_has_master=True)
    assert master is None and n is None  # inherit — do not call .master()


def test_explicit_cores_override_submitted_master(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    master, n = session._resolve_master(8, submitted_has_master=True)
    assert master == "local[8]" and n == 8


def test_env_cores_used_when_no_master(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    master, n = session._resolve_master(None, submitted_has_master=False)
    assert master == "local[4]" and n == 4


def test_default_local_star(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    master, n = session._resolve_master(None, submitted_has_master=False)
    assert master == "local[*]" and n and n >= 1


@pytest.mark.parametrize(
    "mem_total_kb, heap",
    [
        (16 * 2**20, "8g"),  # 16 GiB host
        (15_990_000, "7g"),  # a "16 GB" VM's MemTotal
        (256 * 2**20, "48g"),  # capped
        (1_000_000, "1g"),  # floored
        (None, "48g"),  # no /proc/meminfo
    ],
)
def test_default_driver_memory_fits_host(mem_total_kb, heap):
    assert session.driver_memory_for(mem_total_kb) == heap


class _RecordingBuilder:
    """Stands in for SparkSession.builder: records what get_spark sets."""

    def __init__(self):
        self.conf = {}

    def appName(self, _name):
        return self

    def master(self, value):
        return self.config("spark.master", value)

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda _level: None))


@pytest.mark.parametrize(
    "key, default",
    [
        ("spark.sql.codegen.cache.maxEntries", "1000"),
        ("spark.sql.codegen.useIdInClassName", "false"),
        ("spark.python.sql.dataFrameDebugging.enabled", "false"),
    ],
)
def test_submitted_conf_survives_get_spark(monkeypatch, key, default):
    builder = _RecordingBuilder()
    monkeypatch.setattr(session.SparkSession, "builder", builder)
    monkeypatch.setattr(session, "_submitted_conf", lambda: SparkConf(loadDefaults=False))
    session.get_spark(cores=2)
    assert builder.conf[key] == default

    builder = _RecordingBuilder()
    monkeypatch.setattr(session.SparkSession, "builder", builder)
    submitted = SparkConf(loadDefaults=False).set(key, "submitted")
    monkeypatch.setattr(session, "_submitted_conf", lambda: submitted)
    session.get_spark(cores=2)
    assert key not in builder.conf  # spark-submit's value stays in force


def test_local_driver_heap_follows_host_unless_env_sets_it(monkeypatch):
    monkeypatch.setattr(session, "_submitted_conf", lambda: SparkConf(loadDefaults=False))
    monkeypatch.setattr(session, "_mem_total_kb", lambda: 16 * 2**20)
    for env, heap in [(None, "8g"), ("3g", "3g")]:
        if env is None:
            monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
        else:
            monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", env)
        builder = _RecordingBuilder()
        monkeypatch.setattr(session.SparkSession, "builder", builder)
        session.get_spark(cores=2)
        assert builder.conf["spark.driver.memory"] == heap


def test_warm_query_compiles_no_classes(spark, tmp_path):
    """corpus_build_trim generates more whole-stage sources than Spark's
    default 100-entry class cache holds, under AQE-dependent stage ids;
    with the session defaults a second pass finds every class cached."""
    import __spark_entry__ as entry

    docs = pd.read_json(os.path.join(REPO, "fixtures", "documents_sf001.jsonl"), lines=True)
    docs.to_parquet(tmp_path / "documents.parquet", index=False)
    query = entry.queries()["corpus_build_trim"]
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    query(spark, str(tmp_path)).collect()
    before = compiles.getCount()
    query(spark, str(tmp_path)).collect()
    assert compiles.getCount() - before == 0
