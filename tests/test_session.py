"""Session layer: the defaults get_spark puts on a local session (the
live test session must carry them) and the pure conf helpers
(``_memory_spec_mib``, ``s3a_conf``)."""

from __future__ import annotations

import os
from types import SimpleNamespace

import pytest

from smart_fraud_detection_data_pipeline_spark import session as S

FS_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def test_live_session_uses_filesystem_checkpoint_manager(spark):
    key = "spark.sql.streaming.checkpointFileManagerClass"
    assert spark.conf.get(key) == FS_MANAGER
    # Spark's checkpoint checksum layer stays on over the new manager.
    assert spark.conf.get("spark.sql.streaming.checkpoint.fileChecksum.enabled") == "true"


def test_driver_jvm_runs_with_compile_thread_budget(spark):
    jvm = spark.sparkContext._jvm
    args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
    # The budget is only set on hosts of the size it was measured on.
    assert ("-XX:CICompilerCount=2" in args) == (os.cpu_count() <= 4)


def test_codegen_cache_cap_is_set(spark):
    cap = S.DEFAULT_CONF["spark.sql.codegen.cache.maxEntries"]
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == cap


class _RecordingBuilder:
    """Stands in for SparkSession.builder: records the conf get_spark
    would launch with instead of starting a JVM."""

    sparkContext = SimpleNamespace(setLogLevel=lambda level: None)

    def __init__(self):
        self.conf: dict[str, str] = {}

    def appName(self, _name):
        return self

    def master(self, _url):
        return self

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        return self


@pytest.fixture
def recorded(monkeypatch):
    b = _RecordingBuilder()
    monkeypatch.setattr(S, "SparkSession", SimpleNamespace(builder=b))
    monkeypatch.setattr(S.os, "cpu_count", lambda: 4)
    return b


def test_local_defaults_yield_to_extra_conf(recorded):
    S.get_spark(master="local[2]")
    assert recorded.conf["spark.sql.streaming.checkpointFileManagerClass"] == FS_MANAGER
    assert recorded.conf["spark.driver.defaultJavaOptions"] == "-XX:CICompilerCount=2"

    recorded.conf.clear()
    S.get_spark(master="local[2]", extra_conf={
        "spark.driver.defaultJavaOptions": "-XX:CICompilerCount=4",
        "spark.driver.extraJavaOptions": "-Dx=1",
    })
    assert recorded.conf["spark.driver.defaultJavaOptions"] == "-XX:CICompilerCount=4"
    assert recorded.conf["spark.driver.extraJavaOptions"] == "-Dx=1"


def test_larger_host_gets_no_compile_thread_budget(recorded, monkeypatch):
    monkeypatch.setattr(S.os, "cpu_count", lambda: 8)
    S.get_spark(master="local[8]")
    assert recorded.conf["spark.sql.streaming.checkpointFileManagerClass"] == FS_MANAGER
    assert "spark.driver.defaultJavaOptions" not in recorded.conf


def test_cluster_master_gets_no_jvm_defaults(recorded):
    S.get_spark(master="spark://host:7077")
    assert "spark.sql.streaming.checkpointFileManagerClass" not in recorded.conf
    assert "spark.driver.defaultJavaOptions" not in recorded.conf
    assert "spark.driver.memory" not in recorded.conf


@pytest.mark.parametrize(
    "spec, mib",
    [
        ("4g", 4096),
        ("4G", 4096),
        (" 2g ", 2048),
        ("4096m", 4096),
        ("4194304k", 4096),
        ("1t", 1024 * 1024),
        (str(3 * 1024**3), 3072),  # bare bytes
        ("1048575", 0),  # bare bytes below one MiB
        ("g", None),
        ("4x", None),
        ("lots", None),
    ],
)
def test_memory_spec_mib(spec, mib):
    assert S._memory_spec_mib(spec) == mib


@pytest.fixture
def no_s3_env(monkeypatch):
    for k in ("S3_ENDPOINT_URL", "AWS_ENDPOINT_URL", "AWS_ACCESS_KEY_ID", "AWS_SECRET_ACCESS_KEY"):
        monkeypatch.delenv(k, raising=False)


@pytest.mark.parametrize("keys", [("AK", None), (None, "SK")])
def test_s3a_conf_needs_both_keys(no_s3_env, keys):
    with pytest.raises(ValueError, match="together"):
        S.s3a_conf("http://minio:9000", *keys)


def test_s3a_conf_one_key_from_env_is_an_error(no_s3_env, monkeypatch):
    monkeypatch.setenv("AWS_ACCESS_KEY_ID", "AK")
    with pytest.raises(ValueError):
        S.s3a_conf("http://minio:9000")


@pytest.mark.parametrize(
    "endpoint, ssl",
    [("https://s3.example.com", "true"), ("http://minio:9000", "false"), ("minio:9000", "false")],
)
def test_s3a_conf_infers_ssl_from_endpoint_scheme(no_s3_env, endpoint, ssl):
    conf = S.s3a_conf(endpoint, "AK", "SK")
    assert conf["spark.hadoop.fs.s3a.endpoint"] == endpoint
    assert conf["spark.hadoop.fs.s3a.connection.ssl.enabled"] == ssl
    assert conf["spark.hadoop.fs.s3a.access.key"] == "AK"
    assert conf["spark.hadoop.fs.s3a.secret.key"] == "SK"


def test_s3a_conf_explicit_ssl_and_no_endpoint(no_s3_env):
    assert S.s3a_conf("http://minio:9000", ssl=True)["spark.hadoop.fs.s3a.connection.ssl.enabled"] == "true"
    conf = S.s3a_conf()
    # No endpoint: Hadoop's own SSL default applies, and no credentials are set.
    assert "spark.hadoop.fs.s3a.endpoint" not in conf
    assert "spark.hadoop.fs.s3a.connection.ssl.enabled" not in conf
    assert "spark.hadoop.fs.s3a.access.key" not in conf
