"""Spark-free checks of the session factory's host-fitted defaults and of
its choice of local file system."""

from __future__ import annotations

import types

import pytest
from pyspark import SparkContext

from avro_topic_replication_spark import session
from avro_topic_replication_spark.session import default_driver_memory

_real_graft_jar = session.graft_jar


@pytest.mark.parametrize(
    "available_kib, want",
    [
        (15 * 1024 * 1024, "11520m"),  # a 15 GiB host: three quarters of it
        (64 * 1024 * 1024, "16384m"),  # a large host: the 16g cap
        (2 * 1024 * 1024 + 1000, "1536m"),  # rounds down
    ],
)
def test_driver_memory_is_three_quarters_of_available_up_to_16g(tmp_path, available_kib, want):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(
        "MemTotal:       65536000 kB\n"
        "MemFree:         1000000 kB\n"
        f"MemAvailable:   {available_kib} kB\n"
        "Buffers:          100000 kB\n"
    )
    assert default_driver_memory(str(meminfo)) == want


def test_driver_memory_falls_back_to_16g(tmp_path):
    assert default_driver_memory(str(tmp_path / "missing")) == "16g"
    no_available = tmp_path / "meminfo"
    no_available.write_text("MemTotal:       65536000 kB\n")
    assert default_driver_memory(str(no_available)) == "16g"


def test_driver_memory_reads_this_host():
    got = default_driver_memory()
    assert got == "16g" or 0 < int(got.rstrip("m")) <= 16 * 1024


@pytest.fixture
def no_jvm(monkeypatch):
    """``get_spark`` as it is about to launch the JVM (none runs yet)."""
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.setattr(session, "graft_jar", lambda: "/jars/graft.jar")


def test_local_fs_conf_for_a_local_jvm_about_to_launch(no_jvm):
    want = {"spark.driver.extraClassPath": "/jars/graft.jar", **session.LOCAL_FS_CONF}
    assert session.local_fs_conf("local[4]") == want
    assert session.local_fs_conf("local") == want
    assert set(session.LOCAL_FS_CONF) == {
        "spark.hadoop.fs.file.impl", "spark.hadoop.fs.AbstractFileSystem.file.impl"}


@pytest.mark.parametrize("master", ["spark://host:7077", "local-cluster[2,1,1024]", "yarn"])
def test_local_fs_conf_leaves_cluster_masters_alone(no_jvm, master):
    assert session.local_fs_conf(master) == {}


def test_local_fs_conf_leaves_a_running_jvm_alone(no_jvm, monkeypatch):
    monkeypatch.setattr(SparkContext, "_gateway", types.SimpleNamespace())  # class path fixed
    assert session.local_fs_conf("local[4]") == {}
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "12345")  # spark-submit launched it
    assert session.local_fs_conf("local[4]") == {}


def test_local_fs_conf_reuses_the_jvm_get_spark_launched(no_jvm, monkeypatch):
    launched = types.SimpleNamespace(_graft_jar="/jars/graft.jar")  # get_spark's mark
    monkeypatch.setattr(SparkContext, "_gateway", launched)
    assert session.local_fs_conf("local[4]") == session.LOCAL_FS_CONF
    assert session.local_fs_conf("local-cluster[2,1,1024]") == {}  # executors lack it


def test_local_fs_conf_without_javac_keeps_hadoops_fs(no_jvm, monkeypatch, tmp_path):
    monkeypatch.setattr(session, "graft_jar", _real_graft_jar)
    monkeypatch.setattr(session, "SCRATCH", str(tmp_path))  # no jar built yet
    monkeypatch.setattr(session.shutil, "which", lambda name: None)
    with pytest.raises(RuntimeError, match="javac"):
        session.graft_jar()
    assert session.local_fs_conf("local[4]") == {}
