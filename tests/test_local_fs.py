"""The fork-free local file system (jvm/GraftLocalFileSystem.java).

Without libhadoop, Hadoop's local FS starts a ``chmod`` process for every
file and directory it creates and a ``readlink`` process for every link
status FileContext asks for. ``get_spark`` registers
``sparkgraft.GraftLocalFileSystem`` for the ``file`` scheme when it
launches a local JVM. These tests check that a drain then forks nothing,
that files, ``.crc`` files and modes are Hadoop's own, and that a session
``get_spark`` did not launch keeps Hadoop's FS.
"""

from __future__ import annotations

import functools
import os
import pathlib
import stat
import subprocess
import sys
import textwrap

import pytest
from py4j.protocol import Py4JJavaError

from avro_topic_replication_spark.operators import replication as R
from avro_topic_replication_spark.session import LOCAL_FS_CONF, jar_on_class_path
from avro_topic_replication_spark.sources.registry import MockSchemaRegistry

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STOCK_FS = {
    "fs.file.impl": "org.apache.hadoop.fs.LocalFileSystem",
    "fs.AbstractFileSystem.file.impl": "org.apache.hadoop.fs.local.LocalFs",
}
GRAFT_FS = {k.removeprefix("spark.hadoop."): v for k, v in LOCAL_FS_CONF.items()}


def _last_pid() -> int:
    """The last pid the kernel handed out in this pid namespace: each new
    process and each new thread takes one."""
    with open("/proc/loadavg") as f:
        return int(f.read().split()[-1])


def _drain_exits(spark, base: str, name: str) -> "tuple[int, int]":
    """Drain a 40-record topic; return how many pids the drain took and how
    many of them belong to no live task afterwards. A child process
    (Hadoop's ``chmod``/``readlink``) has exited by then; most of the
    JVM's and py4j's new threads still run (``/proc/<tid>`` exists for a
    live thread of any process)."""
    src_reg, tgt_reg = MockSchemaRegistry(), MockSchemaRegistry()
    src = os.path.join(base, f"{name}-src")
    records = [{"id": f"id-{i}", "name": None if i % 10 == 0 else f"n{i}"} for i in range(40)]
    R.write_envelope_fixture(spark, records, src, "topic-a", src_reg, R.FOO_SCHEMA)
    out = os.path.join(base, f"{name}-out")
    before = _last_pid()
    R.replicate_stream(spark, src, out, src_reg, tgt_reg, "topic-b", R.FOO_SCHEMA,
                       os.path.join(base, f"{name}-ckpt"))
    after = _last_pid()
    assert R.read_committed(spark, out).count() == 40
    return after - before, sum(not os.path.exists(f"/proc/{p}") for p in range(before + 1, after + 1))


def test_strict_drain_starts_no_jvm_child_process(spark, tmp_path):
    assert jar_on_class_path()
    assert spark.conf.get("spark.hadoop.fs.file.impl") == GRAFT_FS["fs.file.impl"]
    _drain_exits(spark, str(tmp_path), "warm")  # a first drain starts short-lived threads
    graft = [_drain_exits(spark, str(tmp_path), f"graft{i}") for i in range(2)]
    # the same drain on Hadoop's stock local FS, for contrast: a session conf
    # reaches the Hadoop conf of the sink, the source and the checkpoint as
    # is (without a spark.hadoop. prefix); the FS cache would hand back the
    # registered instance
    stock = {**STOCK_FS, "fs.file.impl.disable.cache": "true"}
    for k, v in stock.items():
        spark.conf.set(k, v)
    try:
        forking = _drain_exits(spark, str(tmp_path), "stock")
    finally:
        for k in stock:
            spark.conf.unset(k)
    # tolerance: a thread that ends within the drain counts too (2 per warm
    # drain, 6 in a first one, measured on 4 cores); Hadoop's shell-outs
    # are ~115 (a chmod per file and dir, a readlink per checkpoint rename)
    assert max(exited for _, exited in graft) <= 8, (graft, forking)
    assert forking[1] >= 40, (graft, forking)


def _file_system(spark, cls: str, umask: str, fs_conf: dict):
    jvm = spark._jvm
    conf = jvm.org.apache.hadoop.conf.Configuration(spark._jsc.hadoopConfiguration())
    for k, v in {**fs_conf, "fs.permissions.umask-mode": umask,
                 "fs.file.impl.disable.cache": "true"}.items():
        conf.set(k, v)
    fs = functools.reduce(getattr, cls.split("."), jvm)()
    fs.initialize(jvm.java.net.URI("file:///"), conf)
    return fs, conf


def _write_tree(spark, fs, conf, root: str) -> None:
    """Files and dirs through both Hadoop APIs: FileSystem (the parquet
    sink) and FileContext (the streaming checkpoint's atomic writes)."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path
    fs.mkdirs(path(f"{root}/a/b/c"))
    out = fs.create(path(f"{root}/a/b/c/part-0"))
    out.write(bytearray(b"payload" * 100))
    out.close()
    fs.mkdirs(path(f"{root}/shared"))
    fs.setPermission(path(f"{root}/shared"), jvm.org.apache.hadoop.fs.permission.FsPermission("1777"))
    fs.create(path(f"{root}/private")).close()
    fs.setPermission(path(f"{root}/private"), jvm.org.apache.hadoop.fs.permission.FsPermission("640"))
    managers = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
    ckpt = managers.create(path(f"{root}/ckpt"), conf)
    assert "FileContext" in ckpt.getClass().getName()
    ckpt.mkdirs(path(f"{root}/ckpt/offsets"))
    for batch in range(2):
        out = ckpt.createAtomic(path(f"{root}/ckpt/offsets/{batch}"), True)
        out.write(bytearray(b'{"offset": %d}' % batch))
        out.close()  # renames the temp file into place


def _tree(root: str) -> dict:
    tree = {}
    for d, dirs, files in os.walk(root):
        for name in dirs + files:
            p = os.path.join(d, name)
            st = os.lstat(p)
            body = None if stat.S_ISDIR(st.st_mode) else pathlib.Path(p).read_bytes()
            tree[os.path.relpath(p, root)] = (oct(stat.S_IMODE(st.st_mode)), body)
    return tree


@pytest.mark.parametrize("umask", ["022", "077"])
def test_files_crcs_and_modes_match_hadoops_local_fs(spark, tmp_path, umask):
    trees = {}
    for name, cls, fs_conf in [
        ("stock", "org.apache.hadoop.fs.LocalFileSystem", STOCK_FS),
        ("graft", "sparkgraft.GraftLocalFileSystem", GRAFT_FS),
    ]:
        fs, conf = _file_system(spark, cls, umask, fs_conf)
        _write_tree(spark, fs, conf, str(tmp_path / name))
        trees[name] = _tree(str(tmp_path / name))
    assert trees["graft"] == trees["stock"]
    tree, dirs, files = trees["graft"], int("777", 8), int("666", 8)
    mask = int(umask, 8)
    assert tree["a/b"][0] == oct(dirs & ~mask)
    assert tree["a/b/c/part-0"][0] == oct(files & ~mask)
    assert tree["a/b/c/.part-0.crc"][0] == oct(files & ~mask)
    assert tree["ckpt/offsets/1"] == (oct(files & ~mask), b'{"offset": 1}')
    assert ".1.crc" in " ".join(tree)
    assert tree["shared"][0] == oct(0o1777)  # the sticky bit: Hadoop's own chmod
    assert tree["private"][0] == oct(0o640)
    assert not [p for p in tree if "tmp" in p]  # every atomic write renamed


def test_link_status_matches_hadoops_local_fs(spark, tmp_path):
    jvm = spark._jvm
    (tmp_path / "file").write_bytes(b"x" * 7)
    os.symlink(tmp_path / "file", tmp_path / "link")
    os.symlink(tmp_path / "gone", tmp_path / "dangling")

    def status(fs, name):
        try:
            st = fs.getFileLinkStatus(jvm.org.apache.hadoop.fs.Path(str(tmp_path / name)))
        except Py4JJavaError as e:
            return "raises", e.java_exception.getClass().getName()
        return (st.isSymlink(), st.isDirectory(), st.getLen(),
                st.getSymlink().toString() if st.isSymlink() else None,
                st.getPath().toString())

    stock, _ = _file_system(spark, "org.apache.hadoop.fs.LocalFileSystem", "022", STOCK_FS)
    graft, _ = _file_system(spark, "sparkgraft.GraftLocalFileSystem", "022", GRAFT_FS)
    for name in ["file", "link", "dangling", "missing"]:
        assert status(graft.getRaw(), name) == status(stock.getRaw(), name), name
    assert status(graft.getRaw(), "file")[:3] == (False, False, 7)
    assert status(graft.getRaw(), "link")[0] is True
    assert "FileNotFoundException" in status(graft.getRaw(), "missing")[1]


def test_get_spark_on_a_running_jvm_keeps_hadoops_local_fs(tmp_path):
    """A JVM someone else launched (a plain SparkSession, spark-submit) does not
    have the jar on its class path: ``get_spark`` must not register the
    class there, or every write would raise ClassNotFoundException. The
    replication fast path and its streaming sink load the jar by ADD JAR
    instead, and the sink works from any Python thread."""
    script = textwrap.dedent(f"""
        import os
        from pyspark.sql import SparkSession
        outer = (SparkSession.builder.master("local[1]")
                 .config("spark.driver.memory", "512m")
                 .config("spark.ui.enabled", "false").getOrCreate())
        from avro_topic_replication_spark.session import get_spark, jar_on_class_path
        spark = get_spark()
        assert spark is outer and not jar_on_class_path()
        assert spark.conf.get("spark.hadoop.fs.file.impl", None) is None
        assert spark.conf.get("spark.hadoop.fs.AbstractFileSystem.file.impl", None) is None
        base = {str(tmp_path)!r}
        spark.range(5).write.parquet(os.path.join(base, "t"))
        q = (spark.readStream.schema("id long").parquet(os.path.join(base, "t"))
             .writeStream.format("parquet")
             .option("checkpointLocation", os.path.join(base, "ckpt"))
             .trigger(availableNow=True).start(os.path.join(base, "copy")))
        q.awaitTermination(120)
        assert spark.read.parquet(os.path.join(base, "copy")).count() == 5
        # the replication fast path adds the jar itself (ADD JAR)
        from avro_topic_replication_spark.operators import replication as R
        from avro_topic_replication_spark.sources.registry import MockSchemaRegistry
        src, tgt = MockSchemaRegistry(), MockSchemaRegistry()
        R.write_envelope_fixture(spark, [{{"id": "a", "name": None}}],
                                 os.path.join(base, "env"), "topic-a", src, R.FOO_SCHEMA)
        env = spark.read.schema(R.KAFKA_ENVELOPE).parquet(os.path.join(base, "env"))
        out = R.plan_replication(env, src, tgt, "topic-b").collect()
        assert [(r.topic, r.value is not None) for r in out] == [("topic-b", True)]
        # and the streaming sink (jvm/GraftSink.java), from a thread other
        # than the one that ran ADD JAR
        import threading
        main = os.path.join(base, "main")
        t = threading.Thread(target=R.replicate_stream, args=(
            spark, os.path.join(base, "env"), main, src, tgt, "topic-b", None, main + "-ckpt"))
        t.start()
        t.join()
        assert [r.topic for r in R.read_committed(spark, main).collect()] == ["topic-b"]
        print("OK")
    """)
    env = dict(os.environ, PYTHONPATH=ROOT)
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    run = subprocess.run([sys.executable, "-c", script], cwd=str(tmp_path), env=env,
                         capture_output=True, text=True, timeout=300)
    assert run.returncode == 0 and run.stdout.strip().endswith("OK"), run.stderr[-3000:]
    assert "ClassNotFoundException" not in run.stderr
