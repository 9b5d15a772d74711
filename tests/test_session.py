"""Local-mode defaults of ``session.get_session`` follow the host (checked
on the helper, so no second session starts), and local sessions write
stream checkpoints through the FileSystem-based checkpoint manager."""

from __future__ import annotations

import functools
import os

from hybridbackend_spark import session


def test_local_cores_default_to_the_affinity_set(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session._local_defaults()[0] == str(len(os.sched_getaffinity(0)))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session._local_defaults()[0] == "3"


def test_local_driver_memory_is_half_the_host_capped(monkeypatch):
    def host(gib):
        pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": gib * (1 << 30) // 4096}
        monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)
        return session._local_defaults()[1]

    assert host(15) == "7g"
    assert host(64) == "32g"
    assert host(512) == "48g"
    assert host(1) == "1g"


def test_local_stream_checkpoints_use_the_filesystem_manager(spark, tmp_path):
    jvm = spark._jvm
    want = session._fs_checkpoints(spark.version)
    package = functools.reduce(getattr, want.split(".")[:-1], jvm)
    got = package.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(f"file://{tmp_path}"),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert got.getClass().getName() == want
    assert session._fs_checkpoints() == want
    # cluster sessions keep Spark's FileContext default
    assert "spark.sql.streaming.checkpointFileManagerClass" not in (
        session.cluster_conf(64)
    )


def test_filesystem_manager_class_follows_the_spark_version():
    old = "org.apache.spark.sql.execution.streaming."
    name = "FileSystemBasedCheckpointFileManager"
    assert session._fs_checkpoints("3.5.1") == old + name
    assert session._fs_checkpoints("4.0.0") == old + name
    assert session._fs_checkpoints("4.1.2") == old + "checkpointing." + name
    assert session._fs_checkpoints("4.2.0.dev0") == old + "checkpointing." + name
