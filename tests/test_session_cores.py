"""The session's core count follows the host when the session is built:
`SPARK_GRAFT_CPUS` if set, else the cores this process may run on, for
both the local master and the shuffle partition count; a cluster master
sets neither. No JVM starts."""

from __future__ import annotations

import os

from calcite_spark import session


class _Context:
    def setLogLevel(self, _level):
        pass


class _Builder:
    """Stands in for SparkSession.builder and for the session it returns."""

    sparkContext = _Context()

    def __init__(self):
        self.conf = {}

    def appName(self, _name):
        return self

    def master(self, master):
        self.conf["master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self


def _built_conf(monkeypatch) -> dict:
    builder = _Builder()
    monkeypatch.setattr(session.SparkSession, "builder", builder)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "1g")
    session.get_spark()
    return builder.conf


def test_unset_cpus_follow_the_affinity_mask(monkeypatch):
    monkeypatch.delenv("SPARK_MASTER_SET", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda _pid: {0, 1, 2})
    conf = _built_conf(monkeypatch)
    assert conf["master"] == "local[3]"
    assert conf["spark.sql.shuffle.partitions"] == "3"


def test_cpus_are_read_when_the_session_is_built(monkeypatch):
    # set after calcite_spark.session was imported: still honoured
    monkeypatch.delenv("SPARK_MASTER_SET", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "5")
    conf = _built_conf(monkeypatch)
    assert conf["master"] == "local[5]"
    assert conf["spark.sql.shuffle.partitions"] == "5"


def test_empty_cpus_falls_back_to_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_MASTER_SET", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "")
    assert _built_conf(monkeypatch)["master"] == f"local[{len(os.sched_getaffinity(0))}]"


def test_cluster_master_leaves_parallelism_to_the_cluster(monkeypatch):
    # the driver's cores say nothing about the cluster's: no master and no
    # shuffle partition count from here (Catalog sets defaultParallelism)
    monkeypatch.setenv("SPARK_MASTER_SET", "1")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    conf = _built_conf(monkeypatch)
    assert "master" not in conf
    assert "spark.sql.shuffle.partitions" not in conf
