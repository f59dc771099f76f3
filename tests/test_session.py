"""``get_spark`` sizes the session to the machine unless told otherwise.

The builder is replaced by a recorder, so no JVM starts."""

from __future__ import annotations

import types

from tax_compliance_engine_spark import session


class RecordingBuilder:
    def __init__(self):
        self.conf = {}

    def appName(self, name):
        return self

    def master(self, master):
        self.conf["master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.conf


def built_conf(monkeypatch, **kwargs) -> dict:
    monkeypatch.setattr(
        session, "SparkSession", types.SimpleNamespace(builder=RecordingBuilder())
    )
    return session.get_spark(**kwargs)


def test_default_session_uses_the_machines_cores(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(session.os, "cpu_count", lambda: 3)
    conf = built_conf(monkeypatch)
    assert conf["master"] == "local[3]"
    assert conf["spark.sql.shuffle.partitions"] == "3"


def test_cpus_variable_and_explicit_arguments_win(monkeypatch):
    monkeypatch.setattr(session.os, "cpu_count", lambda: 3)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    conf = built_conf(monkeypatch)
    assert (conf["master"], conf["spark.sql.shuffle.partitions"]) == ("local[2]", "2")

    conf = built_conf(monkeypatch, master="local[4]", shuffle_partitions=4)
    assert (conf["master"], conf["spark.sql.shuffle.partitions"]) == ("local[4]", "4")
