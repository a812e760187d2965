"""Session factory defaults, checked on the builder calls (no Spark start)."""

from __future__ import annotations

import os

from disq_original_spark import session


class _RecordingBuilder:
    def __init__(self):
        self.conf: dict[str, str] = {}

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


class _FakeSession:
    @property
    def builder(self):
        return _RecordingBuilder()


def test_get_spark_defaults_to_usable_cores(monkeypatch):
    monkeypatch.setattr(session, "SparkSession", _FakeSession())
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    n = len(os.sched_getaffinity(0))
    conf = session.get_spark()
    assert conf["master"] == f"local[{n}]"
    assert conf["spark.sql.shuffle.partitions"] == str(n)

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    conf = session.get_spark()
    assert conf["master"] == "local[3]"
    assert conf["spark.sql.shuffle.partitions"] == "3"
