"""``build_session`` defaults, checked without starting a JVM: a recording
stand-in for Spark's session factory captures the master and confs."""

import os
from types import SimpleNamespace

import pytest

from scientific_papers_ocr_spark import session


class _Recorder:
    def __init__(self):
        self.conf = {}

    def master(self, url):
        self.conf["master"] = url
        return self

    def appName(self, _name):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return SimpleNamespace(sparkContext=SimpleNamespace(addPyFile=lambda _p: None))


@pytest.fixture
def recorder(monkeypatch):
    b = _Recorder()
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=b))
    monkeypatch.setattr(os, "sched_getaffinity", lambda _pid: {0, 1, 2})
    return b


def test_cores_default_to_cpu_affinity(recorder, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    session.build_session()
    assert recorder.conf["master"] == "local[3, 2]"
    assert recorder.conf["spark.sql.shuffle.partitions"] == "8"


def test_cores_from_env(recorder, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    session.build_session()
    assert recorder.conf["master"] == "local[6, 2]"

