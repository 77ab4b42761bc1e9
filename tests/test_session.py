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



@pytest.mark.parametrize("gib", [1, 15, 64, 512])
def test_driver_memory_default_fits_physical_memory(recorder, monkeypatch, gib):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    page = 4096
    sizes = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": (gib << 30) // page}
    monkeypatch.setattr(os, "sysconf", lambda name: sizes[name])
    session.build_session()
    heap = recorder.conf["spark.driver.memory"]
    assert heap.endswith("m")
    assert 0 < int(heap[:-1]) << 20 < gib << 30
    assert int(heap[:-1]) <= 48 << 10


def test_driver_memory_from_env(recorder, monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    session.build_session()
    assert recorder.conf["spark.driver.memory"] == "3g"
