"""The reused-worker bootstrap (``scientific_papers_ocr_spark.worker``):
pooled Python workers keep their zip-importer directories across tasks and
freeze their import-time heap; a rewritten archive is still re-read; the
driver process is never patched."""

import gc
import os
import subprocess
import sys
import textwrap
import zipimport

import pandas as pd

from scientific_papers_ocr_spark import worker
from scientific_papers_ocr_spark.operators import turns
from scientific_papers_ocr_spark.sources import transcripts as tsrc

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_reused_worker_keeps_zip_directories_and_freezes_heap(spark):
    par = spark.sparkContext.defaultParallelism
    # the package's narrow UDF over three waves of tasks bootstraps the pool
    corpus = tsrc.corpus_dataframe(spark, num_convs=12, seed=3).repartition(3 * par)
    assert turns.extract_turns(corpus, num_buckets=8).count() > 0

    def probe(batches):
        import importlib

        from scientific_papers_ocr_spark import worker as w

        before = {k: id(v) for k, v in zipimport._zip_directory_cache.items()}
        importlib.invalidate_caches()
        after = {k: id(v) for k, v in zipimport._zip_directory_cache.items()}
        for _ in batches:
            pass
        yield pd.DataFrame({
            "pid": [os.getpid()],
            "primed": [w._done],
            "archives": [len(before)],
            "same": [before == after],
            "frozen": [gc.get_freeze_count()],
        })

    schema = "pid long, primed boolean, archives long, same boolean, frozen long"
    rows = (
        spark.range(0, 2 * par, 1, numPartitions=2 * par)
        .mapInPandas(probe, schema=schema)
        .collect()
    )
    primed = [r for r in rows if r["primed"]]
    assert primed, rows
    for r in primed:
        assert r["archives"] > 0, r
        assert r["same"], r
        assert r["frozen"] > 0, r


def test_stamped_invalidate_rereads_a_rewritten_zip(tmp_path):
    """In a process set up like a reused worker: a zip on ``sys.path`` that is
    unchanged keeps its cached directory across ``invalidate_caches()``; the
    same zip rewritten in place with a new module is re-read, so the new
    module imports."""
    script = textwrap.dedent(
        f"""
        import importlib, sys, zipfile, zipimport
        from scientific_papers_ocr_spark import worker

        path = {str(tmp_path / "mods.zip")!r}
        with zipfile.ZipFile(path, "w") as zf:
            zf.writestr("mod_a.py", "VALUE = 'a'\\n")
        sys.path.insert(0, path)
        worker.bootstrap()
        import mod_a
        assert mod_a.VALUE == "a"
        importlib.invalidate_caches()  # first call reads and stamps
        cached = zipimport._zip_directory_cache[path]
        importlib.invalidate_caches()
        assert zipimport._zip_directory_cache[path] is cached
        with zipfile.ZipFile(path, "w") as zf:
            zf.writestr("mod_a.py", "VALUE = 'a'\\n")
            zf.writestr("mod_b.py", "VALUE = 'b'\\n")
        importlib.invalidate_caches()
        assert zipimport._zip_directory_cache[path] is not cached
        import mod_b
        assert mod_b.VALUE == "b"
        print("ok")
        """
    )
    env = dict(os.environ, SPARK_REUSE_WORKER="1", PYTHONPATH=REPO)
    res = subprocess.run(
        [sys.executable, "-c", script], env=env, capture_output=True, text=True, timeout=300
    )
    assert res.returncode == 0, res.stderr
    assert res.stdout.strip() == "ok"


def test_driver_stays_unpatched(spark, monkeypatch):
    monkeypatch.delenv("SPARK_REUSE_WORKER", raising=False)
    df = tsrc.corpus_dataframe(spark, num_convs=3, seed=5)
    assert turns.extract_turns(df, num_buckets=4).count() > 0
    worker.bootstrap()
    assert not worker._done
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
    assert gc.get_freeze_count() == 0
