"""SparkSession construction with scale-oriented defaults.

Local-mode testing stands in for a multi-executor cluster; every setting here
is chosen to behave identically on a 1000-executor deployment (AQE on, Arrow
batching for pandas UDFs, bounded shuffle partitions).
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

from . import worker


def package_zip() -> str:
    """Zip this package for worker shipping (the ``spark-submit --py-files``
    artifact).  Content-addressed under the temp dir so repeat sessions reuse
    it; calling ``addPyFile`` with it makes the engine importable on every
    executor no matter where the driver script lives.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    digest = hashlib.md5()
    py_files = []
    for root, _dirs, files in os.walk(pkg_dir):
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(root, f)
                py_files.append(p)
                with open(p, "rb") as fh:
                    digest.update(p.encode())
                    digest.update(fh.read())
    zip_path = os.path.join(
        tempfile.gettempdir(), f"{pkg_name}-{digest.hexdigest()[:12]}.zip"
    )
    if not os.path.exists(zip_path):
        tmp = zip_path + ".tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for p in py_files:
                zf.write(p, os.path.join(pkg_name, os.path.relpath(p, pkg_dir)))
        os.replace(tmp, zip_path)
    return zip_path


def warm_python_workers(spark: SparkSession) -> None:
    """Spin up and prime the session's Python worker pool: one trivial pandas
    pass with one task per core, so every pooled worker forks, imports
    pandas/Arrow and this package's UDF modules, and runs
    ``worker.bootstrap()`` before the first real pandas-UDF stage runs.

    The bootstrap removes the fixed per-task cost a reused worker otherwise
    pays between tasks (zip-importer directory re-reads and a full-heap
    ``gc.collect()``, ~200 ms of worker CPU per task on a 4-core host); a
    worker the pool adds later is primed by its first extraction or
    assembly task instead.

    On a cluster this is one-time executor startup, not per-job cost, and
    the bench methodology explicitly excludes it ("untimed warmup absorbs
    codegen/scan/python-worker cold start" — bench.py); ingest entry points
    call this so a freshly built session serves its first probe/extraction
    workload at steady-state latency (~2 s of fork+import otherwise lands
    inside whichever query happens to hit Python first).  Idempotent per
    session; workers are reused afterwards (spark.python.worker.reuse)."""
    key = "spark.graft.workersWarmed"
    try:
        if spark.conf.get(key, "") == "1":
            return
    except Exception:
        pass
    import pandas as pd

    def _touch(batches):
        worker.bootstrap()
        for pdf in batches:
            yield pd.DataFrame({"x": [len(pdf)]})

    par = spark.sparkContext.defaultParallelism
    spark.range(0, par, 1, numPartitions=par).mapInPandas(
        _touch, schema="x long"
    ).count()
    spark.conf.set(key, "1")


def build_session(
    app_name: str = "transcript-extraction",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = cores or int(
        os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    )
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    # local[N, 2]: allow ONE task retry.  Local mode defaults to
    # maxFailures=1, so a single transient Python-worker crash (observed
    # ~once per hundreds of runs on this shared microVM) aborts the whole
    # job; a cluster would retry the task (default maxFailures=4).  2, not
    # 4: deterministic failures should still fail fast in tests.
    builder = (
        SparkSession.builder.master(f"local[{cores}, 2]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch sizing: 2k rows/batch.  Finer batches interleave the
        # JVM's Arrow encode with Python-worker compute instead of
        # alternating them in coarse bursts — measured on the narrow stage
        # at local[8]: 22.0s at 2048 vs 26.9s at 8192 (cached input,
        # r3 A/B), with tighter rep-to-rep variance; the full pipeline is
        # batch-size-indifferent (18.6s at both).  The r1 "starved workers
        # at 2k batches" observation was an artifact of coarse input splits,
        # fixed by the 64m maxPartitionBytes below.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # File scans keep Spark's byte-based split sizing: splits of up to
        # 64MB (the default parquet split size on a cluster), shrunk so a
        # small input still gets about defaultParallelism splits, one per
        # core.  Every task costs a fixed engine overhead whatever its
        # size — measured on a 4-core host: 40–90 ms of deserialization per
        # write task, ~4 ms per read-only task — so a small scan split
        # finer than the cores buys no parallelism.  With 4×cores splits
        # per scan (minPartitionNum), a cold run_pipeline on the 25k-turn
        # benchmark input ran 123 tasks; with byte-based splits it runs 35.
        .config("spark.sql.files.maxPartitionBytes", "64m")
        # zstd: measured identical write wall-time vs snappy on this host but
        # ~30% smaller output (973MB vs 1374MB on the bench pipeline) — at
        # lake scale that is 30% less stored and downstream-scanned bytes
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.session.timeZone", "UTC")
        # single-JVM local mode multiplexes all task threads' Arrow buffers
        # through one heap: size it like the SUM of executor heaps, not like
        # one executor, or GC serializes the workers (measured 74s → 32s on
        # the wide stage going 8g → 48g)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        # real Python tracebacks when a worker dies mid-Arrow-stream
        .config("spark.python.worker.faulthandler.enabled", "true")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.addPyFile(package_zip())
    return spark
