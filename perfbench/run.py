"""Benchmark of the transcript-extraction package, run from the repository
root:

    python3 perfbench/run.py --workload pipeline_uniform --seed 1 --seconds 15 --trace 0

Workloads, metrics and the layer map are described in perfbench/README.md.
``--trace 0`` prints the end-to-end metrics, ``--trace 1`` runs the traced
mode and prints the per-layer metrics.  The last line of standard output is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``; the line
before it carries the run's details (host, input fingerprint, samples).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

import probes
from spec import END_TO_END, LAYERS, PER_LAYER, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
PACKAGE = "scientific_papers_ocr_spark"

# the only session setting the benchmark adds: no console progress bars
SESSION_CONF = {"spark.ui.showConsoleProgress": "false"}


class Run:
    """State of one benchmark run: session, counters, metrics and details."""

    def __init__(self, args, scratch: str):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.scratch = scratch
        self.data_dir = DATA
        self.cores = len(os.sched_getaffinity(0))
        self.tracer = probes.Tracer()
        self.sampler = probes.RssSampler()
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []
        self.metrics: dict[str, float] = {}
        self.detail: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
        self.t0 = time.perf_counter()
        self.detail["phases_s"] = {}
        self.spark = self._setup()
        self.mark("setup")
        self.jobs = probes.JobGroups(self.spark, self.tracer.run_id)

    def _setup(self):
        """Session build (which starts the JVM) plus worker warm-up, once:
        ``setup_s``.  Repeating it in the same JVM would cost about 3.5 s a
        time that the run's time budget does not have (README.md)."""
        from scientific_papers_ocr_spark import session

        with self.tracer.span("session.setup") as rec:
            with self.tracer.span("session.build"):
                spark = session.build_session(
                    app_name="perfbench", cores=self.cores, extra_conf=SESSION_CONF
                )
            with self.tracer.span("session.warm_workers"):
                session.warm_python_workers(spark)
        self.setup_s = self.tracer.duration(rec)
        return spark

    def op(self, fn, checks=None, timed: bool = True) -> float | None:
        """One operation; a timed one runs under the RSS sampler.  Returns
        its wall time, or None when it raised.  ``checks`` runs afterwards,
        untimed, and returns a list of mismatches; any exception or mismatch
        counts the operation as failed."""
        self.attempted += 1
        try:
            with self.sampler.active() if timed else contextlib.nullcontext():
                t0 = time.perf_counter()
                fn()
                wall = time.perf_counter() - t0
            bad = checks() if checks is not None else []
        except Exception as e:  # noqa: BLE001 — a failed operation is counted, the run goes on
            self.failed += 1
            self.mismatches.append(f"{type(e).__name__}: {str(e)[:300]}")
            return None
        if bad:
            self.failed += 1
            self.mismatches.extend(bad)
        return wall

    def passes(self, one_pass, pass_s: float) -> list[float]:
        """Run ``one_pass`` once per ``pass_s`` nominal seconds of
        ``--seconds``, at least once.  The count depends on the arguments
        only, never on how fast the code under test ran.  Returns the pass
        wall times."""
        walls: list[float] = []
        for _ in range(max(1, int(self.seconds // pass_s))):
            t0 = time.perf_counter()
            one_pass()
            walls.append(time.perf_counter() - t0)
        return walls

    def mark(self, phase: str) -> None:
        """Record how far into the run ``phase`` ended."""
        self.detail["phases_s"][phase] = round(time.perf_counter() - self.t0, 2)

    def host(self) -> dict:
        mem_kb = 0
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    mem_kb = int(line.split()[1])
        conf = self.spark.sparkContext.getConf()
        return {
            "cores": self.cores,
            "mem_total_mb": mem_kb // 1024,
            "spark_version": self.spark.version,
            "master": conf.get("spark.master"),
            "driver_memory": conf.get("spark.driver.memory", "unset"),
        }

    def finish_end_to_end(self) -> None:
        self.metrics["setup_s"] = self.setup_s
        self.detail["peak_rss_mb"] = self.sampler.peak_bytes / 2**20

    def finish_per_layer(self) -> None:
        m = self.metrics
        m["session.build_s"] = self.tracer.durations("session.build")[0]
        m["session.warm_workers_s"] = self.tracer.durations("session.warm_workers")[0]
        for layer, own in self.tracer.self_time_by_layer().items():
            if layer in LAYERS:
                m[f"self.{layer}_s"] = own
        for name in PER_LAYER:
            m.setdefault(name, 0.0)
        trace_path = os.path.join(
            DATA, "traces", f"{self.workload}-s{self.seed}-{self.tracer.run_id}.json"
        )
        self.tracer.write(trace_path)
        self.detail["trace_file"] = os.path.relpath(trace_path, ROOT)

    def result(self) -> dict:
        units = PER_LAYER if self.trace else END_TO_END
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {
                name: {"value": float(self.metrics[name]), "unit": unit}
                for name, unit in units.items()
            },
        }


def _prepare_environment(scratch: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the checkout."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["SPARK_GRAFT_INGEST_DIR"] = os.path.join(DATA, "ingest")
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + " " + java_opts
    ).strip()
    sys.path.insert(0, ROOT)


def _shutdown(spark) -> None:
    """Stop the session and the JVM, and wait until every process this run
    started has exited."""
    from pyspark import SparkContext

    started = probes.descendants(os.getpid())
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 30
    alive = started
    while alive and time.monotonic() < deadline:
        alive = [pid for pid in alive if os.path.exists(f"/proc/{pid}")]
        if alive:
            time.sleep(0.2)
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2

    scratch = os.path.join(DATA, f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    _prepare_environment(scratch)
    import wl_pipeline
    import wl_registry

    run = None
    try:
        run = Run(args, scratch)
        run.detail["host"] = run.host()
        if args.workload == "registry_headline":
            wl_registry.run(run)
        else:
            wl_pipeline.run(run)
        run.finish_end_to_end()
        if run.trace:
            run.finish_per_layer()
        run.detail["mismatches"] = run.mismatches[:20]
        result = run.result()
    finally:
        _shutdown(run.spark if run is not None else None)
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps({"perfbench_detail": run.detail}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
