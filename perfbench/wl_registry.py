"""registry_headline: registry queries, each written to the ``noop`` sink,
in a seeded order.  An untimed pass first collects every query's rows and
checks their hash against the DuckDB oracle; an untimed pass to the ``noop``
sink then warms the same plans the timed passes run.  Each query's time is
its median over the timed passes."""

from __future__ import annotations

import random
import statistics
import time

import checks
import inputs
from scientific_papers_ocr_spark import queries
from spec import QUERIES

# extract_turns runs over documents_as_papers: 3 turns per document
TURNS_PER_DOCUMENT = 3
# nominal seconds of --seconds per measured pass of the five queries
PASS_S = 5


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _check(ctx, in_dir: str, order: list[str]) -> set[str]:
    """Run every query once, collecting its rows; returns the queries whose
    result hash differs from the oracle or that raised."""
    want = checks.oracle_hashes(in_dir, order)
    bad = set()
    for name in order:
        try:
            got = checks.spark_hash(queries.REGISTRY[name][0](ctx.spark, in_dir))
        except Exception as e:  # noqa: BLE001 — recorded; the query's timed runs then fail
            ctx.mismatches.append(f"{name}: oracle check raised {type(e).__name__}: {str(e)[:300]}")
            bad.add(name)
            continue
        if got != want[name]:
            ctx.mismatches.append(f"{name}: result hash differs from the DuckDB oracle")
            bad.add(name)
    return bad


def _pass(ctx, in_dir: str, order: list[str], bad: set[str], times: dict | None) -> None:
    """Every query once to the noop sink; timed when ``times`` collects."""
    for name in order:
        fn = queries.REGISTRY[name][0]
        wall = ctx.op(
            lambda: _noop(fn(ctx.spark, in_dir)),
            (lambda: [f"{name}: failed its oracle check"]) if name in bad else None,
            timed=times is not None,
        )
        if wall is not None and times is not None:
            times[name].append(wall)


def run(ctx) -> None:
    in_dir, meta = inputs.registry_input(ctx.data_dir, ctx.seed)
    ctx.detail["input"] = meta
    ctx.mark("input")
    order = list(QUERIES)
    random.Random(ctx.seed).shuffle(order)
    ctx.detail["order"] = order
    bad = _check(ctx, in_dir, order)
    ctx.mark("check")
    t0 = time.perf_counter()
    _pass(ctx, in_dir, order, bad, None)
    warm_s = time.perf_counter() - t0
    ctx.mark("warm_up")

    times: dict[str, list[float]] = {name: [] for name in order}
    pass_walls = ctx.passes(lambda: _pass(ctx, in_dir, order, bad, times), PASS_S)
    ctx.mark("measure")
    med = {name: statistics.median(t) for name, t in times.items() if t}
    queries_total = sum(med.values())
    extract_s = med.get("extract_turns", 0.0)
    turns = TURNS_PER_DOCUMENT * meta["documents"]
    ctx.metrics["turns_per_s"] = turns / extract_s if extract_s else 0.0
    ctx.metrics["job_s"] = queries_total
    ctx.detail["queries_total_s"] = queries_total
    ctx.detail["query_s"] = med
    ctx.detail["pass_s"] = {"warm_up": warm_s, "timed": pass_walls}
    if ctx.trace:
        _traced(ctx, in_dir, order, bad, statistics.median(pass_walls))


def _traced(ctx, in_dir: str, order: list[str], bad: set[str], untraced_pass_s: float) -> None:
    """One more pass, each query under its own span and job group."""
    m = ctx.metrics
    t0 = time.perf_counter()
    for name in order:
        fn = queries.REGISTRY[name][0]
        with ctx.tracer.span(f"query.{name}") as rec, ctx.jobs.group(name) as gid:
            ctx.op(
                lambda: _noop(fn(ctx.spark, in_dir)),
                (lambda: [f"{name}: failed its oracle check"]) if name in bad else None,
            )
        rec.update(ctx.jobs.counts(gid))
        m[f"query.{name}_s"] = ctx.tracer.duration(rec)
        m[f"query.{name}.tasks"] = rec["tasks"]
    traced_pass_s = time.perf_counter() - t0
    spans = sum(m[f"query.{name}_s"] for name in order)
    m["trace.coverage"] = spans / untraced_pass_s
    m["trace.overhead_s"] = traced_pass_s - untraced_pass_s
