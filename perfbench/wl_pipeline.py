"""pipeline_uniform and pipeline_skewed: a cold materialising
``run_pipeline`` over the bucket-partitioned corpus.  The traced mode adds a resume after a seeded
quarter of the buckets lost their lineage rows, then re-runs the pipeline's
phases serially through the package's public calls, one span each."""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import time

from pyspark.sql import functions as F

import checks
import inputs
from probes import run_and_count_exchange_bytes
from scientific_papers_ocr_spark import pipeline
from scientific_papers_ocr_spark.operators import documents, segment_distributed, turns
from scientific_papers_ocr_spark.oracle import assembly, markup, segmentation, textnorm
from scientific_papers_ocr_spark.sources import transcripts as tsrc

RUN_ARGS = {
    "num_buckets": inputs.NUM_BUCKETS,
    "store_page_text": "repaired_only",
    "input_bucket_aligned": True,
}
# nominal seconds of --seconds per measured pass (cold run and its checks)
PASS_S = 15
WARM_UP_RUNS = 2
CHECK_SAMPLE_CONVS = 4
KERNEL_SAMPLE_CONVS = 20
OUTPUT_TABLES = ("turns", "docs", "spans", "lineage")
# the phases run_pipeline itself runs; their spans sum to the traced wall
PIPELINE_PHASES = (
    "transcripts.write_turns",
    "pipeline.skew_probe",
    "pipeline.lineage",
    "transcripts.write_docs",
    "transcripts.write_spans",
    "pipeline.lineage_commit",
)


def _output_files(out: str) -> tuple[int, int]:
    files = size = 0
    for table in OUTPUT_TABLES:
        for root, _dirs, names in os.walk(os.path.join(out, table)):
            for name in names:
                if name.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(root, name))
    return files, size


def _drop_lineage_buckets(spark, out: str, buckets: list[int]) -> None:
    """Forget the commit of ``buckets``: rewrite the lineage table without
    their rows, so a resume recomputes exactly those buckets."""
    path = os.path.join(out, "lineage")
    kept = spark.read.parquet(path).where(~F.col("bucket").isin(buckets))
    rows, schema = kept.collect(), kept.schema
    tmp = path + ".kept"
    spark.createDataFrame(rows, schema=schema).write.mode("overwrite").parquet(tmp)
    shutil.rmtree(path)
    os.replace(tmp, path)


def _cold(ctx, src, meta, sample_rows, out: str):
    """One cold run.  Returns its wall time (None when it failed), output
    bytes per input byte and the run's table fingerprints."""
    shutil.rmtree(out, ignore_errors=True)
    box: dict = {}

    def cold():
        box["outs"] = pipeline.run_pipeline(ctx.spark, src, output_dir=out, **RUN_ARGS)

    def cold_checks():
        box["clean"] = checks.pipeline_state(box["outs"])
        bad = checks.pipeline_counts(box["clean"], meta)
        return bad + checks.docs_match_oracle(box["outs"]["docs"], sample_rows)

    cold_s = ctx.op(cold, cold_checks)
    if cold_s is None:
        return None, None, None
    return cold_s, _output_files(out)[1] / meta["input_bytes"], box["clean"]


def _resume(ctx, src, out: str, buckets: list[int], clean: dict) -> None:
    """Forget the commit of ``buckets``, then ``run_pipeline(resume=True)``
    under its own span; the tables must come back equal to the clean run."""
    _drop_lineage_buckets(ctx.spark, out, buckets)
    box: dict = {}

    def resume():
        box["outs"] = _phase(
            ctx,
            "pipeline.resume",
            lambda: pipeline.run_pipeline(ctx.spark, src, output_dir=out, resume=True, **RUN_ARGS),
        )

    def resume_checks():
        after = checks.pipeline_state(box["outs"])
        return [
            f"after resume, {table} differs from the clean run"
            for table in after
            if after[table] != clean[table]
        ]

    ctx.op(resume, resume_checks)


def run(ctx) -> None:
    spark = ctx.spark
    out = os.path.join(ctx.scratch, "out")
    # untimed warm-up on a small fixed corpus in the same layout: the first
    # run takes the JVM's first-run cost, and after one warm-up the timed run
    # still sits on the steep part of the JVM's warm-up curve
    warm_src = tsrc.read_transcripts(
        spark, inputs.warmup_input(spark, ctx.data_dir, ctx.workload)
    )
    in_dir, meta = inputs.pipeline_input(spark, ctx.data_dir, ctx.workload, ctx.seed)
    ctx.detail["input"] = {k: v for k, v in meta.items() if k != "conv_ids"}
    ctx.mark("input")
    warm_s = [
        ctx.op(lambda: pipeline.run_pipeline(spark, warm_src, output_dir=out, **RUN_ARGS),
               timed=False)
        for _ in range(WARM_UP_RUNS)
    ]
    ctx.mark("warm_up")

    src = tsrc.read_transcripts(spark, os.path.join(in_dir, "corpus"))
    sample_rows = checks.conversation_rows(
        src, checks.sample_conversations(meta, ctx.seed, CHECK_SAMPLE_CONVS)
    )
    colds, ratios, cleans = [], [], []

    def one_pass():
        cold_s, ratio, clean = _cold(ctx, src, meta, sample_rows, out)
        if cold_s is not None:
            colds.append(cold_s)
            ratios.append(ratio)
            cleans.append(clean)

    ctx.passes(one_pass, PASS_S)
    ctx.mark("measure")

    cold_med = statistics.median(colds) if colds else 0.0
    ctx.metrics["turns_per_s"] = meta["rows"] / cold_med if cold_med else 0.0
    ctx.metrics["job_s"] = cold_med
    ctx.detail["samples"] = {"warm_up_s": warm_s, "cold_s": colds}
    ctx.detail["bytes_written_per_input_byte"] = statistics.median(ratios) if ratios else 0.0
    if ctx.trace:
        if cleans:
            buckets = random.Random(ctx.seed).sample(
                range(inputs.NUM_BUCKETS), inputs.NUM_BUCKETS // 4
            )
            _resume(ctx, src, out, buckets, cleans[-1])
        box: dict = {}
        ctx.op(
            lambda: box.update(_traced(ctx, src, meta)),
            lambda: _traced_checks(box, meta, cleans[-1] if cleans else None),
        )
        _traced_metrics(ctx, box, meta, cold_med)
        ctx.mark("traced")


# --------------------------------------------------------------------------
# traced mode
# --------------------------------------------------------------------------


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _phase(ctx, name: str, fn):
    with ctx.tracer.span(name) as rec, ctx.jobs.group(name) as gid:
        value = fn()
    rec.update(ctx.jobs.counts(gid))
    return value


def _traced(ctx, src, meta: dict) -> dict:
    """The pipeline's phases, serially and in pipeline order, each one span
    and one job group; probes of single layers run between them."""
    spark = ctx.spark
    tout = os.path.join(ctx.scratch, "traced")
    shutil.rmtree(tout, ignore_errors=True)
    nb = inputs.NUM_BUCKETS
    df = pipeline.add_bucket(src, nb)

    def extracted():
        return turns.extract_turns(
            df.drop("bucket"), num_buckets=nb, page_text_mode="repaired_only"
        )

    _phase(ctx, "transcripts.scan", lambda: _noop(src))
    _phase(ctx, "turns.extract", lambda: _noop(extracted()))
    turns_schema = extracted().schema
    _phase(
        ctx,
        "transcripts.write_turns",
        lambda: tsrc.write_partitioned(extracted(), os.path.join(tout, "turns"), clustered=True),
    )
    # output_dir=None: run_pipeline plans lazily; its only job is the probe
    _phase(
        ctx,
        "pipeline.skew_probe",
        lambda: pipeline.run_pipeline(
            spark, src, output_dir=None, num_buckets=nb, store_page_text="repaired_only"
        ),
    )
    turns_read = spark.read.schema(turns_schema).parquet(os.path.join(tout, "turns"))
    lineage = pipeline.lineage_rows(turns_read)
    lineage_rows = _phase(ctx, "pipeline.lineage", lineage.collect)
    shuffle_bytes = _phase(
        ctx,
        "documents.assemble",
        lambda: run_and_count_exchange_bytes(
            documents.assemble_documents_from_input(df, turns_read)
        ),
    )
    docs = documents.assemble_documents_from_input(df, turns_read)
    _phase(
        ctx,
        "transcripts.write_docs",
        lambda: tsrc.write_partitioned(docs, os.path.join(tout, "docs"), clustered=True),
    )
    docs_read = spark.read.schema(docs.schema).parquet(os.path.join(tout, "docs"))
    _phase(ctx, "documents.explode_spans", lambda: _noop(documents.explode_spans(docs_read)))
    _phase(
        ctx,
        "transcripts.write_spans",
        lambda: tsrc.write_partitioned(
            documents.explode_spans(docs_read), os.path.join(tout, "spans"), clustered=True
        ),
    )
    lineage_path = os.path.join(tout, "lineage")
    _phase(
        ctx,
        "pipeline.lineage_commit",
        lambda: spark.createDataFrame(lineage_rows, schema=lineage.schema)
        .write.mode("overwrite")
        .parquet(lineage_path),
    )
    _phase(
        ctx,
        "pipeline.committed_buckets",
        lambda: pipeline.committed_buckets(spark, lineage_path).collect(),
    )

    # the long conversation, assembled by the distributed (per-section)
    # path on its own; its narrow stage runs untraced beforehand
    long_turns = os.path.join(tout, "long_turns")
    turns.extract_turns(
        tsrc.read_transcripts(spark, inputs.long_conversation(ctx.data_dir, ctx.seed)),
        num_buckets=nb,
    ).write.parquet(long_turns)
    long_read = spark.read.parquet(long_turns)
    _phase(
        ctx,
        "segment_distributed.assemble",
        lambda: _noop(segment_distributed.assemble_documents_distributed(long_read)),
    )
    segment_distributed.release_planning_caches()

    kernel_ids = random.Random(ctx.seed + 1).sample(
        meta["conv_ids"], min(KERNEL_SAMPLE_CONVS, len(meta["conv_ids"]))
    )
    kernel_rows = checks.conversation_rows(src, kernel_ids)
    with ctx.tracer.span("oracle.kernels"):
        kernels = _time_kernels(kernel_rows)

    status = turns_read.agg(
        F.sum(F.when(F.col("status") == "incomplete", 1).otherwise(0)).alias("incomplete"),
        F.sum(F.when(F.col("page_text").isNotNull(), 1).otherwise(0)).alias("repaired"),
    ).collect()[0]
    files, size = _output_files(tout)
    return {
        "shuffle_bytes": shuffle_bytes,
        "kernels": kernels,
        "incomplete": status["incomplete"],
        "repaired": status["repaired"],
        "files": files,
        "bytes": size,
        "outs": {
            "docs": docs_read,
            "spans": spark.read.parquet(os.path.join(tout, "spans")),
            "lineage": spark.read.parquet(lineage_path),
        },
    }


def _traced_checks(box: dict, meta: dict, clean: dict | None) -> list[str]:
    """The serial phases must write exactly the tables run_pipeline writes."""
    state = checks.pipeline_state(box["outs"])
    bad = checks.pipeline_counts(state, meta)
    if clean is not None and state != clean:
        bad.append("traced phases wrote different tables than run_pipeline")
    return bad


def _time_kernels(rows: dict[str, list[dict]]) -> dict[str, float]:
    """Mean driver-side time of each oracle kernel the pipeline calls: per
    turn for the narrow-stage kernels (repair amortised over all turns, as
    the narrow stage pays it), per conversation for assembly."""
    pc = time.perf_counter
    t = dict.fromkeys(
        ("score", "repair", "split", "render", "segment", "transcription", "edoc"), 0.0
    )
    n_turns = 0
    for conv_id, conv in rows.items():
        pages = []
        meta = None
        for row in conv:
            text, tool = row["text"] or "", row["tool"] or ""
            t0 = pc()
            verdict = assembly.score_turn(text, tool)
            t1 = pc()
            page = text
            if verdict["status"] == "incomplete":
                parts = assembly.repair_turn(text, tool)
                if parts is not None:
                    page = assembly.flatten_parts(parts)
            t2 = pc()
            blocks = markup.split_markdown_into_blocks(page)
            t3 = pc()
            markup.render_clean_text(blocks)
            t4 = pc()
            t["score"] += t1 - t0
            t["repair"] += t2 - t1
            t["split"] += t3 - t2
            t["render"] += t4 - t3
            if row["turn_idx"] == 0:
                meta = assembly.extract_turn_meta(tool)
            pages.append(page)
            n_turns += 1
        meta = meta or {}
        authors = [textnorm.author_from_string(a) for a in meta.get("authors") or []] or None
        t0 = pc()
        seg = segmentation.segment_document(pages)
        t1 = pc()
        assembly.generate_transcription(
            seg["sections"], meta.get("title"), authors, seg["abstract"], seg["references"],
            include_references=True,
        )
        t2 = pc()
        json.dumps(
            assembly.edoc_dict(
                seg["sections"], meta.get("title"), authors, meta.get("creation_date"),
                seg["abstract"], seg["references"], conv_id=conv_id,
                keywords=textnorm.split_keywords(meta.get("keywords")),
            ),
            indent=4,
        )
        t3 = pc()
        t["segment"] += t1 - t0
        t["transcription"] += t2 - t1
        t["edoc"] += t3 - t2
    per_turn = 1e6 / max(n_turns, 1)
    per_conv = 1e6 / max(len(rows), 1)
    return {
        "oracle.score_turn_us": t["score"] * per_turn,
        "oracle.repair_turn_us": t["repair"] * per_turn,
        "oracle.split_blocks_us": t["split"] * per_turn,
        "oracle.render_clean_us": t["render"] * per_turn,
        "oracle.segment_document_us": t["segment"] * per_conv,
        "oracle.transcription_us": t["transcription"] * per_conv,
        "oracle.edoc_json_us": t["edoc"] * per_conv,
    }


def _traced_metrics(ctx, box: dict, meta: dict, untraced_s: float) -> None:
    m = ctx.metrics
    tr = ctx.tracer
    span = {s["name"]: s for s in tr.spans}
    for name in (
        "transcripts.scan", "transcripts.write_turns", "transcripts.write_docs",
        "transcripts.write_spans", "turns.extract", "documents.assemble",
        "documents.explode_spans", "segment_distributed.assemble", "pipeline.skew_probe",
        "pipeline.lineage", "pipeline.lineage_commit", "pipeline.committed_buckets",
        "pipeline.resume",
    ):
        if name in span and span[name]["end"] is not None:
            m[f"{name}_s"] = tr.duration(span[name])
    if "turns.extract" in span:
        m["turns.tasks"] = span["turns.extract"].get("tasks", 0)
        m["turns.failed_tasks"] = span["turns.extract"].get("failed_tasks", 0)
    if "kernels" not in box:
        return
    m.update(box["kernels"])
    m["documents.shuffle_bytes"] = box["shuffle_bytes"]
    m["turns.incomplete"] = box["incomplete"]
    m["turns.repaired"] = box["repaired"]
    m["transcripts.files_written"] = box["files"]
    m["transcripts.bytes_written"] = box["bytes"]
    m["transcripts.bytes_written_per_input_byte"] = box["bytes"] / meta["input_bytes"]
    per_turn_us = sum(
        box["kernels"][k]
        for k in ("oracle.score_turn_us", "oracle.repair_turn_us",
                  "oracle.split_blocks_us", "oracle.render_clean_us")
    )
    if m.get("turns.extract_s"):
        m["turns.kernel_share"] = (
            per_turn_us * meta["rows"] / 1e6 / (m["turns.extract_s"] * ctx.cores)
        )
    traced_s = sum(tr.duration(span[p]) for p in PIPELINE_PHASES if p in span)
    if untraced_s:
        m["trace.coverage"] = traced_s / untraced_s
        m["trace.overhead_s"] = traced_s - untraced_s
