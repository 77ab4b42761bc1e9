"""End-to-end extraction job with per-partition lineage and resume.

Topology (two Spark write jobs, one shuffle):

    read transcripts
      → [narrow] fused per-turn tokenize/verify/repair  (mapInPandas)
      → write turns table (partitioned by bucket)
      → [wide]  exchange on bucket → per-conv assembly (one mapInPandas
                serving both turns-table layouts; mega-conversations
                streamed page by page through the same batch loop)
      → write docs table (partitioned by bucket); spans is a view over docs
      → commit lineage rows from the driver (counts + checksum per bucket,
        one parquet file, published by rename)

Resume protocol (north rule): the driver reads committed lineage buckets and
anti-joins them out of the input BEFORE the narrow stage, so a restart only
processes uncommitted partitions; partition-overwrite writes make re-commits
idempotent, and a lineage file becomes visible only once it is complete.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

from . import schemas
from .operators import documents, segment_distributed, turns
from .sources import transcripts as tsrc


def add_bucket(df: DataFrame, num_buckets: int) -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.crc32(F.col("conv_id")), F.lit(num_buckets)).cast("int")
    )


def lineage_rows(turns_out: DataFrame) -> DataFrame:
    """Per-bucket counters + an order-insensitive content checksum
    (SURVEY.md §2.4 A10; north rule lineage + metrics).

    Under ``store_page_text="repaired_only"`` the checksum covers ids,
    statuses and repaired content only (``concat_ws`` skips the null
    page_text of unchanged turns); the unchanged input bytes are
    content-addressed by the immutable source table."""
    return turns_out.groupBy("bucket").agg(
        F.countDistinct("conv_id").alias("n_convs"),
        F.count(F.lit(1)).alias("n_turns"),
        F.sum(F.when(F.col("status") == "complete", 1).otherwise(0)).alias("n_complete"),
        F.sum(F.when(F.col("status") == "incomplete", 1).otherwise(0)).alias("n_incomplete"),
        F.sum(F.when(F.col("status").startswith("missing"), 1).otherwise(0)).alias("n_missing"),
        F.sum(F.when(F.col("status") == "unverified", 1).otherwise(0)).alias("n_unverified"),
        F.sum(F.crc32(F.concat_ws("\x00", "conv_id", "turn_idx", "page_text"))).alias("checksum"),
        F.current_timestamp().alias("committed_at"),
    )


def committed_buckets(spark: SparkSession, lineage_path: str) -> DataFrame | None:
    """Buckets already committed by a previous run; None when no lineage."""
    if not os.path.exists(lineage_path):
        return None
    try:
        return spark.read.parquet(lineage_path).select("bucket").distinct()
    except Exception:
        return None


def _commit_lineage(table: pa.Table, lineage_path: str, append: bool) -> None:
    """Commit the lineage rows as one parquet file, written from the driver
    (no Spark job) under a hidden name that Spark's file listing skips, then
    published by ``os.replace``: a crash mid-write leaves no visible
    partial file.  ``append`` adds the file to the existing table (an empty
    commit adds nothing); otherwise a freshly written directory replaces
    the table."""
    name = f"part-{uuid.uuid4()}.parquet"
    if append:
        if table.num_rows:
            hidden = os.path.join(lineage_path, f".{name}")
            pq.write_table(table, hidden)
            os.replace(hidden, os.path.join(lineage_path, name))
        return
    staging = os.path.join(os.path.dirname(lineage_path), f".lineage-{uuid.uuid4()}")
    os.makedirs(staging)
    pq.write_table(table, os.path.join(staging, name))
    shutil.rmtree(lineage_path, ignore_errors=True)
    os.replace(staging, lineage_path)


def _spans_view(docs: DataFrame) -> DataFrame:
    """The spans table as a view over a docs frame, in ``schemas.SPANS_OUT``
    on both paths."""
    spans = documents.explode_spans(docs)
    # ``CASE WHEN c IS NOT NULL THEN c END`` is the identity that Spark types
    # as nullable (the optimizer folds it back to the bare column); one
    # ``selectExpr`` keeps the driver-side planning to one call
    return spans.selectExpr(
        *(
            f"`{c}`"
            if spans.schema[c].nullable
            else f"CASE WHEN `{c}` IS NOT NULL THEN `{c}` END AS `{c}`"
            for c in schemas.SPANS_OUT.names
        )
    )


def _probe_big_ids(src: DataFrame, threshold: int | None) -> list[str] | None:
    """Skew planning statistic: the conv_ids with at least ``threshold``
    rows in ``src`` (a handful, collected to the driver), or None when no
    conversation crosses it.  Mirrors how AQE re-plans from runtime
    statistics, resolved driver-side with one eager column-pruned
    count-by-key job over ``src``.  Call it on the cheapest table that knows
    conversation sizes: the committed turns parquet when one exists (a
    conv_id-only columnar scan), the raw input otherwise."""
    if not threshold:
        return None
    big = (
        src.groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= threshold)
        .select("conv_id")
        .collect()
    )
    return [r["conv_id"] for r in big] or None


def _assemble(
    inputs: DataFrame,
    verdicts: DataFrame,
    big_ids: list[str] | None,
    store_page_text: str,
    narrow=None,
) -> DataFrame:
    """The one assembler over the turns table ``verdicts`` (tag-unioned with
    the bucketed ``inputs`` under ``repaired_only``).  The oversized
    conversations ``big_ids`` are routed: their boundaries are elected
    first (one small driver-collected job over their pages), and the
    assembler streams them page by page instead of holding them whole.  The
    docs plan is the same single-exchange plan either way.  ``narrow``, when
    ``verdicts`` is its lazy output over ``inputs``, is re-run for the
    election over the routed input rows only: no filter passes below its
    ``MapInPandas``."""

    def tagged(v: DataFrame, i: DataFrame) -> DataFrame:
        return documents.tagged_turns(v, i if store_page_text == "repaired_only" else None)

    routed = None
    if big_ids:
        is_big = F.col("conv_id").isin(big_ids)
        big_inputs = inputs.where(is_big)
        big_verdicts = narrow(big_inputs) if narrow else verdicts.where(is_big)
        routed = segment_distributed.elect_boundaries(tagged(big_verdicts, big_inputs))
    return documents.assemble_sorted(tagged(verdicts, inputs), routed)


def run_pipeline(
    spark: SparkSession,
    transcripts_df: DataFrame,
    output_dir: str | None = None,
    num_buckets: int = 64,
    resume: bool = False,
    skew_turn_threshold: int | None = 32768,
    store_page_text: str = "always",
    input_bucket_aligned: bool = False,
) -> dict[str, DataFrame]:
    """Run the full pipeline; when ``output_dir`` is set, materialise the
    turns and docs tables there (partitioned by bucket) and commit the
    lineage table last, and, with ``resume=True``, skip buckets whose
    lineage rows are already committed.  Returns the turns, docs, spans and
    lineage frames; ``spans`` is always a view over the docs frame (with
    ``output_dir``, over every committed bucket of the docs table, so a
    resumed run sees all of them), in one schema on both paths.

    ``output_dir`` must be a path the driver's own filesystem sees (a local
    or mounted directory): the driver checks for the lineage table there
    and commits it with a direct parquet write published by ``os.replace``
    — one file, visible only once complete, no Spark job.  On resume the
    file is added to the existing lineage table (a resume that processed no
    bucket adds none); otherwise a freshly written directory replaces it.

    ``num_buckets`` is also the wide stage's parallelism ceiling: ``bucket``
    is the assembly exchange key, so at most ``num_buckets`` tasks do useful
    work there (hash collisions can reduce that further when the shuffle
    partition count exceeds it).  Size it like any bucketed table layout —
    at least the cluster's core count, targeting a few hundred MB per
    bucket; the 64 default fits this sandbox, not a 100 TB deployment.

    ``skew_turn_threshold``: conversations with at least this many turns are
    routed: the same assembler streams them page by page through
    ``segment_distributed.Walker`` instead of segmenting each one whole, so
    no Python worker holds a whole mega-conversation.  The decision mirrors
    how AQE re-plans from runtime statistics: the probe is one column-pruned
    (conv_id-only) count over the input, which with ``output_dir`` set runs
    on a driver thread concurrently with the narrow stage's write.  Routed
    conversations first have their abstract and references boundaries
    elected (one small job over their pages, collected to the driver).  The
    docs plan is the single-exchange plan whether or not any conversation is
    routed.  None disables routing.

    ``store_page_text="repaired_only"``: the 100 TB table layout — the turns
    table stores ``page_text`` only where column repair changed it, never a
    second copy of the immutable input text (roughly halves turns-table
    bytes and the narrow stage's Python→JVM Arrow stream).  Assembly then
    merges the input text back in: the same single-shuffle batched
    assembler as the default layout, fed the input rows tag-unioned with
    the verdict rows (``assemble_documents_from_input``).  The lineage
    checksum covers ids, statuses and repaired content (the unchanged input
    is content-addressed by the source table itself).  Routed
    mega-conversations take the same path: the walker is fed the merged
    pages, and a turn's input and verdict rows may arrive in different
    Arrow batches.

    The default stays ``"always"`` because it is the right plan for the
    LAZY (``output_dir=None``) path — nothing is materialised there, so the
    slim layout saves no bytes while its read-side tag-union merge would add
    a pass; materialising deployments (and the benchmark) should pass
    ``"repaired_only"``, which is the 100 TB layout.  The two modes are
    byte-identical on every output (tests/test_storage_modes.py).

    One-partitioning topology: the assembly exchange key is ``bucket``
    (a deterministic function of ``conv_id``), so the docs frame leaves the
    wide stage already clustered on the sink's partition key and the docs
    partitioned write runs shuffle-free
    (``write_partitioned(..., clustered=True)``).

    ``input_bucket_aligned=True``: the caller asserts ``transcripts_df`` is
    a scan of a table partitioned/bucketed on this same ``bucket`` key (the
    documented production ingest layout, ``sources/transcripts.py``) — each
    input split then holds rows of only a few distinct buckets, and the
    TURNS write skips its pre-write exchange too, making the narrow stage
    write shuffle-free end-to-end.  Leave False for arbitrary input
    layouts; correctness is identical either way (only file clustering of
    the turns table changes).
    """
    if store_page_text not in ("always", "repaired_only"):
        raise ValueError(f"unknown store_page_text mode: {store_page_text}")
    df = add_bucket(transcripts_df, num_buckets)

    done = None
    if resume and output_dir:
        done = committed_buckets(spark, os.path.join(output_dir, "lineage"))
        if done is not None:
            # anti-join on the small committed-bucket set: broadcast it
            df = df.join(F.broadcast(done), on="bucket", how="left_anti")

    def narrow(rows: DataFrame) -> DataFrame:
        return turns.extract_turns(
            rows.drop("bucket"), num_buckets=num_buckets, page_text_mode=store_page_text
        )

    turns_out = narrow(df)

    if not output_dir:
        # lazy path: nothing is materialised, so conversation sizes can only
        # come from the raw input — one column-pruned (conv_id-only) count
        # job that never touches the pandas narrow stage
        docs_out = _assemble(
            df, turns_out, _probe_big_ids(df, skew_turn_threshold), store_page_text,
            narrow,
        )
        return {
            "turns": turns_out,
            "docs": docs_out,
            "spans": _spans_view(docs_out),
            "lineage": lineage_rows(turns_out),
        }

    # materialise the narrow stage once; downstream stages read the committed
    # columnar table (column-pruned scan) instead of recomputing the
    # pandas-UDF pass per action.  On resume, dynamic partition overwrite
    # touches only the freshly processed buckets.
    #
    # The skew probe runs on a driver thread CONCURRENTLY with the narrow
    # write: extract_turns emits exactly one row per input row, so per-conv
    # counts over the (already anti-joined) input equal counts over the
    # fresh turns — and the conv_id-only columnar input scan overlaps the
    # Python-worker-bound narrow stage instead of adding a serial ~1s job
    # between the turns write and assembly.  (The r3 objection to probing
    # the input was that it ran SERIALLY before the narrow stage; overlapped
    # it is hidden.)  The probe result is planning-sized: a broadcastable
    # id set or None.
    import threading

    probe_box: dict = {}
    # side jobs run under job groups so that if the main-thread writes fail,
    # their in-flight Spark jobs are cancelled instead of left running on the
    # cluster (where they would overlap a caller's retry and contend with it)
    run_tag = f"run-pipeline-{id(probe_box):x}"
    probe_group = f"{run_tag}-probe"
    lineage_group = f"{run_tag}-lineage"

    def _compute_probe() -> None:
        try:
            spark.sparkContext.setJobGroup(probe_group, "pipeline: skew probe", True)
            probe_box["ids"] = _probe_big_ids(df, skew_turn_threshold)
        except Exception as e:  # noqa: BLE001 — re-raised on the main thread
            probe_box["err"] = e

    def _cancel_side_jobs() -> None:
        for g in (probe_group, lineage_group):
            try:
                spark.sparkContext.cancelJobGroup(g)
            except Exception:  # noqa: BLE001 — best-effort on the error path
                pass

    probe_thread = threading.Thread(target=_compute_probe, daemon=True)
    probe_thread.start()
    try:
        tsrc.write_partitioned(
            turns_out, os.path.join(output_dir, "turns"), clustered=input_bucket_aligned
        )
    except BaseException:
        _cancel_side_jobs()
        raise
    # Explicit schemas on every read-back: a zero-row partitioned write emits
    # no data files (only _SUCCESS), and schema inference on such a directory
    # raises UNABLE_TO_INFER_SCHEMA — an empty input must flow through to an
    # empty output, not crash. The schema is known statically from the frame
    # we just wrote.
    all_turns = spark.read.schema(turns_out.schema).parquet(
        os.path.join(output_dir, "turns")
    )
    fresh_turns = (
        all_turns.join(F.broadcast(done), on="bucket", how="left_anti")
        if done is not None
        else all_turns
    )

    # assemble/lineage ONLY the buckets processed in this run — committed
    # buckets keep their existing docs partitions and lineage rows.
    # Lineage is the COMMIT RECORD for resume: a bucket whose lineage row is
    # durable is skipped wholesale on restart, so the lineage WRITE must be
    # the last thing that happens — after docs are on disk.  The lineage
    # COMPUTE, however, only needs the already-committed turns table, so
    # its scan+agg runs on a driver thread CONCURRENTLY with the docs job
    # (concurrent jobs from separate driver threads are a first-class Spark
    # feature; the lineage scan is JVM-side columnar work that overlaps the
    # Python-worker-bound assembly).  The Arrow collect is planning-sized —
    # one row per bucket — so the commit itself is a driver-side file write,
    # not a Spark job.
    lineage_out = lineage_rows(fresh_turns)
    lineage_box: dict = {}

    def _compute_lineage() -> None:
        try:
            spark.sparkContext.setJobGroup(lineage_group, "pipeline: lineage", True)
            lineage_box["table"] = lineage_out.toArrow()
        except Exception as e:  # noqa: BLE001 — re-raised on the main thread
            lineage_box["err"] = e

    lineage_thread = threading.Thread(target=_compute_lineage, daemon=True)
    lineage_thread.start()

    try:
        probe_thread.join()
        if "err" in probe_box:
            raise probe_box["err"]
        docs_out = _assemble(df, fresh_turns, probe_box["ids"], store_page_text)
        tsrc.write_partitioned(docs_out, os.path.join(output_dir, "docs"), clustered=True)
    except BaseException:
        _cancel_side_jobs()
        raise
    all_docs = spark.read.schema(docs_out.schema).parquet(os.path.join(output_dir, "docs"))
    lineage_path = os.path.join(output_dir, "lineage")
    append = resume and os.path.exists(lineage_path)
    lineage_thread.join()
    if "err" in lineage_box:
        raise lineage_box["err"]
    _commit_lineage(lineage_box["table"], lineage_path, append)
    return {
        "turns": all_turns,
        "docs": all_docs,
        # a view over every committed bucket, so a resumed run sees them all
        "spans": _spans_view(all_docs),
        "lineage": spark.read.schema(lineage_out.schema).parquet(lineage_path),
    }
