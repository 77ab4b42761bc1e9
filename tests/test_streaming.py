"""Streaming drop-in test: the narrow extraction stage run via readStream /
writeStream must produce exactly the batch output (stateless map ⇒
stream-batch equivalence)."""

import os

import pytest

from scientific_papers_ocr_spark import pipeline
from scientific_papers_ocr_spark.sources import transcripts as tsrc
from scientific_papers_ocr_spark.streaming import extraction as stream_ext


@pytest.fixture(scope="module")
def corpus_path(tmp_path_factory):
    # the file stream source requires a DIRECTORY of files
    d = tmp_path_factory.mktemp("stream") / "transcripts"
    d.mkdir()
    tsrc.ensure_fixture_corpus(str(d / "part-000.parquet"), num_convs=12, seed=3)
    return str(d)


def test_stream_matches_batch(spark, corpus_path, tmp_path):
    out_path = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")
    q = stream_ext.run_stream_to_parquet(spark, corpus_path, out_path, ckpt, num_buckets=8)
    q.awaitTermination(120)

    got = {
        (r["conv_id"], r["turn_idx"]): (r["clean_text"], r["status"], r["bucket"])
        for r in spark.read.parquet(out_path).collect()
    }
    batch_df = tsrc.read_transcripts(spark, corpus_path)
    batch = pipeline.run_pipeline(spark, batch_df, output_dir=None, num_buckets=8)
    want = {
        (r["conv_id"], r["turn_idx"]): (r["clean_text"], r["status"], r["bucket"])
        for r in batch["turns"].collect()
    }
    assert got == want


def test_stream_restart_is_exactly_once(spark, corpus_path, tmp_path):
    out_path = str(tmp_path / "stream_out2")
    ckpt = str(tmp_path / "ckpt2")
    q1 = stream_ext.run_stream_to_parquet(spark, corpus_path, out_path, ckpt, num_buckets=8)
    q1.awaitTermination(120)
    n1 = spark.read.parquet(out_path).count()
    # restart against the same checkpoint: no new files -> no duplicates
    q2 = stream_ext.run_stream_to_parquet(spark, corpus_path, out_path, ckpt, num_buckets=8)
    q2.awaitTermination(120)
    assert spark.read.parquet(out_path).count() == n1


def test_windowed_counts_run(spark, corpus_path, tmp_path):
    stream = stream_ext.stream_transcripts(spark, corpus_path)
    counts = stream_ext.stream_turn_counts(stream, window="1 hour")
    q = (
        counts.writeStream.format("memory")
        .queryName("turn_counts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode only emits closed windows; correctness of the counts is
    # covered by the batch lineage test — here we assert the query runs and
    # the plan is a legal watermarked streaming aggregation
    assert not q.isActive


def test_stateful_assembly_matches_batch_oracle(spark, corpus_path, tmp_path):
    """applyInPandasWithState per-conv assembly: conversations close on data
    completeness (n_total reached) and the streamed documents byte-match the
    single-node oracle's transcription."""
    from pyspark.sql import functions as F

    from scientific_papers_ocr_spark.oracle import assembly

    base = stream_ext.stream_transcripts(spark, corpus_path)
    # end-of-conversation signal: total turn count per conv (computed from
    # the batch table here; a producer would attach it to each row)
    totals = (
        tsrc.read_transcripts(spark, corpus_path)
        .groupBy("conv_id")
        .count()
        .withColumnRenamed("count", "n_total")
    )
    stream = base.join(F.broadcast(totals), on="conv_id")
    docs = stream_ext.stream_assemble_conversations(stream)
    q = (
        docs.writeStream.format("memory")
        .queryName("assembled_docs")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_state"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # with a processing-time state timeout the availableNow query keeps
    # running empty micro-batches and never ends on its own: stop it, or it
    # spins on the session's cores through every later test
    q.stop()
    got = {r["conv_id"]: r for r in spark.sql("SELECT * FROM assembled_docs").collect()}
    batch_rows = tsrc.read_transcripts(spark, corpus_path).collect()
    convs = {}
    for r in batch_rows:
        convs.setdefault(r["conv_id"], []).append(
            {"turn_idx": r["turn_idx"], "text": r["text"], "tool": r["tool"]}
        )
    assert set(got) == set(convs)
    for cid, turns in convs.items():
        oracle = assembly.process_document(turns, conv_id=cid)
        assert got[cid]["complete"] is True
        assert got[cid]["n_turns"] == len(turns)
        assert got[cid]["transcription"] == oracle["transcription"], cid


def test_stream_sessionize_runs(spark, corpus_path, tmp_path):
    stream = stream_ext.stream_transcripts(spark, corpus_path)
    sessions = stream_ext.stream_sessionize(stream, gap="30 minutes")
    q = (
        sessions.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive


def test_stream_rate_limited_sink_delivers_all_rows(spark, corpus_path, tmp_path):
    import glob
    import json
    import os
    import uuid

    out_dir = str(tmp_path / "sent")
    os.makedirs(out_dir, exist_ok=True)

    def transport(batch):
        with open(os.path.join(out_dir, f"{uuid.uuid4().hex}.json"), "w") as f:
            json.dump(batch, f, default=str)

    stream = stream_ext.stream_transcripts(spark, corpus_path).select(
        "conv_id", "turn_idx"
    )
    q = stream_ext.stream_to_rate_limited_sink(
        stream, transport, str(tmp_path / "ckpt_rl"),
        rate_per_sec=10_000.0, batch_size=25,
    )
    q.awaitTermination(120)
    sent = [row for p in glob.glob(f"{out_dir}/*.json") for row in json.load(open(p))]
    want = tsrc.read_transcripts(spark, corpus_path).count()
    assert len(sent) == want
    batches = [json.load(open(p)) for p in glob.glob(f"{out_dir}/*.json")]
    assert all(1 <= len(b) <= 25 for b in batches)


def test_stateful_assembly_dedupes_redelivered_turns(spark, tmp_path):
    """At-least-once regression: a replayed (duplicate) turn must neither
    close a conversation early nor change the assembled bytes — the close
    condition counts DISTINCT turn indices and assembly drops redeliveries.
    The end-marker n_total rides on only ONE row per conversation (null
    elsewhere), exercising the first-non-null chunk scan."""
    from pyspark.sql import functions as F

    from scientific_papers_ocr_spark.oracle import assembly

    rows = []
    for c in range(3):
        cid = f"conv-{c}"
        for i in range(4):
            rows.append((cid, i, f"text {c}-{i}\n\nbody paragraph {i}", "",
                         4 if i == 0 else None))
        # redelivery: turn 2 arrives twice, byte-identical
        rows.append((cid, 2, f"text {c}-2\n\nbody paragraph 2", "", None))
    src = tmp_path / "dup_stream"
    spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string, tool string, n_total int"
    ).repartition(3).write.parquet(str(src))

    stream = (
        spark.readStream.schema(
            "conv_id string, turn_idx int, text string, tool string, n_total int"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    docs = stream_ext.stream_assemble_conversations(stream)
    q = (
        docs.writeStream.format("memory")
        .queryName("dedup_docs")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # with a processing-time state timeout the availableNow query keeps
    # running empty micro-batches and never ends on its own: stop it, or it
    # spins on the session's cores through every later test
    q.stop()
    got = {r["conv_id"]: r for r in spark.sql("SELECT * FROM dedup_docs").collect()}
    assert set(got) == {f"conv-{c}" for c in range(3)}
    for c in range(3):
        cid = f"conv-{c}"
        turns = [
            {"turn_idx": i, "text": f"text {c}-{i}\n\nbody paragraph {i}", "tool": ""}
            for i in range(4)
        ]
        oracle = assembly.process_document(turns, conv_id=cid)
        assert got[cid]["complete"] is True
        assert got[cid]["n_turns"] == 4  # the duplicate is not double-counted
        assert got[cid]["transcription"] == oracle["transcription"]
