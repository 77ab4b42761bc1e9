"""store_page_text="repaired_only": the 100 TB turns-table layout (no second
copy of unchanged input text) must produce byte-identical documents through
the tag-union single-shuffle assembly, and the materialised turns table must
actually drop the unchanged page bytes."""

import pytest
from pyspark.sql import functions as F

from scientific_papers_ocr_spark import fixtures, pipeline, schemas
from scientific_papers_ocr_spark.operators import documents as docops, turns as turnops


@pytest.fixture(scope="module")
def corpus(spark):
    return fixtures.spark_corpus(spark, 20, seed=11).cache()


def test_repaired_only_docs_match_default(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("slim"))
    default = pipeline.run_pipeline(spark, corpus, output_dir=None, num_buckets=8)
    slim = pipeline.run_pipeline(
        spark, corpus, output_dir=out, num_buckets=8,
        store_page_text="repaired_only",
    )
    want = {
        r["conv_id"]: (r["transcription"], r["edoc_json"], r["n_sections"],
                       r["n_refs"], r["n_turns"], r["bucket"])
        for r in default["docs"].collect()
    }
    got = {
        r["conv_id"]: (r["transcription"], r["edoc_json"], r["n_sections"],
                       r["n_refs"], r["n_turns"], r["bucket"])
        for r in slim["docs"].collect()
    }
    assert got == want


def test_repaired_only_turns_table_is_sparse(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("slim2"))
    slim = pipeline.run_pipeline(
        spark, corpus, output_dir=out, num_buckets=8,
        store_page_text="repaired_only",
    )
    turns = slim["turns"]
    stored = turns.where(F.col("page_text").isNotNull())
    assert 0 < stored.count() < turns.count()
    # only repaired (incomplete-status) turns carry page bytes
    assert {r["status"] for r in stored.select("status").distinct().collect()} == {
        "incomplete"
    }


def test_repaired_only_single_exchange(spark, corpus):
    docs = pipeline.run_pipeline(
        spark, corpus, output_dir=None, num_buckets=8,
        store_page_text="repaired_only",
    )["docs"]
    plan = docs._jdf.queryExecution().executedPlan().toString()
    # tag-union then ONE hash exchange on bucket — a join would add a second
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_repaired_only_resume_restores_dropped_bucket(spark, corpus, tmp_path_factory):
    """resume=True under the repaired_only layout: drop one bucket's lineage,
    rerun, and the docs table must converge to the clean-run output."""
    import os
    import shutil

    out = str(tmp_path_factory.mktemp("resume_slim"))
    clean = pipeline.run_pipeline(
        spark, corpus, output_dir=out, num_buckets=8,
        store_page_text="repaired_only",
    )
    want = sorted(
        (r["conv_id"], r["transcription"], r["edoc_json"])
        for r in clean["docs"].collect()
    )
    # simulate a crash: remove one committed bucket's lineage + docs rows
    lineage = spark.read.parquet(os.path.join(out, "lineage"))
    victim = lineage.select("bucket").first()["bucket"]
    kept = lineage.where(F.col("bucket") != victim)
    tmp_lineage = os.path.join(out, "lineage_tmp")
    kept.write.mode("overwrite").parquet(tmp_lineage)
    shutil.rmtree(os.path.join(out, "lineage"))
    os.rename(tmp_lineage, os.path.join(out, "lineage"))

    resumed = pipeline.run_pipeline(
        spark, corpus, output_dir=out, num_buckets=8,
        store_page_text="repaired_only", resume=True,
    )
    got = sorted(
        (r["conv_id"], r["transcription"], r["edoc_json"])
        for r in resumed["docs"].collect()
    )
    assert got == want
    assert resumed["lineage"].select("bucket").distinct().count() == 8


def _docs_by_conv(docs) -> dict:
    """Every DOCS_OUT column of every document, keyed by conv_id (one
    document per conversation)."""
    rows = docs.collect()
    out = {r["conv_id"]: r.asDict(recursive=True) for r in rows}
    assert len(out) == len(rows)
    return out


def test_repaired_only_with_skew_routing_matches_default(spark, routed_calls):
    """Oversized convs are streamed through the walker — under repaired_only
    with their boundaries elected from the merged page text — and every
    output column equals the unrouted default mode, on both turns-table
    layouts."""
    zipf = fixtures.spark_corpus(spark, 8, seed=42, zipf_max_turns=60).cache()
    want = _docs_by_conv(
        pipeline.run_pipeline(
            spark, zipf, output_dir=None, num_buckets=8, skew_turn_threshold=None,
        )["docs"]
    )
    assert set(next(iter(want.values()))) == set(schemas.DOCS_OUT.fieldNames())
    for mode in ("repaired_only", "always"):
        routed = pipeline.run_pipeline(
            spark, zipf, output_dir=None, num_buckets=8,
            store_page_text=mode, skew_turn_threshold=10,
        )["docs"]
        assert routed_calls[-1], (mode, routed_calls)
        assert _docs_by_conv(routed) == want, mode


def test_layouts_match_when_conversations_straddle_batches(spark, corpus):
    """Both layouts run the one batch-carry loop: with tiny Arrow batches,
    conversations straddle batch boundaries on both, and the documents must
    still be identical row for row."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        always = _docs_by_conv(
            docops.assemble_documents(turnops.extract_turns(corpus, num_buckets=8))
        )
        slim = _docs_by_conv(
            docops.assemble_documents_from_input(
                pipeline.add_bucket(corpus, 8),
                turnops.extract_turns(
                    corpus, num_buckets=8, page_text_mode="repaired_only"
                ),
            )
        )
    finally:
        spark.conf.set(key, saved)
    assert max(d["n_turns"] for d in always.values()) > 3
    assert slim == always


def test_routed_conversations_straddle_batches_on_both_layouts(spark, routed_calls):
    """With 7-row Arrow batches, routed conversations span many batches and,
    under repaired_only, a turn's input/verdict row pair is split across a
    batch boundary (pairs start at even rows, so every odd boundary splits
    one).  The walker's output must equal the whole-conversation path on
    every DOCS_OUT column, on both layouts."""
    corpus = fixtures.spark_corpus(spark, 12, seed=5, zipf_max_turns=80).cache()
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        for mode in ("repaired_only", "always"):
            docs = {}
            for threshold in (None, 8):
                docs[threshold] = _docs_by_conv(
                    pipeline.run_pipeline(
                        spark, corpus, output_dir=None, num_buckets=4,
                        store_page_text=mode, skew_turn_threshold=threshold,
                    )["docs"]
                )
            routed = routed_calls[-1]
            assert routed and len(routed) < len(docs[None]), (mode, routed)
            assert all(docs[None][c]["n_turns"] > 7 for c in routed), mode
            assert docs[8] == docs[None], mode
    finally:
        spark.conf.set(key, saved)
        corpus.unpersist()


def test_bucket_aligned_input_matches_unaligned(spark, corpus, tmp_path_factory):
    """input_bucket_aligned=True — the bucket-partitioned ingest layout with
    fully shuffle-free partitioned sinks (one-partitioning topology) — must
    produce tables identical to the unaligned path, and resume must still
    converge after a dropped bucket commit."""
    import os
    import shutil

    src = str(tmp_path_factory.mktemp("aligned_src"))
    (
        pipeline.add_bucket(corpus, 8)
        .repartitionByRange(4, "bucket", "conv_id")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(src)
    )
    aligned_df = spark.read.parquet(src)

    out_a = str(tmp_path_factory.mktemp("aligned_out"))
    out_p = str(tmp_path_factory.mktemp("plain_out"))
    aligned = pipeline.run_pipeline(
        spark, aligned_df, output_dir=out_a, num_buckets=8,
        store_page_text="repaired_only", input_bucket_aligned=True,
    )
    plain = pipeline.run_pipeline(
        spark, corpus, output_dir=out_p, num_buckets=8,
        store_page_text="repaired_only",
    )

    def doc_map(out):
        return {
            r["conv_id"]: (r["transcription"], r["edoc_json"], r["bucket"])
            for r in out["docs"].collect()
        }

    def span_set(out):
        return sorted(
            (r["conv_id"], r["span_idx"], r["span_type"], r["title"])
            for r in out["spans"].collect()
        )

    assert doc_map(aligned) == doc_map(plain)
    assert span_set(aligned) == span_set(plain)
    # every turns data file must live under its bucket=N directory
    # (partition-overwrite commit granularity is preserved without the
    # pre-write exchange)
    for root, _dirs, files in os.walk(os.path.join(out_a, "turns")):
        for f in files:
            if f.endswith(".parquet"):
                assert "bucket=" in root, os.path.join(root, f)

    # resume on the aligned path: drop one bucket's lineage and rerun
    want = doc_map(aligned)
    lineage = spark.read.parquet(os.path.join(out_a, "lineage"))
    victim = lineage.select("bucket").first()["bucket"]
    tmp_lineage = os.path.join(out_a, "lineage_tmp")
    lineage.where(F.col("bucket") != victim).write.mode("overwrite").parquet(tmp_lineage)
    shutil.rmtree(os.path.join(out_a, "lineage"))
    os.rename(tmp_lineage, os.path.join(out_a, "lineage"))
    resumed = pipeline.run_pipeline(
        spark, aligned_df, output_dir=out_a, num_buckets=8,
        store_page_text="repaired_only", input_bucket_aligned=True, resume=True,
    )
    assert doc_map(resumed) == want
    assert resumed["lineage"].select("bucket").distinct().count() == 8
