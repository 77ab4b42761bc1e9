"""Determinism + resume tests (SURVEY.md §5.2 items 5-6).

- Output must be identical under different shuffle-partition counts and a
  shuffled input row order (guards the sort_array∘collect_list discipline —
  Spark gives no intra-group order guarantees).
- A restart after a partial commit must skip committed buckets and converge
  to the clean-run output.
- The lineage commit is crash-consistent: a partial commit file stays
  hidden, and each run adds exactly one lineage file.
"""

import os
import shutil

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from scientific_papers_ocr_spark import pipeline
from scientific_papers_ocr_spark.sources import transcripts as tsrc

N = 18
SEED = 77


def _docs_fingerprint(docs_df):
    return sorted(
        (r["conv_id"], r["transcription"], r["edoc_json"])
        for r in docs_df.collect()
    )


def _turns_fingerprint(turns_df):
    return sorted(
        (r["conv_id"], r["turn_idx"], r["page_text"], r["clean_text"], r["status"])
        for r in turns_df.collect()
    )


@pytest.fixture(scope="module")
def base_df(spark):
    return tsrc.corpus_dataframe(spark, num_convs=N, seed=SEED)


def test_shuffle_partition_invariance(spark, base_df):
    ref = None
    for parts in ("3", "17"):
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        out = pipeline.run_pipeline(spark, base_df, output_dir=None, num_buckets=8)
        fp = (_turns_fingerprint(out["turns"]), _docs_fingerprint(out["docs"]))
        if ref is None:
            ref = fp
        else:
            assert fp == ref, f"output differs at shuffle.partitions={parts}"
    spark.conf.set("spark.sql.shuffle.partitions", "4")


def test_input_order_invariance(spark, base_df):
    clean = pipeline.run_pipeline(spark, base_df, output_dir=None, num_buckets=8)
    shuffled = base_df.orderBy(F.rand(seed=5))
    redo = pipeline.run_pipeline(spark, shuffled, output_dir=None, num_buckets=8)
    assert _docs_fingerprint(clean["docs"]) == _docs_fingerprint(redo["docs"])
    assert _turns_fingerprint(clean["turns"]) == _turns_fingerprint(redo["turns"])


def test_resume_skips_committed_buckets(spark, base_df, tmp_path):
    out_dir = str(tmp_path / "out")

    # clean full run
    clean = pipeline.run_pipeline(spark, base_df, output_dir=out_dir, num_buckets=8)
    clean_docs = _docs_fingerprint(clean["docs"])
    clean_turns = _turns_fingerprint(clean["turns"])
    lineage = spark.read.parquet(os.path.join(out_dir, "lineage"))
    buckets = sorted(r["bucket"] for r in lineage.select("bucket").distinct().collect())
    assert len(buckets) >= 2

    # simulate a crash that lost one bucket's commit: drop its lineage rows
    victim = buckets[0]
    kept = lineage.where(F.col("bucket") != victim)
    tmp_lineage = os.path.join(out_dir, "lineage_tmp")
    kept.write.mode("overwrite").parquet(tmp_lineage)
    shutil.rmtree(os.path.join(out_dir, "lineage"))
    os.replace(tmp_lineage, os.path.join(out_dir, "lineage"))

    # resume: must only process the victim bucket, then match the clean run
    resumed = pipeline.run_pipeline(
        spark, base_df, output_dir=out_dir, num_buckets=8, resume=True
    )
    assert _docs_fingerprint(resumed["docs"]) == clean_docs
    assert _turns_fingerprint(resumed["turns"]) == clean_turns
    lineage2 = spark.read.parquet(os.path.join(out_dir, "lineage"))
    assert sorted(
        r["bucket"] for r in lineage2.select("bucket").distinct().collect()
    ) == buckets
    # exactly ONE new lineage row (the victim) — committed buckets must not
    # be recomputed or re-appended on resume
    assert lineage2.count() == len(buckets)

    # resume with everything committed: input reduces to zero rows
    done = pipeline.committed_buckets(spark, os.path.join(out_dir, "lineage"))
    remaining = pipeline.add_bucket(base_df, 8).join(
        F.broadcast(done), on="bucket", how="left_anti"
    )
    assert remaining.count() == 0


def test_lineage_counters_match_turns(spark, base_df, tmp_path):
    out_dir = str(tmp_path / "out2")
    out = pipeline.run_pipeline(spark, base_df, output_dir=out_dir, num_buckets=8)
    lineage = out["lineage"]
    committed = os.listdir(os.path.join(out_dir, "lineage"))
    assert len([f for f in committed if f.endswith(".parquet")]) == 1, committed
    totals = lineage.agg(
        F.sum("n_turns").alias("turns"), F.sum("n_convs").alias("convs")
    ).collect()[0]
    assert totals["turns"] == out["turns"].count()
    assert totals["convs"] == out["docs"].count()
    by_status = {
        r["status"]: r["n"]
        for r in out["turns"].groupBy("status").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    sums = lineage.agg(
        F.sum("n_complete").alias("c"),
        F.sum("n_incomplete").alias("i"),
        F.sum("n_missing").alias("m"),
        F.sum("n_unverified").alias("u"),
    ).collect()[0]
    assert sums["c"] == by_status.get("complete", 0)
    assert sums["i"] == by_status.get("incomplete", 0)
    assert sums["m"] == sum(v for k, v in by_status.items() if k.startswith("missing"))
    assert sums["u"] == by_status.get("unverified", 0)


def _lineage_files(out_dir):
    return sorted(
        f for f in os.listdir(os.path.join(out_dir, "lineage")) if f.endswith(".parquet")
    )


def test_hidden_partial_lineage_file_is_invisible(spark, base_df, tmp_path):
    """A crash mid-commit leaves a partial file under a hidden name: readers
    skip it, the bucket stays uncommitted, and the resume that commits it
    adds exactly one file."""
    out_dir = str(tmp_path / "out3")
    clean = pipeline.run_pipeline(spark, base_df, output_dir=out_dir, num_buckets=8)
    clean_docs = _docs_fingerprint(clean["docs"])
    lineage_dir = os.path.join(out_dir, "lineage")
    table = pq.read_table(lineage_dir)
    buckets = sorted(table.column("bucket").to_pylist())
    assert len(buckets) >= 2

    # lose the victim bucket's commit, then crash while re-committing it
    victim = buckets[0]
    kept = table.filter(pc.not_equal(table.column("bucket"), victim))
    shutil.rmtree(lineage_dir)
    os.makedirs(lineage_dir)
    pq.write_table(kept, os.path.join(lineage_dir, "part-kept.parquet"))
    partial_path = os.path.join(lineage_dir, ".part-crashed.parquet")
    pq.write_table(table.slice(0, 1), partial_path)
    with open(partial_path, "r+b") as f:
        f.truncate(os.path.getsize(partial_path) // 2)

    done = pipeline.committed_buckets(spark, lineage_dir)
    assert sorted(r["bucket"] for r in done.collect()) == buckets[1:]

    before = _lineage_files(out_dir)
    resumed = pipeline.run_pipeline(
        spark, base_df, output_dir=out_dir, num_buckets=8, resume=True
    )
    after = _lineage_files(out_dir)
    assert len(after) == len(before) + 1 and set(before) < set(after), (before, after)
    assert os.path.exists(partial_path)
    lineage = resumed["lineage"]
    assert lineage.count() == len(buckets)
    assert sorted(r["bucket"] for r in lineage.collect()) == buckets
    assert _docs_fingerprint(resumed["docs"]) == clean_docs


def test_rerun_leaves_one_lineage_file(spark, base_df, tmp_path):
    """A non-resume run replaces the lineage table: two runs into one
    output directory leave one lineage file, one row per bucket."""
    out_dir = str(tmp_path / "out4")
    for _ in range(2):
        out = pipeline.run_pipeline(spark, base_df, output_dir=out_dir, num_buckets=8)
    assert len(_lineage_files(out_dir)) == 1
    buckets = [r["bucket"] for r in out["lineage"].collect()]
    assert len(buckets) == len(set(buckets)) == out["turns"].select("bucket").distinct().count()
