"""Skew handling: a zipf-skewed corpus plus one forced mega-conversation must
produce oracle-exact output whether a conversation is segmented whole or
streamed through the walker, and the narrow stage must stay shuffle-free
regardless of skew."""

import pytest
from pyspark.sql import functions as F

from scientific_papers_ocr_spark import fixtures
from scientific_papers_ocr_spark.operators import (
    documents as docops,
    segment_distributed as dist,
    turns as turnops,
)
from scientific_papers_ocr_spark.oracle import assembly


@pytest.fixture(scope="module")
def skewed_df(spark):
    zipf = fixtures.spark_corpus(spark, 40, seed=42, zipf_max_turns=120)
    mega = fixtures.spark_corpus(spark, 1, seed=99, turns_per_conv=800)
    return zipf.unionByName(mega).cache()


def test_zipf_distribution_is_skewed(skewed_df):
    sizes = (
        skewed_df.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    n = sorted(r["n"] for r in sizes)
    assert n[-1] == 800              # the mega conv
    assert n[0] <= 4                 # plenty of tiny convs
    assert len(n) == 41


def test_mega_conv_matches_oracle(spark, skewed_df):
    turns_out = turnops.extract_turns(skewed_df, num_buckets=8)
    docs = docops.assemble_documents(turns_out)
    mega_id = "conv-99-00000-full_paper"
    got = docs.where(F.col("conv_id") == mega_id).first()
    assert got is not None and got["n_turns"] == 800

    rows = [r.asDict() for r in skewed_df.where(F.col("conv_id") == mega_id).collect()]
    oracle = assembly.process_document(rows, conv_id=mega_id)
    assert got["transcription"] == oracle["transcription"]


def test_distributed_matches_whole_doc_on_skew(spark, skewed_df):
    turns_out = turnops.extract_turns(skewed_df, num_buckets=8).cache()
    whole = {
        r["conv_id"]: r["transcription"]
        for r in docops.assemble_documents(turns_out).collect()
    }
    distd = {
        r["conv_id"]: r["transcription"]
        for r in dist.assemble_documents_distributed(turns_out).collect()
    }
    assert whole == distd


def test_pipeline_routes_mega_convs_to_distributed_assembler(
    spark, skewed_df, routed_calls
):
    """run_pipeline with a low skew threshold must stream the 800-turn conv
    through the walker and segment everything else whole — in the one
    assembler, with output identical to the unrouted pipeline."""
    from scientific_papers_ocr_spark import pipeline

    routed = pipeline.run_pipeline(
        spark, skewed_df, output_dir=None, num_buckets=8, skew_turn_threshold=500
    )["docs"]
    assert routed_calls == [{"conv-99-00000-full_paper"}], routed_calls
    # still one assembler over the cached input: no second branch, no
    # segmentation DAG
    plan = routed._jdf.queryExecution().executedPlan().toString()
    above_cache = plan.split("InMemoryTableScan")[0]
    assert "Union" not in above_cache and "Window" not in above_cache, plan
    assert above_cache.count("Exchange hashpartitioning") == 1, plan

    unrouted = pipeline.run_pipeline(
        spark, skewed_df, output_dir=None, num_buckets=8, skew_turn_threshold=None
    )["docs"]
    got = {r["conv_id"]: r["transcription"] for r in routed.collect()}
    want = {r["conv_id"]: r["transcription"] for r in unrouted.collect()}
    assert got == want
    assert "conv-99-00000-full_paper" in got


def test_pipeline_stays_fast_path_without_skew(spark, skewed_df, routed_calls):
    """with no conv over the threshold the routed pipeline must compile to the
    plain single-assembler plan (no Union, no distributed DAG) and route
    nothing."""
    from scientific_papers_ocr_spark import pipeline

    docs = pipeline.run_pipeline(
        spark, skewed_df, output_dir=None, num_buckets=8, skew_turn_threshold=10_000
    )["docs"]
    assert routed_calls == [None], routed_calls
    plan = docs._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_narrow_stage_shuffle_free_under_skew(skewed_df):
    # the corpus generator itself repartitions (visible under the cache);
    # extract_turns must add ZERO exchanges on top of its input
    def exchanges_above_cache(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.split("InMemoryTableScan")[0].count("Exchange")

    assert exchanges_above_cache(skewed_df) == 0
    assert exchanges_above_cache(turnops.extract_turns(skewed_df, num_buckets=8)) == 0


def test_lazy_election_filters_input_below_narrow_stage(
    spark, tmp_path, monkeypatch
):
    """On the lazy path the boundary election must run the narrow stage over
    the routed conversations' input rows only: in the election frame's
    optimized plan the conv_id filter sits below the MapInPandas (a filter
    above it cannot be pushed through, so the election job would re-run the
    narrow stage over the whole input)."""
    from scientific_papers_ocr_spark import pipeline

    path = str(tmp_path / "zipf.parquet")
    fixtures.spark_corpus(spark, 8, seed=42, zipf_max_turns=120).write.parquet(path)
    plans = []
    real = dist.elect_boundaries

    def spy(tagged):
        plans.append(tagged._jdf.queryExecution().optimizedPlan().toString())
        return real(tagged)

    monkeypatch.setattr(dist, "elect_boundaries", spy)
    pipeline.run_pipeline(
        spark, spark.read.parquet(path), output_dir=None, num_buckets=4,
        skew_turn_threshold=10,
    )
    assert len(plans) == 1, plans
    lines = plans[0].splitlines()
    mip = [i for i, ln in enumerate(lines) if "MapInPandas" in ln]
    filters = [i for i, ln in enumerate(lines) if "Filter" in ln and "conv_id" in ln]
    assert len(mip) == 1 and filters, plans[0]
    assert all(i > mip[0] for i in filters), plans[0]
