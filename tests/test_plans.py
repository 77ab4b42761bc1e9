"""Physical-plan assertions — the scale properties are part of the contract:
no shuffle in the narrow stage, exactly one exchange feeding the wide stage,
broadcast where a broadcast was asked for, filter/column pushdown into scans.
"""

import os

import pytest
from pyspark.sql import functions as F

from scientific_papers_ocr_spark import queries as Q
from scientific_papers_ocr_spark.operators import documents as docops, turns as turnops
from scientific_papers_ocr_spark.sources import transcripts as tsrc

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def corpus(spark):
    return tsrc.corpus_dataframe(spark, num_convs=8, seed=11)


def test_narrow_stage_has_no_exchange(spark, corpus):
    turns_out = turnops.extract_turns(corpus, num_buckets=8)
    assert "Exchange" not in _plan(turns_out)


def test_wide_stage_has_single_exchange(spark, corpus):
    docs = docops.assemble_documents(turnops.extract_turns(corpus, num_buckets=8))
    plan = _plan(docs)
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_broadcast_join_is_broadcast(spark):
    df = Q.q_broadcast_join_agg(spark, SF)
    assert "BroadcastHashJoin" in _plan(df)


def test_anti_join_resume_is_broadcast_anti(spark):
    df = Q.q_anti_join_resume(spark, SF)
    plan = _plan(df)
    assert "LeftAnti" in plan
    assert "Broadcast" in plan


def test_filter_pushdown_reaches_scan(spark):
    df = Q.q_pricing_summary(spark, SF)
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_column_pruning_in_scan(spark):
    df = Q.q_token_count(spark, SF)
    plan = _plan(df)
    # only doc_id and text should be read, not lang/source/n_chars
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "lang" not in read_schema and "n_chars" not in read_schema


def test_blocks_column_is_opt_in(spark, corpus):
    assert "blocks" not in turnops.extract_turns(corpus, num_buckets=8).columns
    assert "blocks" in turnops.tokenize_blocks(corpus, num_buckets=8).columns


def test_assembly_input_is_column_pruned(spark, corpus):
    # the wide stage must not shuffle blocks/clean_text (pruned before the
    # exchange) even when the heavy block column was materialised
    docs = docops.assemble_documents(
        turnops.extract_turns(corpus, num_buckets=8, with_blocks=True)
    )
    plan = _plan(docs)
    after_exchange = plan.split("Exchange hashpartitioning")[1].splitlines()
    # the first Project below the exchange is what actually gets shuffled;
    # it must carry only the assembly columns, not the block streams
    projects = [ln for ln in after_exchange if "Project [" in ln]
    assert projects, plan
    assert "blocks" not in projects[0], projects[0]
    assert "page_text" in projects[0], projects[0]


def test_topk_is_take_ordered(spark):
    df = Q.q_embedding_topk(spark, SF)
    assert "TakeOrderedAndProject" in _plan(df)


def test_ann_topk_broadcasts_query_and_takes_ordered(spark):
    """The 1-row query dim must broadcast (never shuffle the fact side) and
    the final top-k must be TakeOrderedAndProject, not a global sort; no
    driver collect means no LocalTableScan of a collected row."""
    df = Q.q_ann_topk(spark, SF)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_ann_topk_pruned_scan_is_partition_pruned(spark):
    """The ingest-materialised ANN layout must probe via PARTITION PRUNING:
    the fact scan's PartitionFilters must carry a dynamic-pruning predicate
    on lsh_bucket (fed by the broadcast probe-bucket dim), and the fact scan
    must be the bucket-partitioned ingest path, not the raw embeddings
    table.  This is the 100 TB probe shape similarity.py promises."""
    df = Q.q_ann_topk_pruned(spark, SF)
    plan = _plan(df)
    fact_scans = [
        ln for ln in plan.split("\n")
        if "FileScan" in ln and "embeddings_by_lsh" in ln
    ]
    assert fact_scans, plan
    assert any(
        "dynamicpruning" in ln and "PartitionFilters" in ln for ln in fact_scans
    ), fact_scans
    assert "TakeOrderedAndProject" in plan


def test_ann_topk_pruned_matches_unpruned(spark):
    """Partition-pruned probe returns byte-identical results to the
    recompute-every-bucket ann_topk on the same data."""
    a = Q.q_ann_topk(spark, SF).collect()
    b = Q.q_ann_topk_pruned(spark, SF).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_ivf_topk_pruned_scan_is_partition_pruned(spark):
    """The IVF ingest layout must probe via partition pruning on ivf_cell,
    exactly like the LSH layout does on lsh_bucket."""
    df = Q.q_ivf_topk_pruned(spark, SF)
    plan = _plan(df)
    fact_scans = [
        ln for ln in plan.split("\n")
        if "FileScan" in ln and "embeddings_by_ivf" in ln
    ]
    assert fact_scans, plan
    assert any(
        "dynamicpruning" in ln and "PartitionFilters" in ln for ln in fact_scans
    ), fact_scans
    assert "TakeOrderedAndProject" in plan


def test_ivf_topk_pruned_matches_unpruned(spark):
    a = Q.q_ivf_topk(spark, SF).collect()
    b = Q.q_ivf_topk_pruned(spark, SF).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_ref_enrichment_broadcasts_catalog_no_fact_shuffle(spark):
    """The enrichment catalog is the only side that may shuffle (its dedup
    aggregation); the refs fact side must reach the join via broadcast hash
    joins, never a sort-merge join (which would shuffle the fact table)."""
    df = Q.q_ref_enrichment(spark, SF)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_knn_pairs_join_is_bucketed_not_cartesian(spark):
    df = Q.q_embedding_knn_pairs(spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    # equi-join on the lsh bucket id
    assert "lsh_bucket" in plan


def test_paper_narrow_stage_has_no_exchange(spark):
    """The flagship extract_turns over documents_as_papers: page synthesis
    (explode) + pandas narrow stage must compile to a zero-exchange plan."""
    tr = Q.documents_as_papers(spark, SF)
    out = turnops.extract_turns(tr, num_buckets=16)
    assert "Exchange" not in _plan(out)


def test_no_cartesian_product_in_any_registry_query(spark):
    """Sweep guard: no registry query may compile to a CartesianProduct —
    1-row dims must broadcast (BroadcastNestedLoopJoin), everything else
    joins on keys."""
    offenders = []
    for name, (fn, _sql) in Q.REGISTRY.items():
        plan = _plan(fn(spark, SF))
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert offenders == [], offenders


def test_routed_pipeline_fast_path_single_exchange(spark, corpus):
    """run_pipeline with skew routing enabled but no oversized convs must
    still compile the docs side to the single-exchange fast path."""
    from scientific_papers_ocr_spark import pipeline

    docs = pipeline.run_pipeline(
        spark, corpus, output_dir=None, num_buckets=8, skew_turn_threshold=32768
    )["docs"]
    assert _plan(docs).count("Exchange hashpartitioning") == 1


def test_lazy_spans_run_each_python_stage_once(spark):
    """The lazy spans frame reads the docs frame once: its plan holds one
    narrow-stage and one assembly ``MapInPandas``, not a second copy of
    both."""
    from scientific_papers_ocr_spark import pipeline

    corpus6 = tsrc.corpus_dataframe(spark, num_convs=6, seed=11)
    spans = pipeline.run_pipeline(spark, corpus6, output_dir=None, num_buckets=8)["spans"]
    plan = _plan(spans)
    assert plan.count("MapInPandas") == 2, plan


def test_small_bucketed_scan_is_not_over_split(spark, tmp_path):
    """A few-MB, 16-file bucket-partitioned table scans in at most one split
    per core: small scans keep Spark's byte-based split sizing."""
    from scientific_papers_ocr_spark import fixtures, pipeline

    path = str(tmp_path / "transcripts")
    corpus = fixtures.spark_corpus(spark, num_convs=200, seed=5, turns_per_conv=40)
    tsrc.write_partitioned(pipeline.add_bucket(corpus, 16), path)
    files = [
        os.path.join(d, f)
        for d, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    ]
    assert len(files) == 16
    assert 1 << 20 < sum(os.path.getsize(f) for f in files) < 16 << 20
    scan = spark.read.parquet(path)
    assert scan.rdd.getNumPartitions() <= spark.sparkContext.defaultParallelism
