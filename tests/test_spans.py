"""``explode_spans`` builds the span table from one scan of the docs table;
it must equal the two-branch form it replaced (an abstract-row branch
unioned with a ``posexplode`` of the sections), schema and rows alike."""

import pytest
from pyspark.sql import functions as F

from scientific_papers_ocr_spark import schemas
from scientific_papers_ocr_spark.operators import documents as docops


def _two_branch_spans(docs_out):
    section_spans = docs_out.select(
        "conv_id", "bucket", F.posexplode("sections").alias("ordinal", "s")
    ).select(
        "conv_id",
        "bucket",
        (F.col("ordinal") + F.lit(2)).alias("span_idx"),
        F.lit("section").alias("span_type"),
        F.col("s.start.turn_idx").alias("start_turn"),
        F.col("s.start.pos").alias("start_pos"),
        F.col("s.end.turn_idx").alias("end_turn"),
        F.col("s.end.pos").alias("end_pos"),
        F.col("s.title").alias("title"),
        F.col("s.number").alias("number"),
    )
    abstract_spans = docs_out.where(F.col("abstract_text").isNotNull()).select(
        "conv_id",
        "bucket",
        F.lit(1).alias("span_idx"),
        F.lit("abstract").alias("span_type"),
        F.lit(None).cast("int").alias("start_turn"),
        F.lit(None).cast("int").alias("start_pos"),
        F.lit(None).cast("int").alias("end_turn"),
        F.lit(None).cast("int").alias("end_pos"),
        F.lit("Abstract").alias("title"),
        F.lit(None).cast("string").alias("number"),
    )
    return abstract_spans.unionByName(section_spans)


def _section(key, turn):
    return (key, (turn, 3 * key), (turn + 1, None), f"S{key}", None if key % 2 else str(key), "body")


def _doc(conv_id, abstract, sections, bucket):
    n = len(sections or [])
    return (conv_id, "t", "tr", "{}", abstract, sections, None, n, 0, 3, bucket)


DOCS = [
    _doc("abs-and-sections", "abstract", [_section(0, 1), _section(1, 2), _section(2, 4)], 0),
    _doc("sections-only", None, [_section(0, 0)], 1),
    _doc("abs-empty-sections", "abstract", [], 2),
    _doc("abs-null-sections", "abstract", None, 3),
    _doc("nothing-null", None, None, 3),
    _doc("nothing-empty", None, [], 1),
]


@pytest.fixture(scope="module")
def docs_frames(spark, tmp_path_factory):
    in_memory = spark.createDataFrame(DOCS, schemas.DOCS_OUT)
    path = str(tmp_path_factory.mktemp("spans") / "docs")
    in_memory.write.partitionBy("bucket").parquet(path)
    # the pipeline's read-back: explicit schema, all columns nullable
    return {"in_memory": in_memory, "scan": spark.read.schema(schemas.DOCS_OUT).parquet(path)}


@pytest.mark.parametrize("source", ["in_memory", "scan"])
def test_one_scan_spans_equal_two_branch_form(docs_frames, source):
    docs = docs_frames[source]
    got, want = docops.explode_spans(docs), _two_branch_spans(docs)
    assert [(f.name, f.dataType, f.nullable) for f in got.schema] == [
        (f.name, f.dataType, f.nullable) for f in want.schema
    ]
    got_rows, want_rows = got.collect(), want.collect()
    assert sorted(got_rows) == sorted(want_rows)
    # every case contributes: 1 + 3, 1, 1, 1, 0, 0
    assert len(got_rows) == 7


def test_spans_read_docs_once(docs_frames):
    plan = docops.explode_spans(docs_frames["scan"])._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1, plan
