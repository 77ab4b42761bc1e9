"""Spark SQL schemas for the transcript-extraction tables (SURVEY.md §1.2)."""

from __future__ import annotations

from pyspark.sql import types as T

# Input: Iceberg-style transcripts table (BASELINE.json input_hint)
TRANSCRIPTS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

# Per-turn extraction output (stage 1-3): verification status, repaired page
# text, boilerplate-stripped clean text, typed block stream.
BLOCK = T.StructType(
    [
        T.StructField("block_type", T.StringType(), False),
        T.StructField("content", T.StringType(), True),
    ]
)

SPAN_TOKEN = T.StructType(
    [
        T.StructField("span_type", T.StringType(), False),
        T.StructField("content", T.StringType(), True),
        T.StructField("annotation", T.StringType(), True),
    ]
)

# Default turns table: the per-turn extraction products.  The tokenized
# block stream (``blocks``) is OPT-IN: at 10^12-turn scale it triples the
# output lake and the Arrow/write bandwidth for a column most consumers
# derive on read (``extract_turns(with_blocks=True)`` / ``tokenize_blocks``).
TURNS_OUT = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("page_text", T.StringType(), True),
        T.StructField("clean_text", T.StringType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("n_blocks", T.IntegerType(), False),
        T.StructField("n_incomplete_blocks", T.IntegerType(), False),
        T.StructField("min_score", T.IntegerType(), True),
        T.StructField("meta_json", T.StringType(), True),
        T.StructField("bucket", T.IntegerType(), False),
    ]
)

TURNS_OUT_BLOCKS = T.StructType(
    TURNS_OUT.fields[:-2]
    + [T.StructField("blocks", T.ArrayType(BLOCK), True)]
    + TURNS_OUT.fields[-2:]
)

# mapInPandas output (bucket added afterwards JVM-side from conv_id)
TURNS_CORE = T.StructType([f for f in TURNS_OUT.fields if f.name != "bucket"])
TURNS_CORE_BLOCKS = T.StructType(
    [f for f in TURNS_OUT_BLOCKS.fields if f.name != "bucket"]
)

POSITION = T.StructType(
    [
        T.StructField("turn_idx", T.IntegerType(), True),
        T.StructField("pos", T.IntegerType(), True),
    ]
)

SECTION = T.StructType(
    [
        T.StructField("section_key", T.IntegerType(), False),
        T.StructField("start", POSITION, True),
        T.StructField("end", POSITION, True),
        T.StructField("title", T.StringType(), True),
        T.StructField("number", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
    ]
)

REFERENCE_ENTRY = T.StructType(
    [
        T.StructField("ref_number", T.IntegerType(), False),
        T.StructField("raw", T.StringType(), True),
    ]
)

DOCS_OUT = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("title", T.StringType(), True),
        T.StructField("transcription", T.StringType(), True),
        T.StructField("edoc_json", T.StringType(), True),
        T.StructField("abstract_text", T.StringType(), True),
        T.StructField("sections", T.ArrayType(SECTION), True),
        T.StructField("references", T.ArrayType(REFERENCE_ENTRY), True),
        T.StructField("n_sections", T.IntegerType(), False),
        T.StructField("n_refs", T.IntegerType(), False),
        T.StructField("n_turns", T.IntegerType(), False),
        T.StructField("bucket", T.IntegerType(), False),
    ]
)

# ``run_pipeline(...)["spans"]`` on both paths: the column order and
# nullability of a bucket-partitioned parquet read-back (``bucket`` last)
SPANS_OUT = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), True),
        T.StructField("span_idx", T.IntegerType(), True),
        T.StructField("span_type", T.StringType(), True),
        T.StructField("start_turn", T.IntegerType(), True),
        T.StructField("start_pos", T.IntegerType(), True),
        T.StructField("end_turn", T.IntegerType(), True),
        T.StructField("end_pos", T.IntegerType(), True),
        T.StructField("title", T.StringType(), True),
        T.StructField("number", T.StringType(), True),
        T.StructField("bucket", T.IntegerType(), True),
    ]
)

# Per-partition lineage row (north rule: checkpoint-resumable restarts)
LINEAGE = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("n_convs", T.LongType(), False),
        T.StructField("n_turns", T.LongType(), False),
        T.StructField("n_complete", T.LongType(), False),
        T.StructField("n_incomplete", T.LongType(), False),
        T.StructField("n_missing", T.LongType(), False),
        T.StructField("n_unverified", T.LongType(), False),
        T.StructField("checksum", T.LongType(), False),
        T.StructField("committed_at", T.TimestampType(), False),
    ]
)
