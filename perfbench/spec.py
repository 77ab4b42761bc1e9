"""Names and units of the benchmark's workloads and metrics (the same lists
as BENCHMARK.json at the repository root, which grades the two pipeline
workloads; README.md says why registry_headline is not graded)."""

WORKLOADS = ("pipeline_uniform", "pipeline_skewed", "registry_headline")
# five of bench.py's 15 QUERIES registry queries: relational, text
# analysis, dedup and the lazy narrow transcript stage (see README.md for the
# ten left out)
QUERIES = (
    "pricing_summary", "broadcast_join_agg", "text_profile", "minhash_candidates",
    "extract_turns",
)
LAYERS = (
    "session", "transcripts", "turns", "oracle", "documents",
    "segment_distributed", "pipeline", "query",
)

END_TO_END = {
    "turns_per_s": "1/s",
    "job_s": "s",
    "setup_s": "s",
}
PER_LAYER = {
    "session.build_s": "s",
    "session.warm_workers_s": "s",
    "transcripts.scan_s": "s",
    "transcripts.write_turns_s": "s",
    "transcripts.write_docs_s": "s",
    "transcripts.write_spans_s": "s",
    "transcripts.files_written": "count",
    "transcripts.bytes_written": "bytes",
    "transcripts.bytes_written_per_input_byte": "ratio",
    "turns.extract_s": "s",
    "turns.tasks": "count",
    "turns.failed_tasks": "count",
    "turns.incomplete": "count",
    "turns.repaired": "count",
    "turns.kernel_share": "ratio",
    "oracle.score_turn_us": "us",
    "oracle.repair_turn_us": "us",
    "oracle.split_blocks_us": "us",
    "oracle.render_clean_us": "us",
    "oracle.segment_document_us": "us",
    "oracle.transcription_us": "us",
    "oracle.edoc_json_us": "us",
    "documents.assemble_s": "s",
    "documents.shuffle_bytes": "bytes",
    "documents.explode_spans_s": "s",
    "segment_distributed.assemble_s": "s",
    "pipeline.skew_probe_s": "s",
    "pipeline.lineage_s": "s",
    "pipeline.lineage_commit_s": "s",
    "pipeline.committed_buckets_s": "s",
    "pipeline.resume_s": "s",
    **{f"query.{q}_s": "s" for q in QUERIES},
    **{f"query.{q}.tasks": "count" for q in QUERIES},
    **{f"self.{layer}_s": "s" for layer in LAYERS},
    "trace.coverage": "ratio",
    "trace.overhead_s": "s",
}
