"""Per-conversation wide stage: segmentation + reassembly (SURVEY.md §7
stage 4) — the pipeline's single shuffle.

One exchange on ``bucket`` (a deterministic function of ``conv_id``) plus
``sortWithinPartitions(conv_id, turn_idx)`` delivers each conversation's
per-turn records whole and turn-ordered (the sort is load-bearing); one
``mapInPandas`` walks the sorted batches, splitting conversations itself
with a cross-batch carry, and runs the oracle segmentation + document
assembly.

Scale notes (100 TB / 10^12 turns):
- the map side emits compact per-turn records (page text + status), not raw
  payload copies;
- a conversation must fit in one executor's memory — same contract as the
  reference, whose segmentation is whole-document by construction.  For
  pathological mega-conversations, ``prune_for_assembly`` (below) bounds what
  enters the shuffle: only the columns segmentation needs.
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .. import schemas, worker
from ..oracle import assembly, segmentation, textnorm
from . import fastjson


def prune_for_assembly(turns_out: DataFrame) -> DataFrame:
    """Column-prune the per-turn table to the assembly inputs before the
    shuffle (page text, status, metadata) — everything else (block streams,
    clean text) stays in the narrow output table and never shuffles."""
    return turns_out.select(
        "conv_id", "turn_idx", "page_text", "status", "meta_json", "bucket"
    )


def _assemble_rows(
    conv_id: str,
    bucket: int,
    pages: list[str],
    meta_cells: list,
) -> dict:
    """Assemble one conversation into a document row dict (pages already
    turn-ordered)."""
    meta = None
    for m in meta_cells:
        if m:
            meta = json.loads(m)
            break

    seg = segmentation.segment_document(pages)
    title = (meta or {}).get("title")
    authors = assembly._author_tuples(meta)
    creation_date = (meta or {}).get("creation_date")
    transcription = assembly.generate_transcription(
        seg["sections"], title, authors, seg["abstract"], seg["references"],
        include_references=True,
    )
    # byte-identical fast path for json.dumps(..., indent=4); the oracle
    # keeps stdlib json, so every byte-parity test cross-checks this
    edoc_json = fastjson.dumps_indent4(
        assembly.edoc_dict(
            seg["sections"], title, authors, creation_date,
            seg["abstract"], seg["references"], conv_id=conv_id,
            keywords=textnorm.split_keywords((meta or {}).get("keywords")),
        )
    )
    sections = [
        {
            "section_key": k,
            "start": {"turn_idx": s["start_page"], "pos": s["start_pos"]},
            "end": {"turn_idx": s["end_page"], "pos": s["end_pos"]},
            "title": s["title"],
            "number": s["number"],
            "text": s["text"],
        }
        for k, s in seg["sections"].items()
    ]
    refs = seg["references"]
    references = (
        [{"ref_number": n, "raw": raw} for n, raw in sorted(refs["entries"].items())]
        if refs
        else []
    )
    return {
        "conv_id": conv_id,
        "title": title,
        "transcription": transcription,
        "edoc_json": edoc_json,
        "abstract_text": seg["abstract"]["text"] if seg["abstract"] else None,
        "sections": sections,
        "references": references,
        "n_sections": len(sections),
        "n_refs": len(references),
        "n_turns": len(pages),
        "bucket": bucket,
    }


def _assemble_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """applyInPandas adapter (reference implementation; the production path
    is ``assemble_documents``'s batched mapInPandas)."""
    pdf = pdf.sort_values("turn_idx")
    row = _assemble_rows(
        pdf["conv_id"].iloc[0],
        int(pdf["bucket"].iloc[0]),
        [t if t is not None else "" for t in pdf["page_text"]],
        list(pdf["meta_json"]),
    )
    return pd.DataFrame({k: [v] for k, v in row.items()})


def assemble_documents_grouped(turns_out: DataFrame) -> DataFrame:
    """Per-conv assembly via ``groupBy().applyInPandas`` — semantically the
    spec, but pays ~10ms/group framing overhead (measured), which dominates
    when conversations are small.  Kept for A/B testing against the batched
    path below."""
    return (
        prune_for_assembly(turns_out)
        .groupBy("conv_id")
        .applyInPandas(_assemble_group, schema=schemas.DOCS_OUT)
    )


def assemble_documents(turns_out: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Per-turn records → one document row per conversation.

    Physical strategy: hash-repartition on ``bucket`` +
    ``sortWithinPartitions(conv_id, turn_idx)`` + ONE ``mapInPandas`` that
    walks each Arrow batch and splits conversations itself, carrying the
    trailing (possibly batch-straddling) conversation into the next batch.
    Same single shuffle as ``applyInPandas``, but per-conversation overhead
    drops from per-group protocol framing to a pandas slice — ~10x faster on
    small-conversation corpora (measured on the bench corpus).

    The exchange key is ``bucket`` — a deterministic function of ``conv_id``
    (``crc32(conv_id) % num_buckets``, see ``pipeline.add_bucket``) — so
    conversations still land whole in one partition, and the output rows
    leave the stage ALREADY clustered on the sink's partition key: the docs
    (and downstream spans) partitioned writes need no second exchange
    (``write_partitioned(..., clustered=True)``).  One partitioning serves
    the shuffle, the sinks, and the resume protocol's commit granularity.
    At scale the parallelism ceiling of the wide stage is ``num_buckets`` —
    size it so a bucket is a few hundred MB (the same contract as any
    bucketed table layout).
    """
    pruned = prune_for_assembly(turns_out)

    def process(batches):
        worker.bootstrap()
        carry: pd.DataFrame | None = None

        def assemble_span(pdf: pd.DataFrame, lo: int, hi: int) -> dict:
            cid = pdf["conv_id"].iat[lo]
            return _assemble_rows(
                cid,
                int(pdf["bucket"].iat[lo]),
                [t if t is not None else "" for t in pdf["page_text"].iloc[lo:hi]],
                list(pdf["meta_json"].iloc[lo:hi]),
            )

        def emit(pdf: pd.DataFrame) -> pd.DataFrame:
            rows = []
            cids = pdf["conv_id"].values
            lo = 0
            for i in range(1, len(cids) + 1):
                if i == len(cids) or cids[i] != cids[lo]:
                    rows.append(assemble_span(pdf, lo, i))
                    lo = i
            return pd.DataFrame(rows)

        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if not len(pdf):
                continue
            cids = pdf["conv_id"].values
            last = cids[-1]
            # rows are sorted by conv_id: the trailing conv may continue in
            # the next batch — hold it back
            split = len(cids)
            while split > 0 and cids[split - 1] == last:
                split -= 1
            carry = pdf.iloc[split:].reset_index(drop=True)
            if split:
                yield emit(pdf.iloc[:split])
        if carry is not None and len(carry):
            yield emit(carry)

    arranged = (
        pruned.repartition(num_partitions, "bucket")
        if num_partitions
        else pruned.repartition("bucket")
    ).sortWithinPartitions("conv_id", "turn_idx")
    return arranged.mapInPandas(process, schema=schemas.DOCS_OUT)


def assemble_documents_from_input(
    transcripts_df: DataFrame,
    verdicts_df: DataFrame,
    num_partitions: int | None = None,
) -> DataFrame:
    """Single-shuffle assembly for the 100 TB table layout where the turns
    table stores ``page_text`` only for REPAIRED turns (never a second copy
    of the immutable input text).

    Physical strategy: tag-union the input text rows (tag 0) with the small
    verdict rows (tag 1, repaired text or null), hash-repartition ONCE on
    ``bucket`` (a deterministic function of ``conv_id`` — both sides carry
    the same value by the ``add_bucket``/``extract_turns`` contract, so
    conversations still co-locate whole), ``sortWithinPartitions(conv_id,
    turn_idx, tag)``, and merge pairs inside the same batched carry pass as
    ``assemble_documents`` — page bytes cross the exchange exactly once, and
    a join (which would shuffle the text a second time for the join hash
    plus again for the assembly partitioning) never happens.  This is a
    hand-rolled shuffle-merge join exploiting that both sides share the
    partitioning key, and the output leaves the stage clustered on the
    sinks' partition key (``write_partitioned(..., clustered=True)``).

    ``transcripts_df`` must carry the ``bucket`` column (``add_bucket``).
    """
    if "bucket" not in transcripts_df.columns:
        raise ValueError(
            "assemble_documents_from_input requires a 'bucket' column on "
            "transcripts_df — apply pipeline.add_bucket(df, num_buckets) "
            "first (this is a breaking change from the pre-r5 raw-transcripts "
            "signature)"
        )
    inputs = transcripts_df.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.lit(0).alias("tag"),
        F.col("text").alias("page_text"),
        F.lit(None).cast("string").alias("status"),
        F.lit(None).cast("string").alias("meta_json"),
        F.col("bucket").cast("int").alias("bucket"),
    )
    verdicts = verdicts_df.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.lit(1).alias("tag"),
        "page_text",
        "status",
        "meta_json",
        "bucket",
    )
    unioned = inputs.unionByName(verdicts)

    def process(batches):
        worker.bootstrap()
        carry: pd.DataFrame | None = None

        def emit(pdf: pd.DataFrame) -> pd.DataFrame:
            rows = []
            # merge (tag 0, tag 1) row pairs per turn: effective page text is
            # the verdict's repaired text when present, else the input text
            cids = pdf["conv_id"].values
            tags = pdf["tag"].values
            texts = pdf["page_text"].values
            metas = pdf["meta_json"].values
            buckets = pdf["bucket"].values
            lo = 0
            for i in range(1, len(cids) + 1):
                if i == len(cids) or cids[i] != cids[lo]:
                    pages: list[str] = []
                    meta_cells: list = []
                    # pd.isna, not `is not None`: Arrow renders a nullable int
                    # column as float64 + NaN, and `NaN is not None` is True —
                    # an identity guard would crash in int(NaN) instead of
                    # falling back (a null conv_id makes crc32 null upstream)
                    bucket = 0 if pd.isna(buckets[lo]) else int(buckets[lo])
                    j = lo
                    while j < i:
                        if tags[j] == 0:
                            base = texts[j] if texts[j] is not None else ""
                            if j + 1 < i and tags[j + 1] == 1:
                                v = texts[j + 1]
                                pages.append(v if v is not None else base)
                                meta_cells.append(metas[j + 1])
                                if not pd.isna(buckets[j + 1]):
                                    bucket = int(buckets[j + 1])
                                j += 2
                            else:  # verdict row missing (shouldn't happen)
                                pages.append(base)
                                meta_cells.append(None)
                                j += 1
                        else:  # orphan verdict row
                            pages.append(texts[j] if texts[j] is not None else "")
                            meta_cells.append(metas[j])
                            if not pd.isna(buckets[j]):
                                bucket = int(buckets[j])
                            j += 1
                    rows.append(
                        _assemble_rows(cids[lo], bucket, pages, meta_cells)
                    )
                    lo = i
            return pd.DataFrame(rows)

        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if not len(pdf):
                continue
            cids = pdf["conv_id"].values
            last = cids[-1]
            split = len(cids)
            while split > 0 and cids[split - 1] == last:
                split -= 1
            carry = pdf.iloc[split:].reset_index(drop=True)
            if split:
                yield emit(pdf.iloc[:split])
        if carry is not None and len(carry):
            yield emit(carry)

    arranged = (
        unioned.repartition(num_partitions, "bucket")
        if num_partitions
        else unioned.repartition("bucket")
    ).sortWithinPartitions("conv_id", "turn_idx", "tag")
    return arranged.mapInPandas(process, schema=schemas.DOCS_OUT)


def explode_spans(docs_out: DataFrame) -> DataFrame:
    """Document rows → span table (abstract + sections + references start),
    one row per detected span with stable ``(turn_idx, pos)`` coordinates.

    One projection over one scan of ``docs_out``: each document's abstract
    entry (when it has one) and its section entries are built as one array
    of span structs and inlined, so the docs input is read — and, on the
    lazy path, its assembly computed — once.
    """
    null_int = F.lit(None).cast("int")
    abstract = F.filter(
        F.array(
            F.struct(
                F.lit(1).alias("span_idx"),
                F.lit("abstract").alias("span_type"),
                null_int.alias("start_turn"),
                null_int.alias("start_pos"),
                null_int.alias("end_turn"),
                null_int.alias("end_pos"),
                F.lit("Abstract").alias("title"),
                F.lit(None).cast("string").alias("number"),
            )
        ),
        lambda _: F.col("abstract_text").isNotNull(),
    )
    sections = F.transform(
        F.coalesce("sections", F.array()),
        lambda s, i: F.struct(
            (i + 2).alias("span_idx"),
            F.lit("section").alias("span_type"),
            s["start"]["turn_idx"].alias("start_turn"),
            s["start"]["pos"].alias("start_pos"),
            s["end"]["turn_idx"].alias("end_turn"),
            s["end"]["pos"].alias("end_pos"),
            s["title"].alias("title"),
            s["number"].alias("number"),
        ),
    )
    return docs_out.select(
        "conv_id", "bucket", F.inline(F.concat(abstract, sections))
    )


def reassemble_text(turns_out: DataFrame) -> DataFrame:
    """A5 page reassembly as a pure DataFrame aggregation (no pandas): page
    texts joined with a single space in turn order, deterministic via
    ``array_sort(collect_list(struct(...)))``.

    Reference: check_transcription.py:104-118.  For mega-conversations whose
    single aggregation state would outgrow an executor, use the two-level
    (salted partial concat → final concat) variant ``reassemble_text_salted``.
    """
    return turns_out.groupBy("conv_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("turn_idx", "page_text"))),
                lambda s: s["page_text"],
            ),
            " ",
        ).alias("doc_text")
    )


def reassemble_text_salted(turns_out: DataFrame, salt_buckets: int = 16) -> DataFrame:
    """Two-level skew-safe reassembly: partial in-order concat per
    ``(conv_id, turn_idx // range)`` salt bucket, then final concat of the
    (far fewer, pre-aggregated) partials per conversation.  Keeps any single
    aggregation state bounded for 10^5+-turn conversations (north-rule skew
    handling).
    """
    range_size = 1024
    partial = (
        turns_out.withColumn("salt", (F.col("turn_idx") / F.lit(range_size)).cast("int"))
        .groupBy("conv_id", "salt")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("turn_idx", "page_text"))),
                    lambda s: s["page_text"],
                ),
                " ",
            ).alias("partial_text")
        )
    )
    return partial.groupBy("conv_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("salt", "partial_text"))),
                lambda s: s["partial_text"],
            ),
            " ",
        ).alias("doc_text")
    )
