"""Per-conversation wide stage: segmentation + reassembly (SURVEY.md §7
stage 4) — the pipeline's single shuffle.

Both turns-table layouts feed one sorted-stream assembler.  Its input is a
tagged per-turn frame (``tagged_turns``): tag 0 rows carry the immutable
input text, tag 1 (verdict) rows carry the repaired text or null and the
metadata.  Under ``store_page_text="always"`` every row is a verdict row
that carries its own page text.  One exchange on ``bucket`` (a
deterministic function of ``conv_id``) plus ``sortWithinPartitions(conv_id,
turn_idx, tag)`` delivers each conversation whole and turn-ordered, with a
turn's input row just before its verdict row (the sort is load-bearing).
One ``mapInPandas`` walks the sorted Arrow batches, splits conversations
itself with a cross-batch carry, merges each turn's rows and runs the
oracle segmentation + document assembly.

Scale notes (100 TB / 10^12 turns):
- only the assembly columns (page text, metadata) enter the shuffle;
  statuses, block streams and clean text stay in the narrow output table;
- an ordinary conversation is segmented whole, so it must fit in one
  Python worker — same contract as the reference, whose segmentation is
  whole-document by construction.  Mega-conversations (``routed``, see
  ``pipeline.run_pipeline``'s ``skew_turn_threshold``) take the same
  exchange, sort and batch loop, but are streamed page by page through
  ``segment_distributed.Walker`` and never held whole.
"""

from __future__ import annotations

import itertools
import json

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .. import schemas, worker
from ..oracle import assembly, segmentation, textnorm
from . import fastjson, segment_distributed


def _assemble_rows(
    conv_id: str, bucket: int, seg: dict, meta_json: str | None, n_turns: int
) -> dict:
    """One conversation's document row dict, from its segmentation (the
    ``segmentation.segment_document`` result) and first non-null metadata
    cell."""
    meta = json.loads(meta_json) if meta_json else None
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
        "n_turns": n_turns,
        "bucket": bucket,
    }


def tagged_turns(
    verdicts_df: DataFrame, transcripts_df: DataFrame | None = None
) -> DataFrame:
    """The assembler's tagged per-turn frame, column-pruned to what assembly
    reads before the shuffle: the verdict rows of a turns table (tag 1),
    tag-unioned with the input text rows of ``transcripts_df`` (tag 0) when
    the turns table stores only repaired page text
    (``store_page_text="repaired_only"``).  ``transcripts_df`` must carry
    the ``bucket`` column (``pipeline.add_bucket``)."""
    verdicts = verdicts_df.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.lit(1).alias("tag"),
        "page_text",
        "meta_json",
        "bucket",
    )
    if transcripts_df is None:
        return verdicts
    if "bucket" not in transcripts_df.columns:
        raise ValueError(
            "assembling from input requires a 'bucket' column on "
            "transcripts_df — apply pipeline.add_bucket(df, num_buckets) "
            "first (this is a breaking change from the pre-r5 raw-transcripts "
            "signature)"
        )
    inputs = transcripts_df.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.lit(0).alias("tag"),
        F.col("text").alias("page_text"),
        F.lit(None).cast("string").alias("meta_json"),
        F.col("bucket").cast("int").alias("bucket"),
    )
    return inputs.unionByName(verdicts)


def _merge_turns(cols: tuple, lo: int, hi: int, bucket: int) -> tuple:
    """Merge rows ``[lo, hi)`` of one conversation's sorted stream into its
    turns: a turn's page text is its verdict row's repaired text when
    present, else its input row's text.  Returns the turns' indices, pages
    and metadata cells, and the conversation's bucket."""
    tids, tags, texts, metas, buckets = cols
    turns: list = []
    pages: list[str] = []
    meta_cells: list = []
    j = lo
    while j < hi:
        turns.append(tids[j])
        if tags[j] == 0:
            base = texts[j] if texts[j] is not None else ""
            if j + 1 < hi and tags[j + 1] == 1:
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
        else:  # verdict row without an input row: its own page text
            pages.append(texts[j] if texts[j] is not None else "")
            meta_cells.append(metas[j])
            if not pd.isna(buckets[j]):
                bucket = int(buckets[j])
            j += 1
    return turns, pages, meta_cells, bucket


def assemble_sorted(
    tagged: DataFrame,
    routed: dict | None = None,
    emit=None,
    schema=schemas.DOCS_OUT,
) -> DataFrame:
    """The one assembler: exchange the tagged frame on ``bucket``, sort
    each partition by ``(conv_id, turn_idx, tag)``, and walk the sorted
    Arrow batches in one ``mapInPandas``.

    An ordinary conversation is held back while it may continue in the
    next batch (the carry) and then segmented whole.  A conversation in
    ``routed`` (``conv_id`` → its elected boundary hits,
    ``segment_distributed.elect_boundaries``) is streamed instead: each
    batch's complete turns go to its ``segment_distributed.Walker``, and
    only an input row whose verdict row starts the next batch is carried.
    ``emit(walker, final)``, when given, replaces the document row of each
    routed conversation with the rows it returns after every batch (and at
    the conversation's end, ``final``), in ``schema``.

    Crossing the Python boundary once per Arrow batch instead of once per
    conversation group (``applyInPandas``) saves ~10 ms of framing per
    conversation (measured on the bench corpus).  ``bucket`` is the sinks'
    partition key, so the output rows leave the stage already clustered on
    it and the partitioned docs write needs no second exchange
    (``write_partitioned(..., clustered=True)``).  At scale the wide stage's
    parallelism ceiling is ``num_buckets``: size it so a bucket is a few
    hundred MB, like any bucketed table layout.
    """
    routed = routed or {}

    def first_bucket(buckets, i: int) -> int:
        # pd.isna, not `is not None`: Arrow renders a nullable int column as
        # float64 + NaN, and `NaN is not None` is True — an identity guard
        # would crash in int(NaN) instead of falling back (a null conv_id
        # makes crc32 null upstream)
        return 0 if pd.isna(buckets[i]) else int(buckets[i])

    def walked_rows(w: segment_distributed.Walker) -> list[dict]:
        if emit is not None:
            return emit(w, True)
        return [_assemble_rows(w.conv_id, w.bucket, w.finish(), w.meta, w.n)]

    def process(batches):
        worker.bootstrap()
        carry: pd.DataFrame | None = None
        walker: segment_distributed.Walker | None = None
        # a trailing None marks the end of the stream: the carry is final
        for pdf in itertools.chain(batches, [None]):
            final = pdf is None
            if carry is not None:
                pdf = carry if final else pd.concat([carry, pdf], ignore_index=True)
                carry = None
            n = 0 if pdf is None else len(pdf)
            if not n and not final:
                continue
            if n:
                cids = pdf["conv_id"].values
                cols = tuple(
                    pdf[c].values
                    for c in ("turn_idx", "tag", "page_text", "meta_json", "bucket")
                )
            out: list[dict] = []
            if walker is not None and (not n or cids[0] != walker.conv_id):
                out += walked_rows(walker)
                walker = None
            lo = 0
            while lo < n:
                cid = cids[lo]
                hi = lo + 1
                while hi < n and cids[hi] == cid:
                    hi += 1
                # rows are sorted by conv_id: the trailing conversation may
                # continue in the next batch
                open_end = hi == n and not final
                if cid in routed:
                    if walker is None:
                        walker = segment_distributed.Walker(
                            cid, routed[cid], keep_pages=emit is None
                        )
                        walker.bucket = first_bucket(cols[-1], lo)
                    cut = hi - 1 if open_end and cols[1][hi - 1] == 0 else hi
                    turns, pages, metas, walker.bucket = _merge_turns(
                        cols, lo, cut, walker.bucket
                    )
                    for t, p, m in zip(turns, pages, metas):
                        walker.feed(t, p, m)
                    if not open_end:
                        out += walked_rows(walker)
                        walker = None
                    elif cut < hi:
                        carry = pdf.iloc[cut:]
                elif open_end:
                    carry = pdf.iloc[lo:]
                else:
                    _, pages, metas, bucket = _merge_turns(
                        cols, lo, hi, first_bucket(cols[-1], lo)
                    )
                    meta = next((m for m in metas if m), None)
                    out.append(
                        _assemble_rows(
                            cid, bucket, segmentation.segment_document(pages),
                            meta, len(pages),
                        )
                    )
                lo = hi
            if walker is not None and emit is not None:
                out += emit(walker, False)
            if out:
                yield pd.DataFrame(out)

    return (
        tagged.repartition("bucket")
        .sortWithinPartitions("conv_id", "turn_idx", "tag")
        .mapInPandas(process, schema=schema)
    )


def assemble_documents(turns_out: DataFrame) -> DataFrame:
    """Per-turn records that carry their own page text
    (``store_page_text="always"``) → one document row per conversation."""
    return assemble_sorted(tagged_turns(turns_out))


def assemble_documents_from_input(
    transcripts_df: DataFrame, verdicts_df: DataFrame
) -> DataFrame:
    """Single-shuffle assembly for the 100 TB table layout where the turns
    table stores ``page_text`` only for REPAIRED turns
    (``store_page_text="repaired_only"``, never a second copy of the
    immutable input text).

    The input text rows (tag 0) are tag-unioned with the verdict rows and
    assembled in one pass: page bytes cross the exchange exactly once.  This
    is a hand-rolled shuffle-merge join that exploits both sides carrying
    the same ``bucket`` (the ``add_bucket``/``extract_turns`` contract); a
    real join would shuffle the text a second time for the join hash.

    ``transcripts_df`` must carry the ``bucket`` column (``add_bucket``).
    """
    return assemble_sorted(tagged_turns(verdicts_df, transcripts_df))


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
