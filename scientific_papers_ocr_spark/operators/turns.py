"""Per-turn narrow stages: tokenize, verify, repair (SURVEY.md §7 stages 1-3).

All three stages are embarrassingly parallel per row, so they run as ONE
fused ``mapInPandas`` pass — no shuffle, Arrow-batched, whole pipeline stays
inside a single Spark stage regardless of data size.  Skewed
mega-conversations cost nothing here because nothing groups by ``conv_id``
yet.

The Python functions invoked per row are the oracle package itself — the
distributed output is byte-identical to the single-node oracle by
construction; pytest verifies the plumbing (ordering, grouping, repair
routing).
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .. import schemas, worker
from ..oracle import assembly, layout, markup


def _process_batch(
    pdf: pd.DataFrame,
    with_blocks: bool = False,
    page_text_mode: str = "always",
    with_clean_text: bool = True,
) -> pd.DataFrame:
    out: dict[str, list] = {
        "conv_id": [], "turn_idx": [], "page_text": [], "clean_text": [],
        "status": [], "n_blocks": [], "n_incomplete_blocks": [],
        "min_score": [], "meta_json": [],
    }
    if with_blocks:
        out["blocks"] = []
    # bind the output lists (and hot callees) to locals: the loop below runs
    # once per turn and the dict-lookup + attribute-lookup overhead is
    # measurable at the narrow stage's throughput
    conv_ids = out["conv_id"].append
    turn_idxs = out["turn_idx"].append
    page_texts = out["page_text"].append
    clean_texts = out["clean_text"].append
    statuses = out["status"].append
    n_blocks_l = out["n_blocks"].append
    n_incomplete_l = out["n_incomplete_blocks"].append
    min_scores = out["min_score"].append
    meta_jsons = out["meta_json"].append
    blocks_l = out["blocks"].append if with_blocks else None
    score_turn = assembly.score_turn
    split_blocks = markup.split_markdown_into_blocks
    render_clean = markup.render_clean_text
    emit_always = page_text_mode == "always"
    for conv_id, turn_idx, text, tool in zip(
        pdf["conv_id"], pdf["turn_idx"], pdf["text"], pdf["tool"]
    ):
        text = text or ""
        tool = tool or ""
        verdict = score_turn(text, tool)
        page_text = text
        repaired = False
        if verdict["status"] == "incomplete":
            parts = assembly.repair_turn(text, tool)
            if parts is not None:
                page_text = assembly.flatten_parts(parts)
                repaired = True
        blocks = split_blocks(page_text)
        # render from the blocks already computed — clean_turn_text(page_text)
        # would re-split the same page (was ~2x the split cost per turn)
        clean = render_clean(blocks) if with_clean_text else None
        scores = verdict["scores"]
        meta = assembly.extract_turn_meta(tool) if turn_idx == 0 else None
        conv_ids(conv_id)
        turn_idxs(turn_idx)
        page_texts(page_text if (emit_always or repaired) else None)
        clean_texts(clean)
        statuses(verdict["status"])
        n_blocks_l(len(blocks))
        n_incomplete_l(len(verdict["incomplete_blocks"]))
        min_scores(min(scores.values()) if scores else None)
        if blocks_l is not None:
            blocks_l(
                [{"block_type": b["type"], "content": b["content"]} for b in blocks]
            )
        meta_jsons(json.dumps(meta) if meta is not None else None)
    columns = list(out.keys())
    if with_blocks:  # schema order: blocks before meta_json
        columns = [c for c in columns if c not in ("blocks", "meta_json")] + [
            "blocks", "meta_json",
        ]
    return pd.DataFrame(out)[columns]


def extract_turns(
    transcripts: DataFrame,
    num_buckets: int = 64,
    with_blocks: bool = False,
    page_text_mode: str = "always",
    with_clean_text: bool = True,
) -> DataFrame:
    """Transcripts → per-turn extraction records (narrow; zero shuffles).

    ``bucket`` — the lineage/commit partition key — is computed JVM-side as
    ``crc32(conv_id) % num_buckets`` so both engines (and the resume
    anti-join) agree on it without Python round-trips.

    ``with_blocks=True`` additionally materialises the tokenized block
    stream per turn; the default leaves it compute-on-read (the block split
    is computed either way for ``clean_text``; only Arrow transfer + storage
    of the stream is optional).

    ``page_text_mode="repaired_only"`` emits ``page_text`` only when column
    repair actually changed it — the reference's own write contract (page
    ``.mmd`` files are written once; only repaired pages get new part
    payloads, check_transcription.py:141-168), and at scale it keeps
    unchanged page bytes out of the Python→JVM Arrow stream entirely
    (readers reconstruct with ``coalesce(page_text, text)`` against the
    immutable input).  ``with_clean_text=False`` skips producing the cleaned
    rendering (the column stays null).
    """

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        worker.bootstrap()
        for pdf in batches:
            if len(pdf):
                yield _process_batch(
                    pdf,
                    with_blocks=with_blocks,
                    page_text_mode=page_text_mode,
                    with_clean_text=with_clean_text,
                )

    schema = schemas.TURNS_CORE_BLOCKS if with_blocks else schemas.TURNS_CORE
    cols = ["conv_id", "turn_idx", "text", "tool"]
    result = transcripts.select(*cols).mapInPandas(process, schema=schema)
    return result.withColumn(
        "bucket",
        F.pmod(F.crc32(F.col("conv_id")), F.lit(num_buckets)).cast("int"),
    )


def tokenize_blocks(transcripts: DataFrame, num_buckets: int = 64) -> DataFrame:
    """Typed block-stream table on demand (the opt-in heavy column)."""
    return extract_turns(transcripts, num_buckets=num_buckets, with_blocks=True)


def flatten_parts_df(parts: DataFrame) -> DataFrame:
    """S8 part-flatten as a pure DataFrame aggregation: part texts joined
    with a single space in part order, deterministically via
    ``sort_array(collect_list(struct(...)))`` (never shuffle order).

    Reference: check_transcription.py:51-83.
    """
    return parts.groupBy("conv_id", "turn_idx").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("part_idx", "text"))),
                lambda s: s["text"],
            ),
            " ",
        ).alias("text")
    )


def explode_layout_blocks(transcripts: DataFrame) -> DataFrame:
    """Layout side channel → one row per (turn, block): the exploded
    tesseract-analog table used by the relational verification slice
    (bbox aggregation, block classification as column expressions).
    """
    block_schema = (
        "array<struct<level:int,block_num:int,x:int,y:int,w:int,h:int,text:string>>"
    )
    exploded = (
        transcripts.select(
            "conv_id",
            "turn_idx",
            F.explode(F.from_json(F.col("tool"), block_schema)).alias("b"),
        )
        .select("conv_id", "turn_idx", "b.*")
        .where(F.col("level").isNotNull())
    )
    return exploded
