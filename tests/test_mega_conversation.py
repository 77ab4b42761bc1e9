"""The walker path at its DESIGN regime: conversations that genuinely
cannot be segmented whole (10^5+ turns, above the 32768 routing threshold).

Two claims, each evidenced at its actual regime:

1. **Parity**: at 120k turns, streaming the conversation page by page
   through ``segment_distributed``'s walker is byte-identical to the
   whole-conversation oracle path, column for column.
2. **Bounded task memory**: at 400k turns, under a HARD per-worker memory cap
   (``spark.executor.pyspark.memory`` → RLIMIT_AS, 450 MB), every
   segmentation output (boundaries, sections, references) completes — the
   boundary election scans one page at a time, and the walker holds one
   Arrow batch, the open section's pages and at most one pending reference
   entry, emitting each section as it closes — while the
   whole-conversation path, whose single task must materialise the entire
   ~240 MB conversation in pandas, FAILS under the same cap.  The cap turns
   the memory claim into a pass/fail experiment instead of an RSS
   heuristic.  (The full doc-row build is excluded from the capped run: a
   DOCS_OUT row carries the complete ``transcription`` by schema, so
   materialising it is O(document) on any engine — the bounded contract
   belongs to the segmentation phase.)

Marked slow: subprocess Spark sessions over 120k/400k-turn conversations.
"""

import os
import subprocess
import sys
import textwrap

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PARITY_TURNS = 120_000
CAP_TURNS = 400_000
WORKER_CAP = "450m"

_CAPPED_RUNNER = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, {repo!r})
    from pyspark.sql import functions as F
    from scientific_papers_ocr_spark.session import build_session
    from scientific_papers_ocr_spark.operators import (
        documents as docops,
        segment_distributed as dist,
        turns as turnops,
    )
    from scientific_papers_ocr_spark.sources import transcripts as tsrc

    mode, src, cap = sys.argv[1:4]
    spark = build_session(
        app_name=f"mega-cap-{{mode}}",
        cores=4,
        shuffle_partitions=8,
        extra_conf={{"spark.executor.pyspark.memory": cap}},
    )
    t = turnops.extract_turns(tsrc.read_transcripts(spark, src), num_buckets=8)
    if mode == "whole":
        n = docops.assemble_documents(t).count()
        print("RESULT whole ok", n, flush=True)
    else:
        parts = dist.segment_documents_distributed(t)
        nb = parts["boundaries"].count()
        ns = parts["sections"].count()
        nr = parts["references"].count()
        assert nb >= 1 and ns >= 1 and nr >= 1, (nb, ns, nr)
        print("RESULT seg ok", nb, ns, nr, flush=True)
    spark.stop()
    """
)


@pytest.mark.slow
def test_distributed_assembler_parity_at_design_regime(spark, tmp_path):
    """120k-turn conversation: distributed output == whole-conv output,
    every column."""
    from scientific_papers_ocr_spark.operators import (
        documents as docops,
        segment_distributed as dist,
        turns as turnops,
    )
    from scientific_papers_ocr_spark.sources import transcripts as tsrc
    from scientific_papers_ocr_spark import fixtures

    src = str(tmp_path / "mega120k.parquet")
    fixtures.corpus_to_parquet(
        src, num_convs=1, seed=41, turns_per_conv=PARITY_TURNS
    )
    t = turnops.extract_turns(
        tsrc.read_transcripts(spark, src), num_buckets=8
    ).cache()
    try:
        whole = {
            r["conv_id"]: r for r in docops.assemble_documents(t).collect()
        }
        got = {
            r["conv_id"]: r
            for r in dist.assemble_documents_distributed(t).collect()
        }
        assert set(got) == set(whole) and len(whole) == 1
        for cid in whole:
            w, g = whole[cid].asDict(), got[cid].asDict()
            for col in w:
                assert g[col] == w[col], (cid, col)
            assert w["n_turns"] == PARITY_TURNS
    finally:
        t.unpersist()
        dist.release_planning_caches()


@pytest.mark.slow
def test_worker_memory_cap_segmentation_passes_whole_conv_fails(tmp_path):
    """400k-turn conversation under a 450 MB per-worker RLIMIT: the
    segmentation phase completes (its tasks are page/section/entry-bounded);
    the whole-conversation path cannot (its one task needs the whole
    conversation) — the capped run is the memory claim, measured."""
    from scientific_papers_ocr_spark import fixtures

    src = str(tmp_path / "mega400k.parquet")
    fixtures.corpus_to_parquet(
        src, num_convs=1, seed=41, turns_per_conv=CAP_TURNS
    )

    def run(mode: str) -> subprocess.CompletedProcess:
        return subprocess.run(
            [sys.executable, "-c", _CAPPED_RUNNER.format(repo=REPO),
             mode, src, WORKER_CAP],
            capture_output=True,
            text=True,
            timeout=900,
            cwd=str(tmp_path),
        )

    seg = run("seg")
    assert seg.returncode == 0, seg.stderr[-4000:]
    assert "RESULT seg ok" in seg.stdout, seg.stdout[-2000:]

    whole = run("whole")
    assert whole.returncode != 0, (
        "whole-conversation path unexpectedly fit under the worker cap:\n"
        + whole.stdout[-2000:]
    )
    assert "RESULT whole ok" not in whole.stdout
