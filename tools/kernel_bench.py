"""Single-core timing of the two Python hot kernels, with the measurement
discipline this host requires (BENCH/DRIFT.md): warmup reps first (the first
2-3 reps of ANY measurement here are warmup — plan/JIT/allocator), best-of-N
reported with all reps shown, and nothing else running while it measures.

Measures, per core, on the real bench corpus:
  * narrow kernel  — ``operators.turns._process_batch`` (repaired_only +
    clean text, the graded bench emission)
  * assembly kernel — ``oracle.segmentation.segment_document`` plus
    ``operators.documents._assemble_rows`` over whole conversations

Usage:  python tools/kernel_bench.py [n_turns]          (default 60000)

These per-core numbers do NOT multiply 1:1 into Spark-stage throughput on
a 4-core host: the traced perfbench run (``perfbench/run.py --trace 1``)
measures ``turns.kernel_share`` — kernel core time over narrow-stage core
time — at 0.08–0.11 before the reused-worker bootstrap (``worker.py``) and
0.16–0.26 after it, so most of the stage's core time is spent outside these
kernels.  A kernel A/B here is the fast feedback loop for kernel cost; the
traced perfbench run shows how much of it reaches the stage.  When
comparing two implementations, interleave them ABBA in one process (see
the r4/r5 commit messages) — back-to-back runs of this script can differ
2x on this shared microVM.
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow.parquet as pq  # noqa: E402

from scientific_papers_ocr_spark.operators import documents  # noqa: E402
from scientific_papers_ocr_spark.operators.turns import _process_batch  # noqa: E402
from scientific_papers_ocr_spark.oracle import segmentation  # noqa: E402

CORPUS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "BENCH", "data", "transcripts_48000x50.parquet",
)


def _best_of(fn, reps: int, warmup: int = 2) -> tuple[float, list[float]]:
    for _ in range(warmup):
        fn()
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return min(times), times


def main(n_turns: int = 60000) -> None:
    if not os.path.exists(CORPUS):
        sys.exit(
            f"bench corpus missing: {CORPUS}\n"
            "run `python bench.py` once to generate it"
        )
    table = pq.read_table(
        CORPUS, columns=["conv_id", "turn_idx", "text", "tool"]
    )
    pdf_all = table.to_pandas()
    # whole conversations only: a slice that cuts a conversation mid-way
    # inflates per-conversation overhead and skews the assembly number
    conv_len = pdf_all.groupby("conv_id", sort=False).size().iloc[0]
    ids = pdf_all["conv_id"].unique()[: max(1, n_turns // conv_len)]
    pdf = pdf_all[pdf_all["conv_id"].isin(set(ids))]
    n = len(pdf)

    best, reps = _best_of(
        lambda: _process_batch(
            pdf, page_text_mode="repaired_only", with_clean_text=True
        ),
        reps=5,
    )
    print(
        f"narrow kernel:   best {best:.3f}s = {n / best / 1000:.1f}k turns/s/core"
        f"  reps={['%.2f' % t for t in reps]}"
    )

    turns_out = _process_batch(pdf, page_text_mode="always", with_clean_text=True)
    convs = [
        (cid, 0, g["page_text"].tolist(), g["meta_json"].tolist())
        for cid, g in turns_out.sort_values(["conv_id", "turn_idx"]).groupby(
            "conv_id", sort=False
        )
    ]

    def assemble_all() -> None:
        for cid, bucket, pages, metas in convs:
            documents._assemble_rows(
                cid, bucket, segmentation.segment_document(pages),
                next((m for m in metas if m), None), len(pages),
            )

    best, reps = _best_of(assemble_all, reps=5)
    print(
        f"assembly kernel: best {best:.3f}s = {n / best / 1000:.1f}k turns/s/core"
        f"  reps={['%.2f' % t for t in reps]}  ({len(convs)} convs)"
    )


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 60000)
