"""Equality of the distributed (mega-conversation-safe) segmentation against
the whole-conversation path over the full fixture corpus: same section keys,
positions, titles, numbers, texts; same reference entries; same
abstract/references boundaries."""

import pytest
from pyspark.sql import functions as F

from scientific_papers_ocr_spark.operators import (
    documents as docops,
    segment_distributed as dist,
    turns as turnops,
)
from scientific_papers_ocr_spark.sources import transcripts as tsrc

N = 33
SEED = 42


@pytest.fixture(scope="module")
def turns_out(spark):
    df = tsrc.corpus_dataframe(spark, num_convs=N, seed=SEED)
    return turnops.extract_turns(df, num_buckets=8).cache()


@pytest.fixture(scope="module")
def whole_doc(turns_out):
    docs = docops.assemble_documents(turns_out)
    return {r["conv_id"]: r for r in docs.collect()}


@pytest.fixture(scope="module")
def distributed(turns_out):
    out = dist.segment_documents_distributed(turns_out)
    sections = {}
    for r in out["sections"].collect():
        sections.setdefault(r["conv_id"], {})[r["section_key"]] = r
    refs = {}
    for r in out["references"].collect():
        refs.setdefault(r["conv_id"], {})[r["ref_number"]] = r["raw"]
    bounds = {r["conv_id"]: r for r in out["boundaries"].collect()}
    return {"sections": sections, "references": refs, "boundaries": bounds}


def test_sections_match(whole_doc, distributed):
    checked = 0
    for cid, doc in whole_doc.items():
        want = {s["section_key"]: s for s in doc["sections"]}
        if len(want) == 1 and list(want.values())[0]["title"] == "Full Text":
            # degenerate fallback: the distributed section table must be
            # empty for these convs (the assembler adds the Full Text row)
            assert cid not in distributed["sections"], cid
            continue
        got = distributed["sections"].get(cid, {})
        assert set(got.keys()) == set(want.keys()), f"{cid}: keys {set(got)} != {set(want)}"
        for k, w in want.items():
            g = got[k]
            assert g["title"] == w["title"], (cid, k)
            assert g["number"] == w["number"], (cid, k)
            assert g["text"] == w["text"], (cid, k, g["text"][:80], w["text"][:80])
            assert g["start_turn"] == w["start"]["turn_idx"], (cid, k)
            assert g["start_pos"] == w["start"]["pos"], (cid, k)
            assert g["end_turn"] == w["end"]["turn_idx"], (cid, k)
            assert g["end_pos"] == w["end"]["pos"], (cid, k)
            checked += 1
    assert checked > 50


def test_references_match(whole_doc, distributed):
    checked = 0
    for cid, doc in whole_doc.items():
        want = {r["ref_number"]: r["raw"] for r in doc["references"]}
        got = distributed["references"].get(cid, {})
        assert got == want, cid
        checked += 1 if want else 0
    assert checked > 10


def test_abstract_boundaries_match(whole_doc, distributed):
    checked = 0
    for cid, doc in whole_doc.items():
        b = distributed["boundaries"].get(cid)
        if doc["abstract_text"] is None:
            assert b is None or b["abs_turn"] is None, cid
        else:
            assert b is not None and b["abs_text"] == doc["abstract_text"], cid
            checked += 1
    assert checked > 10


def test_assemble_documents_distributed_full_parity(turns_out, whole_doc):
    got = {
        r["conv_id"]: r
        for r in dist.assemble_documents_distributed(turns_out).collect()
    }
    assert set(got) == set(whole_doc)
    for cid, w in whole_doc.items():
        g = got[cid]
        assert g["transcription"] == w["transcription"], cid
        assert g["edoc_json"] == w["edoc_json"], cid
        assert g["title"] == w["title"], cid
        assert g["abstract_text"] == w["abstract_text"], cid
        assert g["n_sections"] == w["n_sections"], cid
        assert g["n_refs"] == w["n_refs"], cid
        assert g["n_turns"] == w["n_turns"], cid
        assert g["bucket"] == w["bucket"], cid
        assert sorted(s["section_key"] for s in g["sections"]) == sorted(
            s["section_key"] for s in w["sections"]
        ), cid


def test_chunk_boundary_crossing_parity(spark):
    """A 2600-turn conversation streamed through the walker spans many Arrow
    batches (the carry a single fixture batch never exercises), and its
    trailing section covers pages from more than one batch: the output must
    stay byte-identical to the whole-conv assembler."""
    df = tsrc.corpus_dataframe(spark, num_convs=1, seed=41, turns_per_conv=2600)
    t = turnops.extract_turns(df, num_buckets=8).cache()
    try:
        whole = {r["conv_id"]: r for r in docops.assemble_documents(t).collect()}
        got = {
            r["conv_id"]: r
            for r in dist.assemble_documents_distributed(t).collect()
        }
        assert set(got) == set(whole)
        for cid in whole:
            w, g = whole[cid].asDict(), got[cid].asDict()
            for col in w:
                assert g[col] == w[col], (cid, col)
        assert next(iter(whole.values()))["n_turns"] == 2600
    finally:
        t.unpersist()


def test_references_entries_randomized_parity_with_oracle():
    """The walker's piece-at-a-time references parser must reproduce the
    oracle's ``parse_reference_entries(" ".join(pieces))`` on adversarial
    page splits: markers split across the join seam (must NOT match),
    terminators at page edges ("\\n" + "\\n" across the seam must NOT
    terminate), overlapping terminators ("\\n\\n\\n"), duplicate numbers
    (last wins), markers with no terminator after them (entry dropped),
    empty pages, and bodies spanning many pages.  Pure Python: no Spark
    job."""
    import random

    from scientific_papers_ocr_spark.oracle import segmentation as oracle_seg

    rng = random.Random(20260817)
    atoms = [
        "\n", "\n\n", "*", "[", "]", "[1]", "[2]", "[12]", "[345]",
        "a", "bb ", " ", "x[3]y", "\n*", "\n\n[4]", "tail", "", "7",
        "[", "8]", "\n", "[9] body\n\n",
    ]
    for c in range(200):
        n_pages = rng.randint(1, 8)
        pages = [
            "".join(rng.choice(atoms) for _ in range(rng.randint(0, 30)))
            for _ in range(n_pages)
        ]
        # half the conversations also randomize the boundary, exercising the
        # first-piece ref_start slice
        if c % 2:
            rt = rng.randrange(n_pages)
            rs = rng.randint(0, len(pages[rt])) if pages[rt] else 0
        else:
            rt, rs = 0, 0
        tail = [pages[rt][rs:]] + list(pages[rt + 1:])
        parser = dist.ReferenceEntries()
        for piece in tail:
            parser.feed(piece)
        want = oracle_seg.parse_reference_entries(" ".join(tail))
        # ORDERED comparison: the oracle dict's first-insertion order is part
        # of the contract (transcription/edoc rendering iterate it)
        assert list(parser.entries.items()) == list(want.items()), (
            f"rc-{c:03d}", pages, rt, rs,
        )


def test_fuzzed_pages_whole_vs_distributed_parity(spark):
    """Junk-page fuzz through BOTH assemblers: whole-conv vs distributed must
    agree column-for-column on arbitrary character soup.  This is the test
    that caught the references-ordering defect: the oracle's entries dict
    preserves scan (first-insertion) order and rendering iterates it, so a
    numerically-sorted distributed path diverges whenever entries appear out
    of order in the text — which crafted fixtures never do."""
    import datetime
    import random

    alph = list("abc ABC\n#*_`$[](){}.,;:!?\"'\\/-=+0123456789") + [
        "é", "中", "\U0001f389", "א", "́", "ﬁ",
        "\n\n", "## ", "[1] ", "[2] ", "Abstract", "References", "$$", "\n* ",
    ]
    all_rows = []
    for seed in range(20):
        rng = random.Random(1000 + seed)
        cid = f"dfuzz-{seed:02d}"
        for i in range(rng.randint(1, 8)):
            page = "".join(rng.choice(alph) for _ in range(rng.randint(0, 500)))
            all_rows.append(
                {
                    "conv_id": cid, "turn_idx": i, "role": "user",
                    "text": page, "tool": "",
                    "ts": datetime.datetime(2024, 1, 1, 0, 0, i),
                }
            )

    from scientific_papers_ocr_spark import schemas

    df = spark.createDataFrame(all_rows, schema=schemas.TRANSCRIPTS)
    t = turnops.extract_turns(df, num_buckets=4).cache()
    try:
        whole = {r["conv_id"]: r for r in docops.assemble_documents(t).collect()}
        got = {
            r["conv_id"]: r
            for r in dist.assemble_documents_distributed(t).collect()
        }
        assert set(got) == set(whole)
        for cid in whole:
            w, g = whole[cid].asDict(), got[cid].asDict()
            for col in w:
                assert g[col] == w[col], (cid, col)
    finally:
        t.unpersist()
        dist.release_planning_caches()
