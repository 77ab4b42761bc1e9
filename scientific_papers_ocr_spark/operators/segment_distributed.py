"""Mega-conversation segmentation: boundary election plus a page-at-a-time
walker that runs inside the one sorted-stream assembler.

``documents.assemble_sorted`` holds a whole conversation per assembly step,
the same contract as the reference.  A pathological conversation (10^5+
turns) outgrows a Python worker that way, so conversations routed here are
streamed instead: the assembler feeds each merged page to a ``Walker`` and
never concatenates the conversation.

Only the planning work is split out of the hot key (Scarlett, EuroSys'11):

  A. per-page hits (narrow mapInPandas): the page's best abstract keyname
     hit and best references title-line hit;
  B. boundary election (one small aggregation, collected to the driver):
     abstract = min (variation rank, page); references = min (variation
     rank, -page), the oracle's reverse page scan.

The walker then reproduces ``oracle.segmentation.segment_document`` one
page at a time from those elected hits, reusing the oracle's helpers on
each page.  It holds the open section's pages, at most one pending
reference entry and the finished records.  Equality with the
whole-conversation path is asserted over the fixture corpus, fuzzed pages
and a 120k-turn conversation (tests/test_distributed_segmentation.py,
tests/test_mega_conversation.py).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..oracle import segmentation

_HITS_SCHEMA = (
    "conv_id string, turn_idx int, abs_rank int, abs_pos int, abs_title string, "
    "ref_rank int, ref_pos int, ref_title string"
)
_HITS_COLUMNS = [c.split()[0] for c in _HITS_SCHEMA.split(", ")]


def _first_hit(names: list[str], find) -> tuple:
    """``(rank, pos, name)`` of the first name ``find`` locates, else Nones."""
    for rank, name in enumerate(names):
        pos = find(name)
        if pos is not None and pos >= 0:
            return rank, pos, name
    return None, None, None


def page_hits(pages: DataFrame) -> DataFrame:
    """Phase A: one tiny hit record per page out of a narrow page scan, with
    the oracle's per-page substring prefilters (``find_abstract_start``,
    ``find_references_start``)."""
    abstract_names = segmentation.keyname_variations(
        "Abstract"
    ) + segmentation.keyname_variations("abstract")
    ref_names = segmentation.keyname_variations("References")

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for conv_id, turn_idx, text in zip(
                pdf["conv_id"], pdf["turn_idx"], pdf["page_text"]
            ):
                text = text or ""
                low = text.lower()
                rows.append(
                    (
                        conv_id,
                        turn_idx,
                        *_first_hit(abstract_names, text.find),
                        *_first_hit(
                            ref_names,
                            lambda name: segmentation.title_line_match(text, name)
                            if name.lower() in low
                            else None,
                        ),
                    )
                )
            yield pd.DataFrame(rows, columns=_HITS_COLUMNS)

    return pages.mapInPandas(scan, schema=_HITS_SCHEMA)


def elect_boundaries(tagged: DataFrame) -> dict[str, tuple]:
    """Phase B for every conversation of a tagged assembly frame
    (``documents.tagged_turns``): ``conv_id → (abstract, references)``,
    each the elected ``(turn_idx, pos, title)`` hit or None.  Collected to
    the driver: a handful of values per conversation."""
    # a turn's page is its verdict row's text, else its input row's text
    # (the assembler's merge rule)
    pages = tagged.groupBy("conv_id", "turn_idx").agg(
        F.coalesce(F.max_by("page_text", "tag"), F.min_by("page_text", "tag")).alias(
            "page_text"
        )
    )

    def best(kind: str, order) -> F.Column:
        # null orderings (pages without a hit) never win a min_by
        found = F.col(f"{kind}_rank").isNotNull()
        hit = F.struct(
            "turn_idx",
            F.col(f"{kind}_pos").alias("pos"),
            F.col(f"{kind}_title").alias("title"),
        )
        return F.min_by(F.when(found, hit), F.when(found, F.struct(f"{kind}_rank", order)))

    elected = page_hits(pages).groupBy("conv_id").agg(
        best("abs", F.col("turn_idx")).alias("abstract"),
        best("ref", -F.col("turn_idx")).alias("references"),
    )
    return {
        r["conv_id"]: tuple(
            None if h is None else (h["turn_idx"], h["pos"], h["title"])
            for h in (r["abstract"], r["references"])
        )
        for r in elected.collect()
    }


_REF_MARKER_RE = re.compile(r"\[(\d+)\]")


class ReferenceEntries:
    """``segmentation.parse_reference_entries(" ".join(pieces))`` fed one
    piece at a time.

    The pieces are joined with one space, and neither a ``[n]`` marker (no
    whitespace) nor a ``\\n\\n``/``\\n*`` terminator (first char ``\\n``)
    can span that seam.  So a match can only be left open by a marker with
    no terminator after it yet, and only the text from that marker on is
    kept.  ``entries`` keeps the oracle dict's semantics: the last
    duplicate number wins, in first-insertion order."""

    def __init__(self) -> None:
        self.entries: dict[int, str] = {}
        self._pending: list[str] = []

    def feed(self, piece: str) -> None:
        if self._pending:
            if "\n\n" not in piece and "\n*" not in piece:
                self._pending.append(piece)
                return
            text = " ".join(self._pending + [piece])
            self._pending = []
        else:
            text = piece
        pos = 0
        while (m := segmentation._REF_ENTRY_RE.search(text, pos)) is not None:
            self.entries[int(m.group(1))] = m.group(2).strip()
            pos = m.end()
        marker = _REF_MARKER_RE.search(text, pos)
        if marker is not None:
            self._pending = [text[marker.start():]]


class Walker:
    """``segmentation.segment_document`` over one conversation fed a page at
    a time, given its elected ``(abstract, references)`` hits.

    Page coordinates are page ordinals, as in the oracle; the hits are
    matched on ``turn_idx``.  ``keep_pages`` holds every page while no
    section heading has survived, for the oracle's single "Full Text"
    section; without it such a document ends with no sections."""

    def __init__(self, conv_id: str, hits: tuple, keep_pages: bool = True) -> None:
        self.conv_id = conv_id
        self.abs_hit, self.ref_hit = hits
        self.n = 0
        self.meta = None
        self.bucket = 0
        self.abstract: dict | None = None
        self.references: dict | None = None
        self.refs = ReferenceEntries()
        # the heading scan runs from the abstract's end (page 0 without an
        # abstract) to the references start; with neither boundary the
        # document is one "Full Text" section
        self.scanning = self.abs_hit is None and self.ref_hit is not None
        self.key = 1  # the oracle's heading counter
        self.ordinal = 0  # surviving headings so far
        self.open: tuple | None = None  # (key, page, pos, title, number, span)
        self.sections: dict[int, dict] = {}
        self.pages: list[str] | None = [] if keep_pages else None

    def feed(self, turn_idx: int, page: str, meta) -> None:
        i = self.n
        self.n += 1
        if self.meta is None and meta:
            self.meta = meta
        if self.pages is not None:
            self.pages.append(page)
        lo, hi = 0, len(page)
        if self.abs_hit is not None and turn_idx == self.abs_hit[0]:
            _, pos, title = self.abs_hit
            body = segmentation.next_alphanumeric_start(page, title, pos)
            end = segmentation.paragraph_end(page, body)
            self.abstract = {
                "start_page": i, "start_pos": body, "end_page": i,
                "end_pos": end, "title": title, "text": page[body:end],
            }
            self.scanning = self.references is None
            lo = end
        if self.ref_hit is not None and turn_idx == self.ref_hit[0]:
            _, pos, title = self.ref_hit
            hi = segmentation.first_reference_start(page, pos)
            self.references = {
                "start_page": i, "start_pos": hi, "heading_pos": pos,
                "title": title, "entries": self.refs.entries,
            }
            self.refs.feed(page[hi:])
            if self.scanning:
                self._scan(i, page, lo, hi)
                self._close(i, pos)
                self.scanning = False
        elif self.references is not None:
            self.refs.feed(page)
        elif self.scanning:
            self._scan(i, page, lo, hi)

    def _scan(self, i: int, page: str, lo: int, hi: int) -> None:
        """``find_section_positions`` for one page, closing the sections
        its surviving headings end."""
        if self.open is not None:
            self.open[-1].append(page)
        heads = [
            (m.start() + lo, m.group(1).strip())
            for m in segmentation._SECTION_RE.finditer(page[lo:hi])
        ]
        first_key = self.key
        self.key += len(heads)
        # the page's trailing "references" heading is dropped; its key stays
        # used (later sections keep their larger keys)
        if heads and heads[-1][1].lower() == "references":
            heads.pop()
        for key, (pos, title) in enumerate(heads, start=first_key):
            self._close(i, pos)
            number = segmentation.render_section_number(
                segmentation.detect_numeral(title), key, self.ordinal
            )
            self.ordinal += 1
            title = segmentation.clean_section_title(title, number)
            self.open = (key, i, pos, title, number, [page])
            self.pages = None

    def _close(self, end_page: int, end_pos: int) -> None:
        if self.open is None:
            return
        key, page, pos, title, number, span = self.open
        self.sections[key] = {
            "start_page": page, "start_pos": pos, "end_page": end_page,
            "end_pos": end_pos, "text": segmentation.section_text(span, pos, end_pos),
            "title": title, "number": number,
        }
        self.open = None

    def finish(self) -> dict:
        """The ``segment_document`` result; call once, after the last page."""
        if self.open is not None:
            self._close(self.n - 1, len(self.open[-1][-1]))
        sections = self.sections
        if self.pages is not None:
            sections = segmentation.full_text_fallback(self.pages)
        return {
            "abstract": self.abstract,
            "references": self.references,
            "sections": sections,
        }


# Each emitter drains the walker's finished sections, so a walked
# conversation never accumulates them.


def _boundary_rows(w: Walker, final: bool) -> list[dict]:
    w.sections.clear()
    a, r = w.abstract or {}, w.references or {}
    if not final or not (a or r):
        return []
    return [{
        "conv_id": w.conv_id,
        "abs_turn": a.get("start_page"), "abs_start": a.get("start_pos"),
        "abs_end": a.get("end_pos"), "abs_title": a.get("title"),
        "abs_text": a.get("text"), "ref_turn": r.get("start_page"),
        "ref_start": r.get("start_pos"), "ref_heading_pos": r.get("heading_pos"),
        "ref_title": r.get("title"),
    }]


def _section_rows(w: Walker, final: bool) -> list[dict]:
    if final:
        w.finish()
    rows = [
        {
            "conv_id": w.conv_id, "section_key": k, "start_turn": s["start_page"],
            "start_pos": s["start_pos"], "end_turn": s["end_page"],
            "end_pos": s["end_pos"], "title": s["title"], "number": s["number"],
            "text": s["text"],
        }
        for k, s in w.sections.items()
    ]
    w.sections.clear()
    return rows


def _reference_rows(w: Walker, final: bool) -> list[dict]:
    w.sections.clear()
    if not final:
        return []
    # ref_rank: the oracle dict's first-insertion order, which transcription
    # and edoc rendering iterate
    return [
        {"conv_id": w.conv_id, "ref_number": n, "ref_rank": rank, "raw": raw}
        for rank, (n, raw) in enumerate(w.refs.entries.items())
    ]


_PARTS = {
    "boundaries": (
        "conv_id string, abs_turn int, abs_start int, abs_end int, abs_title string, "
        "abs_text string, ref_turn int, ref_start int, ref_heading_pos int, "
        "ref_title string",
        _boundary_rows,
    ),
    "sections": (
        "conv_id string, section_key int, start_turn int, start_pos int, "
        "end_turn int, end_pos int, title string, number string, text string",
        _section_rows,
    ),
    "references": (
        "conv_id string, ref_number int, ref_rank int, raw string",
        _reference_rows,
    ),
}


def segment_documents_distributed(turns_out: DataFrame) -> dict[str, DataFrame]:
    """Walker segmentation of every conversation of ``turns_out``:
    ``boundaries`` (abstract and references coordinates, one row per
    conversation that has either), ``sections`` (one row per section) and
    ``references`` (one row per entry).  Section rows leave the walker as
    each section closes, so no Python worker holds more than one batch, the
    open section and the reference entries.  A document with no surviving
    heading has no section rows (the doc-level assembler adds its single
    "Full Text" section)."""
    from . import documents

    tagged = documents.tagged_turns(turns_out)
    routed = elect_boundaries(tagged)
    return {
        name: documents.assemble_sorted(tagged, routed, emit=emit, schema=schema)
        for name, (schema, emit) in _PARTS.items()
    }


def assemble_documents_distributed(turns_out: DataFrame) -> DataFrame:
    """DOCS_OUT rows with every conversation streamed through the walker —
    the scale twin of ``documents.assemble_documents``."""
    from . import documents

    tagged = documents.tagged_turns(turns_out)
    return documents.assemble_sorted(tagged, elect_boundaries(tagged))


def release_planning_caches() -> None:
    """No-op: the walker path persists no planning frames (kept for
    callers written against the earlier cached-DAG design)."""
