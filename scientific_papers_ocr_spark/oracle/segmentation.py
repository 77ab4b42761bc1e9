"""Document segmentation: abstract / numbered sections / references with
stable ``(page, pos)`` span positions.

A "document" is an ordered list of per-turn markdown strings (one per
``turn_idx``).  All regexes are Python-``re`` with the reference's exact
flags (DOTALL / MULTILINE / IGNORECASE, lookarounds) — these must run in
pandas UDFs, never JVM ``regexp_*``.

Reference: rich_docs/elaborate_mmd_to_edoc/elaborate_single_mmd_scientific.py
(same file also vendored at extract_OCR/elaborate_mmd_to_edoc/).

Deviations from code-as-written, documented per SURVEY.md §7: the reference
crashes on (a) documents with references but no abstract (``range(None, ..)``
TypeError at :218 because :116-119 ignores the clamped ``start_position``
computed at :101-105), (b) documents with an abstract but no references
(:107-110 produces an out-of-range page bound), and (c) lower-case roman
section numerals (``int.upper()`` AttributeError at :183).  For those inputs
we implement the clamped/intended semantics (start=(0,0), end=(last_page,
len(last_page)), ``toRoman(n).lower()``); every other quirk — char-set
``lstrip`` of the numeral, per-page trailing-"references" pop, threshold
arithmetic — is preserved exactly.
"""

from __future__ import annotations

import re
from functools import lru_cache
from typing import Optional

TITLE_PREFIXES = ["## ", "##", "# ", "#"]

_SECTION_RE = re.compile(r"\n##\s(?!#)(.*?)\n\n", re.IGNORECASE)
_REF_ENTRY_RE = re.compile(r"\[(\d+)\](.*?)(?=\n\n|\n\*)", re.DOTALL)
_ENUM_RE = re.compile(r"\[\d+\]|\(\d+\)")
_NUMERAL_RE = re.compile(r"^(?:\d+|[IVXLCDM]+)\.?")
_PARA_BREAK_RE = re.compile(r"\n\n")

_ROMAN_VALUES = (
    (1000, "M"), (900, "CM"), (500, "D"), (400, "CD"),
    (100, "C"), (90, "XC"), (50, "L"), (40, "XL"),
    (10, "X"), (9, "IX"), (5, "V"), (4, "IV"), (1, "I"),
)


def to_roman(n: int) -> str:
    """Integer → upper-case roman numeral (stand-in for the ``roman`` pkg)."""
    if not 0 < n < 5000:
        raise ValueError(f"cannot romanize {n}")
    out = []
    for value, glyph in _ROMAN_VALUES:
        while n >= value:
            out.append(glyph)
            n -= value
    return "".join(out)


def keyname_variations(keyname: str) -> list[str]:
    """Priority-ordered heading spellings tried during keyname search.

    Reference: elaborate_single_mmd_scientific.py:609-623.
    """
    variations = [p + keyname for p in TITLE_PREFIXES]
    variations.append("_" + keyname + "_")
    variations.append("_" + keyname + ":_")
    variations.append("_" + keyname + "--_")
    return variations


def find_abstract_start(pages: list[str]) -> Optional[dict]:
    """First page (ascending) containing an Abstract keyname variation;
    variations tried in priority order (capitalised spellings before
    lower-case).  Reference: elaborate_single_mmd_scientific.py:578-591.
    """
    names = keyname_variations("Abstract") + keyname_variations("abstract")
    # every variation contains the substring "bstract" (prefix + "Abstract"
    # or "_abstract..."), so pages without it cannot match ANY variation —
    # one scan per page replaces a scan per (variation, page) pair.  The
    # variation-major priority order is preserved over the candidate pages.
    candidates = [(i, p) for i, p in enumerate(pages) if "bstract" in p]
    if not candidates:
        return None
    for name in names:
        for page_number, page in candidates:
            if name in page:
                return {
                    "page_number": page_number,
                    "key_name": name,
                    "match_pos": page.find(name),
                }
    return None


def find_references_start(pages: list[str]) -> Optional[dict]:
    """References keyname search: pages scanned in REVERSE, line-anchored
    regex match.  Reference: elaborate_single_mmd_scientific.py:563-576.

    Perf (semantics-preserving): pages are lower-cased once and a substring
    prefilter skips the regex on pages that cannot match (the IGNORECASE
    pattern requires the literal keyname to occur case-insensitively).
    """
    lowered = [p.lower() for p in pages]
    # every variation's lower-cased needle contains "references", so pages
    # without that substring cannot match ANY variation — scan once per page
    # (reverse order preserved) instead of once per (variation, page) pair.
    candidates = [
        (i, lowered[i])
        for i in range(len(pages) - 1, -1, -1)
        if "references" in lowered[i]
    ]
    if not candidates:
        return None
    for name in keyname_variations("References"):
        rx = _title_pattern(name)
        needle = name.lower()
        for page_number, low in candidates:
            if needle not in low:
                continue
            m = rx.search(pages[page_number])
            if m is not None:
                return {
                    "page_number": page_number,
                    "key_name": name,
                    "match_pos": m.start(),
                }
    return None


@lru_cache(maxsize=512)
def _title_pattern(keyname: str) -> "re.Pattern[str]":
    return re.compile(
        r"^.*?" + re.escape(keyname) + r"\b.*?$", re.IGNORECASE | re.MULTILINE
    )


def title_line_match(text: str, keyname: str) -> Optional[int]:
    """Start of the first line containing the keyname at a word boundary.

    Reference: elaborate_single_mmd_scientific.py:593-607 (which builds a
    full match list; only the first match's start is ever used, so a single
    ``search`` is equivalent).
    """
    m = _title_pattern(keyname).search(text)
    if m is not None:
        return m.start()
    return None


def next_alphanumeric_start(text: str, keyword: str, start_position: int) -> int:
    """Position of the first alphanumeric character of the body following the
    keyword (DOTALL).  ``-1`` when absent.

    Reference: elaborate_single_mmd_scientific.py:499-511.
    """
    rx = re.compile(
        r"{}\s*[^\S\r\n]*\S*([A-Za-z0-9])".format(re.escape(keyword)), re.DOTALL
    )
    m = rx.search(text, start_position)
    if not m:
        return -1
    return m.start(1)


def paragraph_end(page: str, start_position: int) -> int:
    """First ``\\n\\n`` at/after ``start_position``, else end-of-page.

    Reference: elaborate_single_mmd_scientific.py:453-472.
    """
    m = _PARA_BREAK_RE.search(page, start_position)
    if not m:
        return len(page)
    return m.start()


def first_reference_start(text: str, match_pos: int) -> int:
    """First ``[n]`` / ``(n)`` enumeration marker at/after the heading match.

    Reference: elaborate_single_mmd_scientific.py:513-525.
    """
    m = _ENUM_RE.search(text, match_pos)
    if m:
        return m.start()
    return -1


def parse_reference_entries(text: str) -> dict[int, str]:
    """``[n] entry`` list split on blank-line / bullet lookahead.

    Reference: elaborate_single_mmd_scientific.py:396-407.
    """
    return {int(num): body.strip() for num, body in _REF_ENTRY_RE.findall(text)}


def extract_abstract(pages: list[str]) -> Optional[dict]:
    """Abstract span: keyname hit → first body alphanumeric → first blank
    line.  Reference: elaborate_single_mmd_scientific.py:409-436.
    """
    hit = find_abstract_start(pages)
    if hit is None:
        return None
    page_number, key, match_pos = hit["page_number"], hit["key_name"], hit["match_pos"]
    body_start = next_alphanumeric_start(pages[page_number], key, match_pos)
    body_end = paragraph_end(pages[page_number], body_start)
    return {
        "start_page": page_number,
        "start_pos": body_start,
        "end_page": page_number,
        "end_pos": body_end,
        "title": key,
        "text": pages[page_number][body_start:body_end],
    }


def extract_references(pages: list[str]) -> Optional[dict]:
    """References section: reverse keyname scan → first enumeration marker →
    numbered entries parsed from the joined tail pages.

    Reference: elaborate_single_mmd_scientific.py:365-407.
    """
    hit = find_references_start(pages)
    if hit is None:
        return None
    start_page, key, match_pos = hit["page_number"], hit["key_name"], hit["match_pos"]
    real_start = first_reference_start(pages[start_page], match_pos)
    tail = [pages[start_page][real_start:]] + list(pages[start_page + 1 :])
    entries = parse_reference_entries(" ".join(tail))
    return {
        "start_page": start_page,
        "start_pos": real_start,
        "heading_pos": match_pos,
        "title": key,
        "entries": entries,
    }


def find_section_positions(
    pages: list[str], start: tuple[int, int], end: tuple[int, int]
) -> dict[int, tuple[tuple[int, int], str]]:
    """``\\n## Title\\n\\n`` heading scan between two ``(page, pos)`` clamps;
    1-based discovery numbering; a trailing "references" heading found on a
    page is dropped after that page's scan (reference quirk kept, with a
    KeyError guard for the already-popped case).

    Reference: elaborate_single_mmd_scientific.py:206-244.
    """
    positions: dict[int, tuple[tuple[int, int], str]] = {}
    start_page, start_pos = start
    end_page, end_pos = end
    counter = 1
    for page_number in range(start_page, end_page + 1):
        page = pages[page_number]
        lo = start_pos if page_number == start_page else 0
        hi = end_pos if page_number == end_page else len(page)
        for m in _SECTION_RE.finditer(page[lo:hi]):
            positions[counter] = ((page_number, m.start() + lo), m.group(1).strip())
            counter += 1
        last = positions.get(counter - 1)
        if positions and last is not None and last[1].lower() == "references":
            positions.pop(counter - 1)
    return positions


def detect_numeral(title: str) -> Optional[str]:
    """First word of the title when it looks like an arabic/roman numeral.

    Reference: elaborate_single_mmd_scientific.py:85-99,121-133.
    """
    first = title.split(" ")[0]
    if _NUMERAL_RE.match(first):
        return first
    return None


def render_section_number(numeral: Optional[str], section_number: int, ordinal: int) -> str:
    """Numeral style → rendered section number: arabic → int, upper-roman →
    ``toRoman``, lower-roman → ``toRoman().lower()`` (intended semantics; the
    reference's code-as-written crashes here), unknown → ordinal fallback.

    Reference: elaborate_single_mmd_scientific.py:174-188.
    """
    if numeral is None:
        return ""
    if numeral.isdigit():
        return str(int(section_number))
    if numeral.isupper():
        return to_roman(section_number)
    if numeral.islower():
        return to_roman(section_number).lower()
    return str(ordinal + 1)


def clean_section_title(title: str, rendered_number: str) -> str:
    """Strip ``#``s, char-set-lstrip the rendered numeral (reference quirk:
    ``str.lstrip`` strips a character SET, so ``"II. Methods"`` →
    ``". Methods"``), drop newlines, strip.

    Reference: elaborate_single_mmd_scientific.py:190-191.
    """
    t = title.replace("#", "").strip()
    t = t.lstrip(rendered_number).replace("\n", "").strip() if rendered_number else t.replace("\n", "").strip()
    return t


def full_text_fallback(pages: list[str]) -> dict[int, dict]:
    """Whole document as one "Full Text" section (reference returns int
    ``number=1``; we normalise numbers to strings throughout).

    Reference: elaborate_single_mmd_scientific.py:112-114,139-143.
    """
    return {
        1: {
            "start_page": 0,
            "start_pos": 0,
            "end_page": 0,
            "end_pos": len(pages[0]),
            "text": " ".join(pages),
            "title": "Full Text",
            "number": "1",
        }
    }


def section_text(span: list[str], start_pos: int, end_pos: int) -> str:
    """Body text of a section whose pages are ``span``: from ``start_pos``
    on the first page to ``end_pos`` on the last, heading line dropped
    (text after the first blank line), pages joined with one space.

    Reference: the text step of elaborate_single_mmd_scientific.py:101-204.
    """
    if len(span) == 1:
        return span[0][start_pos:end_pos].split("\n\n", 1)[1]
    first = span[0][start_pos:].split("\n\n", 1)[1]
    return " ".join([first, *span[1:-1], span[-1][:end_pos]])


def extract_sections(
    pages: list[str],
    abstract: Optional[dict],
    references: Optional[dict],
) -> dict[int, dict]:
    """Numbered body sections between abstract-end and references-heading.

    Reference: elaborate_single_mmd_scientific.py:101-204 with the clamped
    start/end semantics for the missing-abstract / missing-references branches
    (see module docstring).
    """
    if abstract is None and references is None:
        return full_text_fallback(pages)

    if abstract is None:
        start = (0, 0)
    else:
        start = (abstract["end_page"], abstract["end_pos"])
    if references is None:
        end = (len(pages) - 1, len(pages[-1]))
        last_end = end
    else:
        end = (references["start_page"], references["start_pos"])
        last_end = (references["start_page"], references["heading_pos"])

    positions = find_section_positions(pages, start, end)
    positions = {k: v for k, v in sorted(positions.items())}
    keys = list(positions.keys())
    if not keys:
        return full_text_fallback(pages)
    largest = max(keys)

    titles = [v[1] for v in positions.values()]
    numerals = [detect_numeral(t) for t in titles]

    sections: dict[int, dict] = {}
    for jj, (key, ((start_page, start_pos), title)) in enumerate(positions.items()):
        if key == largest:
            end_page, end_pos = last_end
        else:
            end_page, end_pos = positions[keys[jj + 1]][0]

        number = render_section_number(numerals[jj], key, jj)
        sections[key] = {
            "start_page": start_page,
            "start_pos": start_pos,
            "end_page": end_page,
            "end_pos": end_pos,
            "text": section_text(pages[start_page : end_page + 1], start_pos, end_pos),
            "title": clean_section_title(title, number),
            "number": number,
        }
    return sections


def segment_document(pages: list[str]) -> dict:
    """End-to-end segmentation of one document's ordered page texts, in the
    reference's call order (references → abstract → sections).

    Reference: elaborate_single_mmd_scientific.py:327-363 (``extract_metadata``
    invoking :365/:409) then :50 (``extract_sections``).
    """
    references = extract_references(pages)
    abstract = extract_abstract(pages)
    sections = extract_sections(pages, abstract, references)
    return {"abstract": abstract, "references": references, "sections": sections}
