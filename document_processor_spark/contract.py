"""The canonical extraction contract (SURVEY.md §2.3, T1-T7).

Single source of truth for the semantics that the pure-Python oracle
(`oracle.py`), the native-Catalyst Spark engine and the Arrow Spark engine
(`pipeline.py`) must all implement identically.  Every rule cites the
reference implementation at /root/reference.

Input span raw kinds (FIXTURES.md §1.1)::

    pdf_text   embedded PDF text block   (slice_extractor.py:114-129)
    pdf_scan   bitmap region needing OCR (content_extractor.py:74-108)
    html       markup fragment           (boilerplate-strip requirement)
    table_raw  serialized cell grid      (slice_extractor.py:147-179)
    media      picture/media payload     (slice_extractor.py:194-210)

Output span kinds (the reduced north-star vocabulary, T2)::

    heading | paragraph | table | figure | media_ref
"""

from __future__ import annotations

import base64
import binascii
import re

# ---------------------------------------------------------------------------
# T3 — glyph cleaning.
#
# Exact regex from the reference, slice_extractor.py:62:
#     (?i)glyph<(?:c=\d+,font=/[A-Z0-9]+\+[A-Za-z0-9-]+|\d+)>
# applied as sub -> ' ', then [ \t]+ -> ' ', then strip
# (slice_extractor.py:212-225).  Newlines are preserved — only spaces and
# tabs collapse.  The same pattern string is used verbatim by the Spark
# engines (Java regex and RE2 both accept this syntax; the fixture corpus
# contains only ASCII whitespace so `strip` semantics agree across engines).
# ---------------------------------------------------------------------------

GLYPH_PATTERN = r"(?i)glyph<(?:c=\d+,font=/[A-Z0-9]+\+[A-Za-z0-9-]+|\d+)>"
SPACE_TAB_PATTERN = r"[ \t]+"
STRIP_PATTERN = r"^\s+|\s+$"

# Single-pass fusion of the first two cleaning steps, used by the Spark
# engines only (r6 optimization; the oracle keeps the literal 3-step form
# above as the semantic reference).  Equivalence: step 1 turns each glyph
# into one space, step 2 collapses every [ \t]+ run to one space — so a
# MAXIMAL run of (space|tab|glyph)+ becomes exactly one space under the
# sequential composition, which is precisely what one replace of this
# run-pattern does; characters outside such runs are untouched by both.
# (Pinned by a 300k-case fuzz in tests and full-corpus equality.)
GLYPH_RUN_PATTERN = (r"(?i)(?:[ \t]|"
                     + GLYPH_PATTERN.removeprefix("(?i)") + r")+")
# The exact character class Java regex \s matches (no UNICODE flag), i.e.
# what the engines' STRIP_PATTERN strips today: a set-based btrim /
# utf8_trim over these six characters replaces the third regex pass with
# an ends-only scan.
JAVA_WS = " \t\n\x0b\f\r"

_GLYPH_RE = re.compile(GLYPH_PATTERN)
_SPACE_TAB_RE = re.compile(SPACE_TAB_PATTERN)
_STRIP_RE = re.compile(STRIP_PATTERN)


def clean_text(text: str) -> str:
    """Glyph-clean one string (T3).  Reference: slice_extractor.py:212-225."""
    text = _GLYPH_RE.sub(" ", text)
    text = _SPACE_TAB_RE.sub(" ", text)
    return _STRIP_RE.sub("", text)


# ---------------------------------------------------------------------------
# T1 — ordering.  offset = page * PAGE_STRIDE + block_within_page (layout
# position, NOT reading order; input arrays arrive shuffled).  Reading order
# is reconstructed by sorting on (page, block): the Spark analog of docling's
# per-page `iterate_items` traversal (page_extractor.py:87) iterated over
# pages first..last (content_extractor.py:70).
# ---------------------------------------------------------------------------

PAGE_STRIDE = 10_000


def split_offset(offset: int) -> tuple[int, int]:
    return offset // PAGE_STRIDE, offset % PAGE_STRIDE


# ---------------------------------------------------------------------------
# T2 — kind mapping (block classification).
#
# pdf_text / decoded pdf_scan: heading iff the cleaned text starts with the
# planted marker "H1:"/"H2:" (the fixture analog of docling's
# title/section_header labels), else paragraph.
# html: main-content blocks map by outer tag (<h1>..<h6> -> heading, else
# paragraph); boilerplate blocks (high tag-to-text density) are dropped
# entirely.  table_raw -> table.  media -> figure when it carries non-empty
# alt text, else media_ref (T7).
# ---------------------------------------------------------------------------

HEADING_MARKERS = ("H1:", "H2:")

KIND_HEADING = "heading"
KIND_PARAGRAPH = "paragraph"
KIND_TABLE = "table"
KIND_FIGURE = "figure"
KIND_MEDIA_REF = "media_ref"

TEXT_KINDS = (KIND_HEADING, KIND_PARAGRAPH)

RAW_PDF_TEXT = "pdf_text"
RAW_PDF_SCAN = "pdf_scan"
RAW_HTML = "html"
RAW_TABLE = "table_raw"
RAW_MEDIA = "media"


def classify_textual(cleaned: str) -> str:
    """heading/paragraph decision for pdf_text and decoded pdf_scan (T2)."""
    return KIND_HEADING if cleaned.startswith(HEADING_MARKERS) else KIND_PARAGRAPH


# ---------------------------------------------------------------------------
# T4 — OCR fallback.  The fixture encoding of a scan region is
# "scan:" + standard base64(utf-8 text).  The FAST pipeline cannot read scan
# regions (reference: force_full_page_ocr=False misses bitmap-only content,
# dl_converter.py:53-56); the FULL pipeline decodes them deterministically.
# A page whose FAST pass yields no non-empty *text* span (tables/media do NOT
# count — page_extractor.py:63-75) is re-processed by the FULL pipeline and
# the FULL result is accepted unconditionally, even if still empty
# (last-converter rule, content_extractor.py:105).  Pages that produce no
# spans at all are dropped; docs with zero surviving spans are excluded and
# counted, never an error (app/api.py:86-98, content_extractor.py:85-99).
# ---------------------------------------------------------------------------

SCAN_PREFIX = "scan:"
# Full base64 grammar (canonical padding): the guard both Spark engines and
# the oracle apply before decoding.  A loose charset-only guard is NOT
# enough on the Spark side — unbase64('A') throws on invalid length and
# decode(unbase64('/w=='), 'UTF-8') throws MALFORMED_CHARACTER_CODING even
# with ANSI off, where the reference skips the region
# (content_extractor.py:87-99).  Strict grammar makes unbase64 total; the
# UTF-8 validity check (try_validate_utf8 / Python decode) nulls the rest.
_B64_BODY = r"(?:[A-Za-z0-9+/]{4})*(?:[A-Za-z0-9+/]{2}==|[A-Za-z0-9+/]{3}=)?"
SCAN_PAYLOAD_PATTERN = rf"^scan:{_B64_BODY}$"

_B64_BODY_RE = re.compile(_B64_BODY)


def decode_scan(payload: str) -> str | None:
    """Deterministic synthetic 'OCR' of a scan region.  None = unparseable
    (reference: conversion failure is logged and skipped,
    content_extractor.py:87-99)."""
    if not payload.startswith(SCAN_PREFIX):
        return None
    body = payload[len(SCAN_PREFIX):]
    if not _B64_BODY_RE.fullmatch(body):
        return None
    try:
        return base64.b64decode(body, validate=True).decode("utf-8")
    except (binascii.Error, UnicodeDecodeError, ValueError):
        return None


# ---------------------------------------------------------------------------
# HTML boilerplate stripping — DOM-heuristic text-density scoring.
#
# density = len(clean(strip_tags(raw))) / len(raw); blocks below
# HTML_DENSITY_THRESHOLD are boilerplate (nav/footer/ads: high tag-to-text
# ratio) and dropped entirely.  Tag stripping replaces every <...> with a
# single space so adjacent words never merge.
# ---------------------------------------------------------------------------

HTML_TAG_PATTERN = r"<[^>]*>"
HTML_HEADING_PATTERN = r"(?i)^\s*<h[1-6][\s>]"
HTML_DENSITY_THRESHOLD = 0.35

_HTML_TAG_RE = re.compile(HTML_TAG_PATTERN)
_HTML_HEADING_RE = re.compile(HTML_HEADING_PATTERN)


def strip_tags(raw: str) -> str:
    return _HTML_TAG_RE.sub(" ", raw)


def html_is_heading(raw: str) -> bool:
    return _HTML_HEADING_RE.search(raw) is not None


def html_density(raw: str, cleaned_len: int) -> float:
    return cleaned_len / len(raw) if raw else 0.0


# ---------------------------------------------------------------------------
# T6 — table flattening.  Canonical flattening of [headers]+rows
# (slice_extractor.py:159-165): glyph-clean every cell in place
# (slice_extractor.py:170-177), join cells with \t, rows with \n.  Splitting
# preserves empty cells (including trailing ones) — Python str.split,
# Spark F.split(..., limit=-1) and DuckDB string_split all keep them.
# ---------------------------------------------------------------------------

TABLE_CELL_SEP = "\t"
TABLE_ROW_SEP = "\n"


# ---------------------------------------------------------------------------
# S21/S22 — positions + page dimensions (lineage-metadata struct).
#
# The reference emits per-slice Position(page_num, top/right/bottom/left
# rounded to 2 decimals, coord_origin) (slice_extractor.py:18-54,
# models.py:33-40) and per-page width/height (page_extractor.py:39-49),
# both read from the real PDF geometry.  The fixture corpus has no
# geometry, so the contract fixes a deterministic synthetic layout — a pure
# function of (page, block) — that every engine and the oracle derive
# identically: A4 portrait on even pages / landscape on odd pages, 1-inch
# margins, a fixed line grid of LINES_PER_PAGE slots.
# ---------------------------------------------------------------------------

PAGE_W_PORTRAIT, PAGE_H_PORTRAIT = 595.28, 841.89   # A4 in points
MARGIN_PT = 72.0
LINE_H_PT = 28.35
LINE_GAP_PT = 3.5
LINES_PER_PAGE = 24
COORD_ORIGIN = "TOPLEFT"


def page_dims(page: int) -> tuple[float, float]:
    """(width, height): portrait on even pages, landscape on odd."""
    if page % 2 == 0:
        return PAGE_W_PORTRAIT, PAGE_H_PORTRAIT
    return PAGE_H_PORTRAIT, PAGE_W_PORTRAIT


def position_for(page: int, block: int) -> dict:
    """The Position struct of a block (rounded to 2 decimals, T-rule of
    slice_extractor.py:36-50)."""
    w, _h = page_dims(page)
    top = round(MARGIN_PT + (block % LINES_PER_PAGE) * LINE_H_PT, 2)
    return {
        "page_num": page + 1,
        "top": top,
        "right": round(w - MARGIN_PT, 2),
        # parenthesized so the double op order matches the Spark expression
        # (top + <precomputed line-height-minus-gap>) exactly
        "bottom": round(top + (LINE_H_PT - LINE_GAP_PT), 2),
        "left": MARGIN_PT,
        "coord_origin": COORD_ORIGIN,
    }


def flatten_table(raw: str) -> str:
    rows = raw.split(TABLE_ROW_SEP)
    out_rows = [
        TABLE_CELL_SEP.join(clean_text(cell) for cell in row.split(TABLE_CELL_SEP))
        for row in rows
    ]
    return TABLE_ROW_SEP.join(out_rows)
