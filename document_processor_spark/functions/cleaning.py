"""The extraction contract's rules as Catalyst SQL-expression builders.

Each builder takes SQL expression text and returns SQL expression text, so
a caller composes them into one `selectExpr`/`F.expr` string that the JVM
parses in a single call (a Column tree costs one py4j round trip per
node).  These are the only Catalyst form of the rules: `pipeline.parse_sql`
and the `ext_*` operator queries both build from them, so the DuckDB
oracle checks on those operators test the expressions the pipeline runs.
Semantics are the contract in `contract.py`; the pure-Python oracle and
the Arrow engine implement the identical rules.

A builder writes its argument out once per read, and so does a caller that
reuses one builder's output in several places: each copy is evaluated
again.  Where the argument is expensive, project it first and pass the
column name, as `parse_sql` does with each span's derivation.
"""

from __future__ import annotations

from .. import contract as C


def sql_lit(s: str) -> str:
    """SQL string literal: escape backslashes/quotes for the parser's
    unescape pass; control characters are embedded raw (the lexer accepts
    them inside quotes)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def trim_ws(x: str) -> str:
    """Strip, from both ends, exactly the characters Java regex \\s matches
    (C.JAVA_WS): an ends-only scan, no regex rebuild of the body."""
    return f"btrim({x}, {sql_lit(C.JAVA_WS)})"


def clean_text(x: str) -> str:
    """T3 glyph cleaning (slice_extractor.py:62,212-225).  Null in -> ''
    out.  One run-pattern replace (C.GLYPH_RUN_PATTERN documents why it
    equals the reference's glyph-then-space/tab passes) plus the \\s trim."""
    return trim_ws(f"regexp_replace(coalesce({x}, ''), "
                   f"{sql_lit(C.GLYPH_RUN_PATTERN)}, ' ')")


def is_blank(x: str) -> str:
    """True iff the string is empty after stripping \\s (null counts as
    empty).  Trimming only the ends decides "blank" the same way as
    removing every \\s would."""
    return "(" + trim_ws(f"coalesce({x}, '')") + " = '')"


def classify_textual(cleaned: str) -> str:
    """T2 heading/paragraph decision for textual spans."""
    marks = " OR ".join(f"startswith({cleaned}, {sql_lit(m)})"
                        for m in C.HEADING_MARKERS)
    return (f"CASE WHEN ({marks}) THEN {sql_lit(C.KIND_HEADING)} "
            f"ELSE {sql_lit(C.KIND_PARAGRAPH)} END")


def decode_scan(x: str) -> str:
    """T4 'OCR' of a scan region: the UTF-8 text of its base64 payload,
    null when the payload is malformed.  The strict grammar match runs
    before unbase64, which would throw on a bad length."""
    return (f"CASE WHEN {x} RLIKE {sql_lit(C.SCAN_PAYLOAD_PATTERN)} "
            f"THEN try_validate_utf8(CAST(unbase64(substr({x}, "
            f"{len(C.SCAN_PREFIX) + 1}, length({x}))) AS STRING)) END")


def strip_tags(x: str) -> str:
    """Every <...> tag becomes one space, so adjacent words never merge."""
    return f"regexp_replace({x}, {sql_lit(C.HTML_TAG_PATTERN)}, ' ')"


def html_is_heading(raw: str) -> str:
    """An html block is a heading iff its outer tag is <h1>..<h6> (T2)."""
    return f"(coalesce({raw}, '') RLIKE {sql_lit(C.HTML_HEADING_PATTERN)})"


def html_density(raw_len: str, cleaned: str) -> str:
    """Text-density score: cleaned length over raw markup length, 0 for
    empty markup (the guard keeps ANSI division errors out)."""
    return (f"CASE WHEN {raw_len} > 0 THEN CAST(length({cleaned}) AS DOUBLE)"
            f" / CAST({raw_len} AS DOUBLE) ELSE 0.0D END")


def is_main_content(density: str) -> str:
    """Boilerplate gate: blocks below the density threshold are dropped."""
    return f"(({density}) >= {C.HTML_DENSITY_THRESHOLD!r}D)"


def flatten_table(x: str) -> str:
    """T6 canonical table flattening: split rows and cells (empty cells
    kept), glyph-clean each cell, re-join with the same separators.  Null
    in -> '' out."""
    rows, cells = sql_lit(C.TABLE_ROW_SEP), sql_lit(C.TABLE_CELL_SEP)
    return (f"array_join(transform(split(coalesce({x}, ''), {rows}, -1), "
            f"row -> array_join(transform(split(row, {cells}, -1), "
            f"cell -> {clean_text('cell')}), {cells})), {rows})")
