"""Native Catalyst expression builders for the extraction contract.

Everything here is pure `pyspark.sql.functions` — JVM-side, whole-stage
codegen, zero Python in the hot path.  Semantics are the contract in
`contract.py` (reference citations there); the pure-Python oracle and the
Arrow engine implement the identical rules.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .. import contract as C


def clean_text_col(c: Column) -> Column:
    """T3 glyph cleaning (slice_extractor.py:62,212-225).  Null-safe: null
    in -> '' out.  r6: the three regexp_replace passes are fused to ONE
    run-pattern pass (C.GLYPH_RUN_PATTERN documents the equivalence proof)
    plus a set-based btrim over exactly the characters Java \\s matches —
    one string rebuild per span instead of three (guide §1.2 per-task
    work; the parse stage is memory-bandwidth-bound)."""
    c = F.coalesce(c, F.lit(""))
    c = F.regexp_replace(c, C.GLYPH_RUN_PATTERN, " ")
    return F.btrim(c, F.lit(C.JAVA_WS))


def classify_textual_col(cleaned: Column) -> Column:
    """T2 heading/paragraph decision for textual spans."""
    is_heading = F.lit(False)
    for m in C.HEADING_MARKERS:
        is_heading = is_heading | cleaned.startswith(m)
    return F.when(is_heading, F.lit(C.KIND_HEADING)).otherwise(F.lit(C.KIND_PARAGRAPH))


def strip_tags_col(raw: Column) -> Column:
    return F.regexp_replace(raw, C.HTML_TAG_PATTERN, " ")


def html_density_col(raw: Column, cleaned: Column) -> Column:
    """text-density score; guarded division (no ANSI surprises)."""
    return F.when(F.length(raw) > 0,
                  F.length(cleaned).cast("double") / F.length(raw).cast("double")
                  ).otherwise(F.lit(0.0))


def flatten_table_col(raw: Column) -> Column:
    """T6 canonical table flattening with per-cell glyph cleaning, via
    higher-order functions (still fully native)."""
    rows = F.split(F.coalesce(raw, F.lit("")), C.TABLE_ROW_SEP, -1)
    cleaned_rows = F.transform(
        rows,
        lambda row: F.array_join(
            F.transform(F.split(row, C.TABLE_CELL_SEP, -1),
                        lambda cell: clean_text_col(cell)),
            C.TABLE_CELL_SEP,
        ),
    )
    return F.array_join(cleaned_rows, C.TABLE_ROW_SEP)


def is_blank_col(c: Column) -> Column:
    """True iff the string is empty after whitespace strip (incl. \\t, \\n).
    r6: btrim over the Java-\\s set instead of a regex rebuild — removing
    every interior \\s and removing only the ends decide "blank" the same
    way, and the trim never copies the string body."""
    return F.btrim(F.coalesce(c, F.lit("")), F.lit(C.JAVA_WS)) == ""
