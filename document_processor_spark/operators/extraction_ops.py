"""Extraction-semantics operators as driver-checkable queries over the
generic `documents` table (doc_id, text, lang, source, n_chars).

Each query exercises one operator family from SURVEY.md §2 with an exact
DuckDB oracle.  The *full* pipeline semantics (fallback, page assembly) are
proven against the pure-Python oracle in pytest; these queries additionally
prove Spark↔ANSI-SQL parity of the contract's rules.  The glyph-clean,
classify, table-flatten and html-density queries build from the same
`functions.cleaning` SQL builders that `pipeline.parse_sql` runs.

Determinism notes: all float outputs are derived with identical operation
order in both engines (or integer/decimal math), so value hashes match
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import contract as C
from ..functions import cleaning as X
from ._scan import read_table

# -- S18/T3: glyph cleaning --------------------------------------------------

_GLYPH_INJECT_PREFIX = "GLyPh<12> "
_GLYPH_INJECT_SUFFIX = " \tglyph<c=3,font=/AB1+Foo-Bar>x"


def q_glyph_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    dirty = (f"concat({X.sql_lit(_GLYPH_INJECT_PREFIX)}, text, "
             f"{X.sql_lit(_GLYPH_INJECT_SUFFIX)})")
    return d.selectExpr("doc_id", f"{X.clean_text(dirty)} AS cleaned_text")


SQL_GLYPH_CLEAN = f"""
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace('{_GLYPH_INJECT_PREFIX}' || text || E' \\tglyph<c=3,font=/AB1+Foo-Bar>x',
                          '{C.GLYPH_PATTERN}', ' ', 'g'),
           '{C.SPACE_TAB_PATTERN}', ' ', 'g'),
         '{C.STRIP_PATTERN}', '', 'g') AS cleaned_text
FROM documents
"""


# -- S14/T1: reading-order reconstruction (posexplode + ordinal) -------------

def q_reading_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    return (d.select("doc_id", F.posexplode(F.split("text", " ", -1))
                     .alias("pos0", "word"))
            .select("doc_id", (F.col("pos0") + 1).cast("bigint").alias("pos"),
                    "word"))


SQL_READING_ORDER = """
SELECT doc_id,
       unnest(generate_series(1, len(string_split(text, ' ')))) AS pos,
       unnest(string_split(text, ' ')) AS word
FROM documents
"""


# -- S15: slice numbering (the load-bearing row_number window) ----------------

def q_slice_numbering(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W
    d = read_table(spark, sf_dir, "documents")
    words = d.select("doc_id", F.posexplode(F.split("text", " ", -1))
                     .alias("pos0", "word"))
    w = W.partitionBy("doc_id").orderBy("pos0")
    return (words.select("doc_id", "word",
                         F.row_number().over(w).cast("bigint").alias("slice_num"))
            )


SQL_SLICE_NUMBERING = """
WITH words AS (
  SELECT doc_id,
         unnest(generate_series(1, len(string_split(text, ' ')))) AS pos,
         unnest(string_split(text, ' ')) AS word
  FROM documents
)
SELECT doc_id, word,
       row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS slice_num
FROM words
"""


# -- T2: block classification (kind mapping) ----------------------------------

def q_kind_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classify derived blocks: first 4 words as a planted heading, the rest
    as body; heading iff marker present (the fixture rule)."""
    d = read_table(spark, sf_dir, "documents")
    head = F.concat(F.lit("H1: "),
                    F.array_join(F.slice(F.split("text", " ", -1), 1, 4), " "))
    body = F.col("text")
    blocks = d.select(
        "doc_id",
        F.explode(F.array(head, body)).alias("block_text"))
    return blocks.selectExpr(
        "doc_id", "block_text",
        f"{X.classify_textual('block_text')} AS kind")


SQL_KIND_CLASSIFY = """
WITH blocks AS (
  SELECT doc_id,
         unnest(['H1: ' || array_to_string(list_slice(string_split(text,' '),1,4), ' '),
                 text]) AS block_text
  FROM documents
)
SELECT doc_id, block_text,
       CASE WHEN block_text LIKE 'H1:%' OR block_text LIKE 'H2:%'
            THEN 'heading' ELSE 'paragraph' END AS kind
FROM blocks
"""


# -- T6: table flattening with per-cell cleaning -------------------------------

def q_table_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Construct a 2-row cell grid from each doc's text, then apply the
    canonical flattening (split rows/cells, glyph-clean each cell, re-join)."""
    d = read_table(spark, sf_dir, "documents")
    head, tab = X.sql_lit("colA\tcolB\n"), X.sql_lit("\t")
    tail = X.sql_lit("\tglyph<77> tail  cell")
    grid = (f"concat({head}, regexp_replace(array_join(slice("
            f"split(text, ' ', -1), 1, 4), ' '), ' ', {tab}), {tail})")
    return d.selectExpr("doc_id", f"{X.flatten_table(grid)} AS table_text")


SQL_TABLE_FLATTEN = r"""
WITH grids AS (
  SELECT doc_id,
         E'colA\tcolB\n'
         || replace(array_to_string(list_slice(string_split(text,' '),1,4), ' '), ' ', E'\t')
         || E'\tglyph<77> tail  cell' AS grid
  FROM documents
)
SELECT doc_id,
       array_to_string(
         list_transform(string_split(grid, E'\n'), row ->
           array_to_string(
             list_transform(string_split(row, E'\t'), cell ->
               regexp_replace(
                 regexp_replace(
                   regexp_replace(cell, '(?i)glyph<(?:c=\d+,font=/[A-Z0-9]+\+[A-Za-z0-9-]+|\d+)>', ' ', 'g'),
                   '[ \t]+', ' ', 'g'),
                 '^\s+|\s+$', '', 'g')),
             E'\t')),
         E'\n') AS table_text
FROM grids
"""


# -- T4: OCR fallback rate metric ----------------------------------------------

def q_fallback_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic scan-page proxy (n_chars % 7 = 0) aggregated per source:
    the ocr_fallback_rate ops metric (BASELINE.json:6)."""
    d = read_table(spark, sf_dir, "documents")
    scan = F.when(F.col("n_chars") % 7 == 0, 1).otherwise(0)
    # rate derived from the two integer aggregates (one division per group):
    # order-independent, bit-identical across engines — never avg() over
    # doubles, whose partial-agg summation order differs
    agg = (d.groupBy("source")
           .agg(F.count(F.lit(1)).alias("docs"),
                F.sum(scan).alias("fallback_docs")))
    return agg.select(
        "source", "docs", "fallback_docs",
        F.round(F.col("fallback_docs").cast("double") / F.col("docs"), 4)
         .alias("fallback_rate"))


SQL_FALLBACK_RATE = """
SELECT source,
       count(*) AS docs,
       CAST(sum(CASE WHEN n_chars % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fallback_docs,
       round(CAST(sum(CASE WHEN n_chars % 7 = 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 4) AS fallback_rate
FROM documents
GROUP BY source
"""


# -- S5: page-count scan + S21 round + S26 base64 -------------------------------

def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        (F.lit(1) + F.expr("n_chars div 500")).alias("pages"),
        F.round(F.col("n_chars") / 8.0, 2).alias("bbox_like"),
        F.base64(F.encode(F.substring("text", 1, 24), "UTF-8")).alias("b64_head"),
    )


SQL_DOC_STATS = """
SELECT doc_id,
       1 + n_chars // 500 AS pages,
       round(n_chars / 8.0, 2) AS bbox_like,
       base64(encode(substr(text, 1, 24))) AS b64_head
FROM documents
"""


# -- S19: caption attachment via reading-order adjacency ------------------------

def q_caption_attach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Figure-caption linkage: each doc contributes a (figure, caption) pair
    of adjacent blocks; the caption is attached to the preceding figure via a
    lead() window over reading order — the Spark analog of docling's
    caption_text linkage (slice_extractor.py:131-145)."""
    from pyspark.sql import Window as W
    d = read_table(spark, sf_dir, "documents")
    blocks = d.select(
        "doc_id",
        F.posexplode(F.array(
            F.concat(F.lit("m-"), F.md5("text")),             # figure ref
            F.array_join(F.slice(F.split("text", " ", -1), 1, 6), " "),  # caption
        )).alias("ord", "block"))
    w = W.partitionBy("doc_id").orderBy("ord")
    out = blocks.withColumn("next_block", F.lead("block").over(w))
    return (out.filter(F.col("ord") == 0)
            .select("doc_id", F.col("block").alias("media_ref"),
                    F.col("next_block").alias("caption_text")))


SQL_CAPTION_ATTACH = """
WITH blocks AS (
  SELECT doc_id, 0 AS ord, 'm-' || md5(text) AS block FROM documents
  UNION ALL
  SELECT doc_id, 1 AS ord,
         array_to_string(list_slice(string_split(text,' '),1,6), ' ') AS block
  FROM documents
),
seq AS (
  SELECT doc_id, ord, block,
         lead(block) OVER (PARTITION BY doc_id ORDER BY ord) AS next_block
  FROM blocks
)
SELECT doc_id, block AS media_ref, next_block AS caption_text
FROM seq WHERE ord = 0
"""


# -- S2/S3: predicate gates with counted skip semantics --------------------------

def q_skip_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empty/undersized-payload gate (app/api.py:86-98) as a counted filter
    per source — quarantine accounting, not errors."""
    d = read_table(spark, sf_dir, "documents")
    ok = (F.length(F.trim(F.col("text"))) > 0) & (F.col("n_chars") >= 50)
    return (d.groupBy("source")
            .agg(F.sum(F.when(ok, 1).otherwise(0)).alias("accepted"),
                 F.sum(F.when(~ok, 1).otherwise(0)).alias("quarantined")))


SQL_SKIP_GATES = """
SELECT source,
       CAST(sum(CASE WHEN length(trim(text)) > 0 AND n_chars >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS accepted,
       CAST(sum(CASE WHEN NOT (length(trim(text)) > 0 AND n_chars >= 50) THEN 1 ELSE 0 END) AS BIGINT) AS quarantined
FROM documents
GROUP BY source
"""


# -- HTML boilerplate strip (text-density scoring) --------------------------------

def q_html_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wrap each doc's head in synthetic markup, then strip + density-score:
    the DOM-heuristic boilerplate filter on a checkable derivation."""
    d = read_table(spark, sf_dir, "documents")
    head = X.sql_lit('<div class="c"><p>')
    tail = X.sql_lit('</p><a href="/x">m</a></div>')
    markup = f"concat({head}, substring(text, 1, 80), {tail})"
    stripped = X.clean_text(X.strip_tags(markup))
    dens = X.html_density(f"length({markup})", stripped)
    return d.selectExpr(
        "doc_id", f"{stripped} AS main_text",
        f"round({dens}, 4) AS density",
        f"{X.is_main_content(dens)} AS is_main_content")


SQL_HTML_DENSITY = rf"""
WITH m AS (
  SELECT doc_id,
         '<div class="c"><p>' || substr(text, 1, 80) || '</p><a href="/x">m</a></div>' AS markup
  FROM documents
),
s AS (
  SELECT doc_id, markup,
         regexp_replace(
           regexp_replace(
             regexp_replace(regexp_replace(markup, '<[^>]*>', ' ', 'g'),
                            '{C.GLYPH_PATTERN}', ' ', 'g'),
             '[ \t]+', ' ', 'g'),
           '^\s+|\s+$', '', 'g') AS main_text
  FROM m
)
SELECT doc_id, main_text,
       round(CASE WHEN length(markup) > 0
                  THEN CAST(length(main_text) AS DOUBLE) / length(markup)
                  ELSE 0.0 END, 4) AS density,
       CASE WHEN length(markup) > 0
            THEN CAST(length(main_text) AS DOUBLE) / length(markup)
            ELSE 0.0 END >= {C.HTML_DENSITY_THRESHOLD} AS is_main_content
FROM s
"""


# -- S16: ref / parent-ref projection + hierarchy levels -------------------------

def q_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic stable refs (`#/<group>/<idx>`, the analog of docling
    self_ref, slice_extractor.py:87-103) and parent linkage: every block's
    parent is the most recent heading before it in reading order (the
    heading-level stack of SURVEY.md §1.1), headings parent to the doc root.
    `level` mirrors docling's traversal depth (page_extractor.py:87-95)."""
    from pyspark.sql import Window as W
    d = read_table(spark, sf_dir, "documents")
    words = F.split("text", " ", -1)
    # six word-chunks per doc; every 3rd chunk is a planted heading
    chunk = F.transform(
        F.sequence(F.lit(0), F.lit(5)),
        lambda i: F.array_join(F.slice(words, i * 4 + 1, 4), " "))
    blocks = d.select("doc_id", F.posexplode(chunk).alias("ord", "block_text"))
    is_head = F.col("ord") % 3 == 0
    blocks = blocks.select(
        "doc_id", "ord", "block_text",
        F.when(is_head, F.lit("heading")).otherwise(F.lit("paragraph")).alias("kind"))
    w = W.partitionBy("doc_id", "kind").orderBy("ord")
    blocks = blocks.withColumn(
        "ref", F.concat(F.lit("#/"), F.col("kind"), F.lit("/"),
                        (F.row_number().over(w) - 1).cast("string")))
    wseq = W.partitionBy("doc_id").orderBy("ord").rowsBetween(W.unboundedPreceding, -1)
    last_head = F.last(F.when(F.col("kind") == "heading", F.col("ref")),
                       ignorenulls=True).over(wseq)
    return blocks.select(
        "doc_id", F.col("ord").cast("bigint").alias("ord"), "kind", "ref",
        F.when(F.col("kind") == "heading", F.lit("#/doc"))
         .otherwise(F.coalesce(last_head, F.lit("#/doc"))).alias("parent_ref"),
        F.when(F.col("kind") == "heading", F.lit(1))
         .when(last_head.isNotNull(), F.lit(2)).otherwise(F.lit(1))
         .cast("bigint").alias("level"))


SQL_HIERARCHY = """
WITH blocks AS (
  SELECT doc_id, i AS ord,
         array_to_string(list_slice(string_split(text,' '), i*4 + 1, i*4 + 4), ' ') AS block_text,
         CASE WHEN i % 3 = 0 THEN 'heading' ELSE 'paragraph' END AS kind
  FROM documents, unnest(generate_series(0, 5)) AS t(i)
),
refs AS (
  SELECT doc_id, ord, kind,
         '#/' || kind || '/' ||
         CAST(row_number() OVER (PARTITION BY doc_id, kind ORDER BY ord) - 1 AS VARCHAR) AS ref
  FROM blocks
),
linked AS (
  SELECT doc_id, ord, kind, ref,
         last_value(CASE WHEN kind = 'heading' THEN ref END IGNORE NULLS)
           OVER (PARTITION BY doc_id ORDER BY ord
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_head
  FROM refs
)
SELECT doc_id, ord, kind, ref,
       CASE WHEN kind = 'heading' THEN '#/doc'
            ELSE coalesce(last_head, '#/doc') END AS parent_ref,
       CAST(CASE WHEN kind = 'heading' THEN 1
                 WHEN last_head IS NOT NULL THEN 2 ELSE 1 END AS BIGINT) AS level
FROM linked
"""


# -- S21/S22: positions + page dimensions (synthetic layout contract) ----------

def q_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six word-chunk blocks per doc laid out on the synthetic grid
    (contract.position_for / page_dims): Position fields rounded to 2
    decimals + per-page width/height — the lineage-metadata projection the
    reference emits per slice (slice_extractor.py:18-54,
    page_extractor.py:39-49)."""
    d = read_table(spark, sf_dir, "documents")
    words = F.split("text", " ", -1)
    chunk = F.transform(
        F.sequence(F.lit(0), F.lit(5)),
        lambda i: F.array_join(F.slice(words, i * 4 + 1, 4), " "))
    blocks = d.select("doc_id", F.posexplode(chunk).alias("ord", "block_text"))
    page = F.expr("ord div 3")
    block = (F.col("ord") % 3) * 7
    portrait = page % 2 == 0
    width = F.when(portrait, F.lit(C.PAGE_W_PORTRAIT)) \
             .otherwise(F.lit(C.PAGE_H_PORTRAIT))
    height = F.when(portrait, F.lit(C.PAGE_H_PORTRAIT)) \
              .otherwise(F.lit(C.PAGE_W_PORTRAIT))
    top = F.round(F.lit(C.MARGIN_PT)
                  + F.pmod(block, F.lit(C.LINES_PER_PAGE)) * F.lit(C.LINE_H_PT), 2)
    return blocks.select(
        "doc_id", F.col("ord").cast("bigint").alias("ord"), "block_text",
        (page + 1).cast("bigint").alias("page_num"),
        top.alias("top"),
        F.round(width - F.lit(C.MARGIN_PT), 2).alias("right"),
        F.round(top + F.lit(C.LINE_H_PT - C.LINE_GAP_PT), 2).alias("bottom"),
        F.lit(C.MARGIN_PT).alias("left"),
        F.lit(C.COORD_ORIGIN).alias("coord_origin"),
        width.alias("page_width"), height.alias("page_height"))


SQL_POSITIONS = f"""
WITH blocks AS (
  SELECT doc_id, i AS ord,
         coalesce(array_to_string(list_slice(string_split(text,' '), i*4 + 1, i*4 + 4), ' '), '') AS block_text,
         i // 3 AS page, (i % 3) * 7 AS block
  FROM documents, unnest(generate_series(0, 5)) AS t(i)
),
geo AS (
  SELECT doc_id, ord, block_text, page, block,
         CASE WHEN page % 2 = 0 THEN {C.PAGE_W_PORTRAIT!r} ELSE {C.PAGE_H_PORTRAIT!r} END AS page_width,
         CASE WHEN page % 2 = 0 THEN {C.PAGE_H_PORTRAIT!r} ELSE {C.PAGE_W_PORTRAIT!r} END AS page_height,
         round({C.MARGIN_PT!r} + (block % {C.LINES_PER_PAGE}) * {C.LINE_H_PT!r}, 2) AS top
  FROM blocks
)
SELECT doc_id, ord, block_text,
       CAST(page + 1 AS BIGINT) AS page_num,
       CAST(top AS DOUBLE) AS top,
       CAST(round(page_width - {C.MARGIN_PT!r}, 2) AS DOUBLE) AS "right",
       CAST(round(top + {C.LINE_H_PT - C.LINE_GAP_PT!r}, 2) AS DOUBLE) AS bottom,
       CAST({C.MARGIN_PT!r} AS DOUBLE) AS "left",
       '{C.COORD_ORIGIN}' AS coord_origin,
       CAST(page_width AS DOUBLE) AS page_width,
       CAST(page_height AS DOUBLE) AS page_height
FROM geo
"""


QUERIES = {
    "ext_glyph_clean": (q_glyph_clean, SQL_GLYPH_CLEAN),
    "ext_positions": (q_positions, SQL_POSITIONS),
    "ext_hierarchy": (q_hierarchy, SQL_HIERARCHY),
    "ext_reading_order": (q_reading_order, SQL_READING_ORDER),
    "ext_slice_numbering": (q_slice_numbering, SQL_SLICE_NUMBERING),
    "ext_kind_classify": (q_kind_classify, SQL_KIND_CLASSIFY),
    "ext_table_flatten": (q_table_flatten, SQL_TABLE_FLATTEN),
    "ext_fallback_rate": (q_fallback_rate, SQL_FALLBACK_RATE),
    "ext_doc_stats": (q_doc_stats, SQL_DOC_STATS),
    "ext_caption_attach": (q_caption_attach, SQL_CAPTION_ATTACH),
    "ext_skip_gates": (q_skip_gates, SQL_SKIP_GATES),
    "ext_html_density": (q_html_density, SQL_HTML_DENSITY),
}
