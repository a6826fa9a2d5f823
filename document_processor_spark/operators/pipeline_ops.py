"""The full extraction pipeline exposed as driver queries — WITH a real
DuckDB oracle.

`pipe_extract_catalyst` / `pipe_extract_arrow` derive a deterministic
interleaved (doc_id, spans[]) corpus from the `documents` parquet table
(every raw kind: pdf_text heading+body, html main/boilerplate/heading,
pdf_scan with and without page fallback, table_raw, media with/without alt
— SURVEY.md §2.1 S2-S28), run the REAL dataflow (explode → parse →
per-page fast→full fallback → reading order → renumber,
pipeline.extract_documents), and explode the result back to rows.  The
oracle re-states both the derivation and the whole extraction contract in
ANSI SQL: per-span extraction as CASE + regexp chains, the page-level
fallback decision as bool_or over fast text spans, reading order +
renumbering as one row_number window.  Blocks are unique per (doc, page)
by construction, so the crc32 tie-break never fires and (page, block)
ordering is total.

The fixture-corpus variants (generated input incl. the 50k-span skew doc)
stay under pytest (tests/test_pipeline_e2e.py) where the pure-Python
oracle checks them span-for-span.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import contract as C
from .. import pipeline
from ._scan import read_table
from ._scan import scratch_dir as _scratch_dir

_BOILER = '<nav class="m"><a href="/a">a</a><a href="/b">b</a></nav>'


def derived_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved input derived from the documents table: 7-8 spans per
    doc across 2 pages, every raw kind, unique (page, block) slots."""
    d = read_table(spark, sf_dir, "documents")
    w = F.split("text", " ", -1)
    w4 = F.array_join(F.slice(w, 1, 4), " ")
    h60 = F.substring("text", 1, 60)
    html_main = F.when(F.col("n_chars") % 5 == 0,
                       F.concat(F.lit("<h2>"), h60, F.lit("</h2>"))) \
                 .otherwise(F.concat(F.lit("<p>"), h60, F.lit("</p>")))
    table_payload = F.concat(F.lit("h1\th2\n"),
                             F.array_join(F.slice(w, 1, 2), "\t"))
    alt = F.when(F.col("n_chars") % 2 == 0, F.substring("text", 1, 12))
    scan_payload = F.concat(
        F.lit(C.SCAN_PREFIX),
        F.base64(F.encode(F.substring("text", 1, 40), "UTF-8")))
    tail = F.when(F.col("n_chars") % 3 != 0,
                  F.concat(F.lit("tail "), F.substring("text", 1, 20)))

    ns = F.lit(None).cast("string")

    def span(kind, text, mref, page, block):
        return F.struct(
            F.lit(kind).alias("kind"), text.alias("text"),
            mref.alias("media_ref"),
            F.lit(page * C.PAGE_STRIDE + block).cast("int").alias("offset"))

    spans = F.array(
        span("pdf_text", F.concat(F.lit("H1: "), w4), ns, 0, 0),
        span("pdf_text", F.col("text"), ns, 0, 1),
        span("html", html_main, ns, 0, 2),
        span("html", F.lit(_BOILER), ns, 0, 3),
        span("table_raw", table_payload, ns, 0, 4),
        span("media", alt, F.concat(F.lit("m-"), F.col("doc_id")), 0, 5),
        span("pdf_scan", scan_payload, ns, 1, 0),
        # present only when n_chars % 3 != 0: those docs keep page 1 on the
        # fast path; the others are scan-only on page 1 → full fallback
        F.when(F.col("n_chars") % 3 != 0,
               span("pdf_text", tail, ns, 1, 1)),
    )
    return d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.filter(spans, lambda s: s.isNotNull()).alias("spans"))


def _run(spark: SparkSession, sf_dir: str, engine: str) -> DataFrame:
    out = pipeline.extract_documents(derived_corpus(spark, sf_dir),
                                     engine=engine)
    return (out.select("doc_id", F.explode("spans").alias("s"))
            .select("doc_id", "s.kind", "s.text", "s.media_ref", "s.offset"))


def q_extract_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, sf_dir, "sql")


def q_extract_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, sf_dir, "arrow")


def q_extract_ocr_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8-S10 ocr_pipeline=fast: single fast converter (the reference's
    OcrPipeline.FAST, content_extractor.py:125-134) — scan regions yield
    nothing, every page accepted unconditionally, no fallback chain."""
    out = pipeline.extract_documents(derived_corpus(spark, sf_dir),
                                     engine="sql", ocr_pipeline="fast")
    return (out.select("doc_id", F.explode("spans").alias("s"))
            .select("doc_id", "s.kind", "s.text", "s.media_ref", "s.offset"))


def q_extract_ocr_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8-S10 ocr_pipeline=full: single full converter — every page
    full-parsed incl. scan decode; on the derived corpus the docs whose
    page 1 carries BOTH a tail text span and a scan span diverge from
    hybrid (hybrid drops the scan there)."""
    out = pipeline.extract_documents(derived_corpus(spark, sf_dir),
                                     engine="arrow", ocr_pipeline="full")
    return (out.select("doc_id", F.explode("spans").alias("s"))
            .select("doc_id", "s.kind", "s.text", "s.media_ref", "s.offset"))


def q_extract_page_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S6 page-range predicate: extract ONLY page 2 (first_page=2,
    last_page=2, 1-based like the reference's request params) of the
    derived two-page corpus.  Page 1 never enters the dataflow; offsets
    renumber from 0 within the restricted output; the scan-only documents
    exercise the fallback decision inside the restricted range."""
    out = pipeline.extract_documents(derived_corpus(spark, sf_dir),
                                     engine="sql", first_page=2, last_page=2)
    return (out.select("doc_id", F.explode("spans").alias("s"))
            .select("doc_id", "s.kind", "s.text", "s.media_ref", "s.offset"))


# --------------------------------------------------------------------------
# The ANSI-SQL restatement of derivation + extraction contract.
# The scan span's payload is stored already-decoded (the oracle knows the
# base64 round-trip is the identity); everything else mirrors contract.py.
# --------------------------------------------------------------------------

_CLEAN = ("regexp_replace(regexp_replace(regexp_replace({x}, "
          f"'{C.GLYPH_PATTERN}', ' ', 'g'), "
          r"'[ \t]+', ' ', 'g'), '^\s+|\s+$', '', 'g')")

_FLAT_TABLE = (
    "array_to_string(list_transform(string_split({x}, E'\\n'), row -> "
    "array_to_string(list_transform(string_split(row, E'\\t'), cell -> "
    + _CLEAN.format(x="cell") + "), E'\\t')), E'\\n')")

def _sql_pipe_extract(span_where: str = "", mode: str = "hybrid") -> str:
    """The oracle SQL, optionally with a page predicate on the raw spans —
    the SQL restatement of the pre-explode array filter (explode_spans
    first_page/last_page) — and an ocr_pipeline mode: the converter-chain
    choice (hybrid/fast/full) is one predicate on the chosen spans (see
    pipeline.assemble)."""
    chosen_cond = {
        "hybrid": "(NOT p.has_text OR e.kind <> 'pdf_scan')",
        "fast": "e.kind <> 'pdf_scan'",
        "full": "TRUE",
    }[mode]
    return _SQL_PIPE_EXTRACT_TEMPLATE.format(span_where=span_where,
                                             chosen_cond=chosen_cond)


_SQL_PIPE_EXTRACT_TEMPLATE = f"""
WITH raw AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, text, n_chars,
         string_split(text, ' ') AS w
  FROM documents
),
spans AS (
  SELECT doc_id, 0 AS page, 0 AS block, 'pdf_text' AS kind,
         'H1: ' || array_to_string(list_slice(w, 1, 4), ' ') AS payload,
         NULL AS mref FROM raw
  UNION ALL SELECT doc_id, 0, 1, 'pdf_text', text, NULL FROM raw
  UNION ALL SELECT doc_id, 0, 2, 'html',
         CASE WHEN n_chars % 5 = 0 THEN '<h2>' || substr(text, 1, 60) || '</h2>'
              ELSE '<p>' || substr(text, 1, 60) || '</p>' END, NULL FROM raw
  UNION ALL SELECT doc_id, 0, 3, 'html', '{_BOILER}', NULL FROM raw
  UNION ALL SELECT doc_id, 0, 4, 'table_raw',
         'h1' || E'\\t' || 'h2' || E'\\n'
         || array_to_string(list_slice(w, 1, 2), E'\\t'), NULL FROM raw
  UNION ALL SELECT doc_id, 0, 5, 'media',
         CASE WHEN n_chars % 2 = 0 THEN substr(text, 1, 12) END,
         'm-' || doc_id FROM raw
  UNION ALL SELECT doc_id, 1, 0, 'pdf_scan', substr(text, 1, 40), NULL FROM raw
  UNION ALL SELECT doc_id, 1, 1, 'pdf_text', 'tail ' || substr(text, 1, 20),
         NULL FROM raw WHERE n_chars % 3 != 0
),
c1 AS (
  SELECT doc_id, page, block, kind, payload, mref,
         {_CLEAN.format(x="CASE WHEN kind = 'html' THEN regexp_replace(payload, '<[^>]*>', ' ', 'g') ELSE payload END")} AS cleaned,
         CASE WHEN kind = 'table_raw' THEN {_FLAT_TABLE.format(x="payload")} END AS flat
  FROM spans {{span_where}}
),
ext AS (
  SELECT doc_id, page, block, kind,
    CASE
      WHEN kind IN ('pdf_text', 'pdf_scan') AND cleaned <> ''
        THEN CASE WHEN cleaned LIKE 'H1:%' OR cleaned LIKE 'H2:%'
                  THEN 'heading' ELSE 'paragraph' END
      WHEN kind = 'html' AND cleaned <> ''
           AND CAST(length(cleaned) AS DOUBLE) / length(payload) >= {C.HTML_DENSITY_THRESHOLD}
        THEN CASE WHEN regexp_matches(payload, '(?i)^\\s*<h[1-6][\\s>]')
                  THEN 'heading' ELSE 'paragraph' END
      WHEN kind = 'table_raw' AND regexp_replace(flat, '\\s', '', 'g') <> ''
        THEN 'table'
      WHEN kind = 'media'
        THEN CASE WHEN payload IS NOT NULL AND cleaned <> ''
                  THEN 'figure' ELSE 'media_ref' END
    END AS full_kind,
    CASE
      WHEN kind IN ('pdf_text', 'pdf_scan', 'html') THEN nullif(cleaned, '')
      WHEN kind = 'table_raw' THEN flat
      WHEN kind = 'media' AND payload IS NOT NULL AND cleaned <> '' THEN cleaned
    END AS full_text,
    CASE WHEN kind = 'media' THEN mref END AS out_mref
  FROM c1
),
page_pick AS (
  SELECT doc_id, page,
         bool_or(full_kind IN ('heading', 'paragraph')
                 AND kind <> 'pdf_scan') AS has_text
  FROM ext GROUP BY doc_id, page
),
chosen AS (
  SELECT e.doc_id, e.page, e.block, e.full_kind, e.full_text, e.out_mref
  FROM ext e JOIN page_pick p USING (doc_id, page)
  WHERE e.full_kind IS NOT NULL AND {{chosen_cond}}
)
SELECT doc_id, full_kind AS kind, full_text AS text, out_mref AS media_ref,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY page, block) - 1
            AS INTEGER) AS offset
FROM chosen
"""


SKEW_MOD = 100
SKEW_N = 2000


def skew_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-heavy input: hot documents (doc_id % SKEW_MOD == 0) carry
    SKEW_N pdf_text spans while the rest carry 2 — the shape of the
    flagship fixture's 50k-span doc (entry()), re-derived from the
    documents table so it earns a DuckDB oracle.  Exercises assemble's
    per-doc collect+sort aggregation under one giant group: reading order
    is a per-doc total order, so the group is irreducible at any scale —
    the engine must survive the straggler, not re-shard it."""
    d = read_table(spark, sf_dir, "documents")
    n = F.when(F.col("doc_id") % SKEW_MOD == 0,
               F.lit(SKEW_N)).otherwise(F.lit(2))
    head = F.substring("text", 1, 20)

    def mk(i):
        return F.struct(
            F.lit("pdf_text").alias("kind"),
            F.concat(F.when(i % 10 == 0, F.lit("H1: ")).otherwise(F.lit("")),
                     head, F.lit(" "), i.cast("string")).alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            i.cast("int").alias("offset"))

    return d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.transform(F.sequence(F.lit(0), n - 1), mk).alias("spans"))


def q_extract_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5-S15 under heavy per-document skew — the driver-row twin of the
    pytest-only flagship skew doc (verdict r3 item 9)."""
    out = pipeline.extract_documents(skew_corpus(spark, sf_dir),
                                     engine="sql")
    return (out.select("doc_id", F.explode("spans").alias("s"))
            .select("doc_id", "s.kind", "s.text", "s.media_ref", "s.offset"))


# all spans are non-empty pdf_text on page 0, so the extraction contract
# reduces to glyph-clean + the heading-prefix classification + renumber;
# the fallback/page machinery is identity here (no pdf_scan anywhere)
SQL_PIPE_EXTRACT_SKEW = f"""
WITH raw AS (
  SELECT doc_id AS did, CAST(doc_id AS VARCHAR) AS doc_id, text
  FROM documents
),
series AS (
  SELECT i FROM generate_series(0, {SKEW_N} - 1) AS t(i)
),
spans AS (
  SELECT doc_id, i,
         CASE WHEN i % 10 = 0 THEN 'H1: ' ELSE '' END
           || substr(text, 1, 20) || ' ' || i AS payload
  FROM raw JOIN series
    ON i < CASE WHEN did % {SKEW_MOD} = 0 THEN {SKEW_N} ELSE 2 END
),
c1 AS (
  SELECT doc_id, i, {_CLEAN.format(x="payload")} AS cleaned FROM spans
)
SELECT doc_id,
       CASE WHEN cleaned LIKE 'H1:%' OR cleaned LIKE 'H2:%'
            THEN 'heading' ELSE 'paragraph' END AS kind,
       cleaned AS text,
       CAST(NULL AS VARCHAR) AS media_ref,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1
            AS INTEGER) AS offset
FROM c1
"""


def q_extract_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end integration: the extraction engine's output feeds the
    curation stats in ONE declarative plan — no materialization between
    the parse/assemble stages and the corpus ops.  Per document: span
    count, reconstructed text (reading-order concat of textual spans —
    map-side, the spans array is already offset-ordered), token count,
    content hash, and exact-dedup keeper election over the EXTRACTED text
    (one narrow hash shuffle; the full text never re-shuffles after the
    extraction aggregation itself)."""
    from pyspark.sql import Window
    out = pipeline.extract_documents(derived_corpus(spark, sf_dir),
                                     engine="sql")
    text = F.array_join(
        F.transform(
            F.filter("spans", lambda s: s["text"].isNotNull()),
            lambda s: s["text"]), " ")
    docd = out.select(
        "doc_id",
        F.size("spans").cast("int").alias("n_spans"),
        text.alias("text"))
    w = Window.partitionBy("content_hash")
    return (docd.select(
                "doc_id", "n_spans",
                F.size(F.split("text", " ", -1)).cast("bigint")
                 .alias("tokens"),
                F.md5("text").alias("content_hash"))
            .withColumn("keeper", F.min("doc_id").over(w))
            .withColumn("n_copies", F.count(F.lit(1)).over(w).cast("bigint"))
            .filter(F.col("doc_id") == F.col("keeper"))
            .select("doc_id", "n_spans", "tokens", "content_hash",
                    "n_copies"))


SQL_PIPE_EXTRACT = _sql_pipe_extract()

# extraction oracle composed with the curation stats — one SQL statement
# mirroring the one Spark plan of q_extract_curate
SQL_PIPE_EXTRACT_CURATE = f"""
WITH ext AS ({_sql_pipe_extract()}),
doc AS (
  SELECT doc_id,
         CAST(count(*) AS INTEGER) AS n_spans,
         coalesce(string_agg(text, ' ' ORDER BY "offset"), '') AS text
  FROM ext GROUP BY doc_id
),
scored AS (
  SELECT doc_id, n_spans,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens,
         md5(text) AS content_hash
  FROM doc
)
SELECT doc_id, n_spans, tokens, content_hash, n_copies
FROM (
  SELECT *, min(doc_id) OVER (PARTITION BY content_hash) AS keeper,
         CAST(count(*) OVER (PARTITION BY content_hash) AS BIGINT)
           AS n_copies
  FROM scored)
WHERE doc_id = keeper
"""
# first_page=2, last_page=2 (1-based) == raw page index 1 only
SQL_PIPE_EXTRACT_PAGE_RANGE = _sql_pipe_extract(
    "WHERE page BETWEEN 1 AND 1")

SQL_PIPE_EXTRACT_OCR_FAST = _sql_pipe_extract(mode="fast")
SQL_PIPE_EXTRACT_OCR_FULL = _sql_pipe_extract(mode="full")

def q_extract_synth_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extraction fed by the `dps_synth` custom Python DataSource
    (sources/synth_source.py): corpus generation happens PARTITION-
    PARALLEL on the executors — the load path a 10^12-doc synthetic run
    uses instead of a driver-side createDataFrame.  Rows-only driver
    check (the generated corpus has no DuckDB table); span-for-span
    equality with the driver-side fixture path and with the pure-Python
    oracle is pinned by tests/test_synth_source.py."""
    from ..sources import register_synth_source
    register_synth_source(spark)
    src = (spark.read.format("dps_synth")
           .option("sf", "0.001")
           .option("numPartitions",
                   str(spark.sparkContext.defaultParallelism))
           .load())
    out = pipeline.extract_documents(src, engine="sql")
    return (out.select("doc_id", F.explode("spans").alias("s"))
            .select("doc_id", "s.kind", "s.text", "s.media_ref", "s.offset"))


def q_extract_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL interchange sink + source: the derived corpus is written as
    newline-delimited JSON (to_json over the full nested span struct —
    the training-data interchange format), read back with from_json
    against the exact input DDL, and extracted.  The round trip must be
    the identity on the nested schema (null media_ref key-dropped and
    restored, int offsets, escaped HTML payloads), so the oracle is the
    SAME SQL_PIPE_EXTRACT the parquet-fed flagship uses — any JSON
    fidelity loss breaks the hash.  The result is pinned eagerly
    (localCheckpoint) before the staging dir is removed; both JSON codec
    passes are native Catalyst expressions, no Python in the loop."""
    import shutil
    import tempfile
    from pathlib import Path

    from ..fixtures import INPUT_DDL
    base = _scratch_dir("jsonl_rt_")
    try:
        (derived_corpus(spark, sf_dir)
         .select(F.to_json(F.struct("doc_id", "spans")).alias("value"))
         .write.mode("overwrite").text(str(base / "out")))
        back = (spark.read.text(str(base / "out"))
                .select(F.from_json("value", INPUT_DDL).alias("d"))
                .select("d.doc_id", "d.spans"))
        out = pipeline.extract_documents(back, engine="sql")
        result = (out.select("doc_id", F.explode("spans").alias("s"))
                  .select("doc_id", "s.kind", "s.text", "s.media_ref",
                          "s.offset")
                  .localCheckpoint(eager=True))
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return result


def q_extract_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV interchange sink + source: CSV cannot hold nested arrays, so
    the corpus ships FLAT — one row per span with its array ordinal —
    and the reader re-assembles the nested input (array_sort on the
    ordinal-first struct, then project the ordinal away) before
    extraction.  Null vs empty-string survives via an explicit \\N
    nullValue token on BOTH sides (CSV's classic fidelity trap: the
    default maps both to null); quotes/escapes are exercised by the HTML
    payloads.  The oracle is the SAME SQL_PIPE_EXTRACT as the parquet
    flagship — any CSV fidelity loss breaks the hash.  Scale note: the
    re-assembly groupBy is ONE extra shuffle keyed on doc_id, and the
    span texts embed real newlines so the read needs multiLine=true,
    which makes each CSV file single-split — two structural reasons
    (shuffle + lost splittability) why parquet/ORC/JSONL are the 10^12
    formats and CSV is interchange-only.  The writer quotes embedded
    newlines/commas itself; null vs empty survives via the \\N token."""
    import shutil
    import tempfile
    from pathlib import Path

    base = _scratch_dir("csv_rt_")
    opts = {"header": "true", "nullValue": "\\N", "escape": '"'}
    try:
        flat = (derived_corpus(spark, sf_dir)
                .select("doc_id", F.posexplode("spans").alias("idx", "s"))
                .select("doc_id", "idx", "s.kind", "s.text", "s.media_ref",
                        "s.offset"))
        flat.write.mode("overwrite").options(**opts).csv(str(base / "out"))
        back = (spark.read.options(**opts).option("multiLine", "true")
                .schema("doc_id string, idx int, kind string, text string, "
                        "media_ref string, offset int")
                .csv(str(base / "out")))
        nested = (back.groupBy("doc_id")
                  .agg(F.transform(
                      F.array_sort(F.collect_list(F.struct(
                          "idx", "kind", "text", "media_ref", "offset"))),
                      lambda s: F.struct(
                          s["kind"].alias("kind"),
                          s["text"].alias("text"),
                          s["media_ref"].alias("media_ref"),
                          s["offset"].alias("offset"))).alias("spans")))
        out = pipeline.extract_documents(nested, engine="sql")
        result = (out.select("doc_id", F.explode("spans").alias("s"))
                  .select("doc_id", "s.kind", "s.text", "s.media_ref",
                          "s.offset")
                  .localCheckpoint(eager=True))
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return result


def q_extract_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC interchange sink + source: the derived corpus is written as
    ORC (the second columnar format big ingest estates carry alongside
    parquet — nested array<struct> columns round-trip natively, no codec
    shim), read back, and extracted.  The round trip must be the identity
    on the nested schema, so the oracle is the SAME SQL_PIPE_EXTRACT the
    parquet-fed flagship uses — any ORC fidelity loss (null media_ref,
    int widths, struct field order) breaks the hash.  Scale shape: ORC
    scan/sink are JVM-native and split-parallel exactly like parquet;
    predicate pushdown and column pruning apply the same way, so the
    extraction plan is unchanged downstream of the scan."""
    import shutil
    import tempfile
    from pathlib import Path

    base = _scratch_dir("orc_rt_")
    try:
        (derived_corpus(spark, sf_dir)
         .write.mode("overwrite").orc(str(base / "out")))
        back = spark.read.orc(str(base / "out")).select("doc_id", "spans")
        out = pipeline.extract_documents(back, engine="sql")
        result = (out.select("doc_id", F.explode("spans").alias("s"))
                  .select("doc_id", "s.kind", "s.text", "s.media_ref",
                          "s.offset")
                  .localCheckpoint(eager=True))
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return result


QUERIES = {
    "pipe_extract_catalyst": (q_extract_sql, SQL_PIPE_EXTRACT),
    "pipe_extract_orc_roundtrip": (q_extract_orc_roundtrip,
                                   SQL_PIPE_EXTRACT),
    "pipe_extract_synth_source": (q_extract_synth_source, None),
    "pipe_extract_jsonl_roundtrip": (q_extract_jsonl_roundtrip,
                                     SQL_PIPE_EXTRACT),
    "pipe_extract_csv_roundtrip": (q_extract_csv_roundtrip,
                                   SQL_PIPE_EXTRACT),
    "pipe_extract_arrow": (q_extract_arrow, SQL_PIPE_EXTRACT),
    "pipe_extract_page_range": (q_extract_page_range,
                                SQL_PIPE_EXTRACT_PAGE_RANGE),
    "pipe_extract_ocr_fast": (q_extract_ocr_fast, SQL_PIPE_EXTRACT_OCR_FAST),
    "pipe_extract_ocr_full": (q_extract_ocr_full, SQL_PIPE_EXTRACT_OCR_FULL),
    "pipe_extract_curate": (q_extract_curate, SQL_PIPE_EXTRACT_CURATE),
    "pipe_extract_skew": (q_extract_skew, SQL_PIPE_EXTRACT_SKEW),
}
