"""The end-to-end Spark extraction pipeline.

Dataflow (SURVEY.md §3.5) — two shuffles total, no joins::

    input (doc_id, spans[])                       Iceberg/Parquet scan
      └─ explode ──────────────────────────────── span rows (narrow)
      └─ parse: fast+full extraction per span ─── narrow (codegen or Arrow)
      └─ groupBy(doc_id, page) ────────────────── shuffle 1 (partial agg —
           per-page fast/full arrays + has_text     the page level IS the
           = the OCR-fallback decision, T4)         salting of giant docs)
      └─ groupBy(doc_id) ──────────────────────── shuffle 2
           sort pages, flatten, renumber (T1)
      └─ filter non-empty ─────────────────────── output (doc_id, spans[])

The per-page fast→full fallback is set-based: spans are parsed ONCE with a
`scan_only` flag (fast pass result ≡ the non-scan subset, T4) and the page
picks the filtered or the whole span set — the reference's
try-fast-then-escalate loop (content_extractor.py:74-135) without a second
scan, a join, or duplicated fast/full columns.  The two-level aggregation (page, then doc) is the explicit
skew treatment for heavy-tailed documents: a 1000-page/50k-span document
becomes 1000 independent page groups with map-side partial aggregation,
never one giant reduce task (BASELINE.json north_rule "skew handled
explicitly").

Two interchangeable parse engines produce the identical `parsed` schema:

* ``engine="sql"``    — pure Catalyst expressions (whole-stage codegen,
                        zero Python).  Fastest for the string-encoded
                        fixture payloads.
* ``engine="arrow"``  — ``mapInArrow`` with a pyarrow-native kernel: the
                        shape the real byte-stream parser (PDF layout
                        analysis / OCR) takes at 100 TB, where parsing is
                        not SQL-expressible.  Same contract, tested for
                        parity; see the stage-2b commentary for why the
                        kernel avoids Python-object materialization.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from . import contract as C
from .functions import cleaning as X

# The parsed schema is NARROW by design: one (kind, text, media_ref) per
# span plus a `scan_only` flag, NOT parallel fast_*/full_* column pairs.
# The fast pipeline's view of a span differs from the full pipeline's ONLY
# on scan regions (fast = nothing, T4), so fast ≡ full minus scan_only rows
# — carrying both variants would double the string volume through the parse
# stage, the Python↔JVM Arrow transfer, and the aggregation buffers for
# zero information.
PARSED_DDL = ("doc_id string, page int, block int, "
              "kind string, text string, media_ref string, scan_only boolean")

# The (doc_id, page) shuffle ahead of the parse stage gets an EXPLICIT
# partition count: repartition(cols) without one lets AQE coalesce by byte
# size (64 MB advisory), which on a CPU-bound stage yields too few tasks —
# measured 47 tasks on 32 cores = 2 scheduling waves with the second wave
# half empty (~30% of the cluster idle).  cores × WAVES gives every core
# WAVES uniform task slots, so the tail is one short task, not half a wave.
# The ceiling counts at least 8 cores, so small hosts still get 8 × WAVES.
#
# The count is additionally SIZE-AWARE: cores × factor is the ceiling for
# big inputs, but a small input stops at one task per ~TARGET bytes (floor:
# one task per core).  Without the cap, a sf0.1 bench corpus paid 192 tasks
# of scheduling overhead on work that fits a single 32-task wave (measured
# +44% on the small-scale extract; the interleaved A/B diagnostic that
# isolated the per-task cost is in git history, not in the tree).
_PARSE_WAVE_FACTOR = 6
# mapInArrow tasks each pay a fixed Python-worker round trip (stream
# open/close + first-batch latency; ~80 ms/task on a 4-core local[4] box,
# measured as the wall of a tiny-input parse at 64 vs 4 tasks, ~310 ms
# before the worker-side zip guard below), so the arrow stage wants FEWER,
# larger tasks than the pure-JVM stage: 2 waves balances that
# amortization against scheduling granularity.
_ARROW_WAVE_FACTOR = 2
# Bytes of plan-stats input per parse task.  Deliberately far below AQE's
# 64 MB shuffle advisory: the parse stage is CPU-bound (regex battery per
# string), so a task is sized for ~0.5-1 s of compute, not for IO
# amortization — 64 MB slices re-create the 47-tasks-on-32-cores ragged
# wave the explicit count exists to avoid.
_TARGET_PARTITION_BYTES = 12 << 20


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's own size estimate for the optimized plan (bytes).  For a
    cached/materialized input this is accurate; for a cold scan it falls
    back to file-size-derived stats — either way the right ORDER for sizing
    a partition count.  A post-explode plan inflates the top-level estimate
    multiplicatively (worst-case row fan-out) into Long.MaxValue-ish
    sentinels; exploding an array redistributes roughly the SAME bytes over
    more rows, so when the top-level number is unusable the sum of the LEAF
    sizes (parquet scan = file bytes, cache = materialized bytes, local
    relation = row estimate) is the honest proxy.  None when nothing in the
    plan carries a usable size."""
    def _as_int(size) -> int | None:
        try:
            v = int(size if isinstance(size, int) else size.toString())
        except Exception:
            return None
        return v if 0 < v < (1 << 50) else None

    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        top = _as_int(plan.stats().sizeInBytes())
        if top is not None:
            return top
        leaves = plan.collectLeaves()
        total = 0
        for i in range(leaves.length()):
            leaf = _as_int(leaves.apply(i).stats().sizeInBytes())
            if leaf is not None:
                total += leaf
        return total or None
    except Exception:
        return None


def _parse_partitions(df: DataFrame, factor: int = _PARSE_WAVE_FACTOR) -> int:
    """Explicit partition count for the (doc_id, page) parse shuffle:
    one task per _TARGET_PARTITION_BYTES of plan size, at least one per
    core, at most `factor` waves."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    upper = factor * max(cores, 8)
    size = _plan_size_bytes(df)
    if size is None:
        return upper
    need = -(-size // _TARGET_PARTITION_BYTES)
    return max(min(upper, need), cores)


def _arrow_partitions(df: DataFrame) -> int:
    return _parse_partitions(df, _ARROW_WAVE_FACTOR)


def _clustered_by_doc(rows: DataFrame) -> bool:
    """True when the input's physical plan is already hash-partitioned on a
    subset of {doc_id, page} with at least core-count parallelism.  Then
    the explicit parse repartition is REDUNDANT — and so are both assembly
    exchanges, because HashPartitioning on a subset of the grouping keys
    satisfies the ClusteredDistribution of both the (doc_id, page) and the
    (doc_id) aggregation (guide §2.4: remove shuffles outright where the
    data is already partitioned as needed).  A corpus that arrives
    partitioned by doc_id (bucketed table, upstream repartition, cache)
    runs the WHOLE extract shuffle-free: scan → parse → page agg → doc agg
    in one stage.  Skew note: this keeps each document's pages on one
    task, which is exactly the trade the upstream partitioning already
    made; inputs without that layout keep the page-level salting path
    below.  Any inspection failure falls back to the repartition."""
    try:
        sess = rows.sparkSession
        plan = rows._jdf.queryExecution().sparkPlan()
        part = plan.outputPartitioning()
        if part.getClass().getSimpleName() != "HashPartitioning":
            return False
        if part.numPartitions() < sess.sparkContext.defaultParallelism:
            return False
        outs = {plan.output().apply(i).toString()
                for i in range(plan.output().length())
                if plan.output().apply(i).name() in ("doc_id", "page")}
        exprs = part.expressions()
        names = [exprs.apply(i).toString() for i in range(exprs.length())]
        return bool(names) and all(n in outs for n in names)
    except Exception:
        return False


# ---------------------------------------------------------------------------
# stage 1 — explode the input table into span rows
# ---------------------------------------------------------------------------

def explode_spans(docs: DataFrame, first_page: int = 1,
                  last_page: int | None = None) -> DataFrame:
    """Explode the input table into span rows, optionally bounded to a page
    range.  `first_page`/`last_page` are 1-based and inclusive — the
    reference's request parameters bounding the per-page loop
    (app/api.py:69-70, content_extractor.py:64-70; SURVEY §2.1 S6).  The
    range is applied as an array filter on raw offsets BEFORE the explode,
    so out-of-range pages never enter the fan-out, the parse, or the
    shuffles — at scale, page-range requests cost proportional to the
    pages kept, not the document size."""
    if first_page > 1 or last_page is not None:
        lo = (first_page - 1) * C.PAGE_STRIDE
        hi = None if last_page is None else last_page * C.PAGE_STRIDE

        def keep(s):
            cond = s["offset"] >= F.lit(lo)
            if hi is not None:
                cond = cond & (s["offset"] < F.lit(hi))
            return cond

        docs = docs.withColumn("spans", F.filter("spans", keep))
    return (docs.selectExpr("doc_id", "explode(spans) AS s")
            .selectExpr(
                "doc_id",
                f"CAST(s.offset div {C.PAGE_STRIDE} AS INT) AS page",
                f"CAST(pmod(s.offset, {C.PAGE_STRIDE}) AS INT) AS block",
                "s.kind AS raw_kind",
                "s.text AS raw_text",
                "s.media_ref AS raw_media_ref"))


# ---------------------------------------------------------------------------
# stage 2a — native-Catalyst parse (fast + full variants per span)
# ---------------------------------------------------------------------------

def parse_sql(rows: DataFrame) -> DataFrame:
    """Per-span extraction as pure Catalyst expressions, in two stages:

    shuffle first: explicit repartition on (doc_id, page) over the raw
    exploded rows.  This is the shuffle the page aggregation needs anyway,
    and doing it BEFORE the heavy expressions is the skew treatment: a
    1000-page document (or several hashed into one input partition) spreads
    across the whole cluster before any regex runs — the pre-shuffle work is
    just explode + shuffle write of raw text.  When the input already
    arrives hash-partitioned on doc_id (see _clustered_by_doc) the
    repartition is skipped and the whole extract plan is exchange-free.

    stage A projects each span's derivation (the cleaned, decoded,
    tag-stripped or flattened string) as ONE `CASE raw_kind` column, next
    to the cheap side values the gates need (raw html length, heading tag).
    Each kind's regex battery appears once in the plan.

    stage B reads only projected columns: the gates (non-empty, html
    density, table blank) turn the derivation into the span's text or
    null, then the kind is classified from that text.  Gates and
    classification each read a projected column more than once, which is
    what keeps CollapseProject from inlining a copy of the derivation
    (the reason the gates are CASE tests, not nullif: Spark inlines
    nullif's argument into its branches).  The (doc_id, page)
    partitioning survives both projections, so the page agg runs without
    another exchange.
    """
    if not _clustered_by_doc(rows):
        rows = rows.repartition(_parse_partitions(rows), "doc_id", "page")

    def raw_is(*kinds: str) -> str:
        return f"raw_kind IN ({', '.join(map(X.sql_lit, kinds))})"

    # pdf_text and media alt text share one clean: a null text cleans to
    # '' (dropped text; a media span without alt text) either way
    derived = (
        f"CASE WHEN {raw_is(C.RAW_PDF_TEXT, C.RAW_MEDIA)} "
        f"THEN {X.clean_text('raw_text')} "
        f"WHEN {raw_is(C.RAW_PDF_SCAN)} "
        f"THEN {X.clean_text(X.decode_scan('raw_text'))} "
        f"WHEN {raw_is(C.RAW_HTML)} "
        f"THEN {X.clean_text(X.strip_tags('raw_text'))} "
        f"WHEN {raw_is(C.RAW_TABLE)} THEN {X.flatten_table('raw_text')} END")
    stage_a = rows.selectExpr(
        "doc_id", "page", "block", "raw_kind", "raw_media_ref",
        f"{derived} AS derived",
        f"CASE WHEN {raw_is(C.RAW_HTML)} THEN length(raw_text) END AS h_len",
        f"CASE WHEN {raw_is(C.RAW_HTML)} "
        f"THEN {X.html_is_heading('raw_text')} END AS h_head")

    # One (kind, text) per span + scan_only (see PARSED_DDL): the fast
    # pipeline's result is derived downstream as "non-scan_only rows" (T4),
    # never materialized as a second column set.
    keep = (
        f"CASE WHEN {raw_is(C.RAW_HTML)} THEN derived != '' AND "
        f"{X.is_main_content(X.html_density('h_len', 'derived'))} "
        f"WHEN {raw_is(C.RAW_TABLE)} THEN NOT {X.is_blank('derived')} "
        f"ELSE derived != '' END")
    gated = stage_a.selectExpr(
        "doc_id", "page", "block", "raw_kind", "raw_media_ref", "h_head",
        f"CASE WHEN {keep} THEN derived END AS text")
    kind = (
        f"CASE WHEN text IS NULL THEN CASE WHEN {raw_is(C.RAW_MEDIA)} "
        f"THEN {X.sql_lit(C.KIND_MEDIA_REF)} END "
        f"WHEN {raw_is(C.RAW_HTML)} THEN CASE WHEN h_head "
        f"THEN {X.sql_lit(C.KIND_HEADING)} "
        f"ELSE {X.sql_lit(C.KIND_PARAGRAPH)} END "
        f"WHEN {raw_is(C.RAW_TABLE)} THEN {X.sql_lit(C.KIND_TABLE)} "
        f"WHEN {raw_is(C.RAW_MEDIA)} THEN {X.sql_lit(C.KIND_FIGURE)} "
        f"ELSE {X.classify_textual('text')} END")
    return gated.selectExpr(
        "doc_id", "page", "block", f"{kind} AS kind", "text",
        f"CASE WHEN {raw_is(C.RAW_MEDIA)} THEN raw_media_ref END"
        " AS media_ref",
        f"coalesce({raw_is(C.RAW_PDF_SCAN)}, false) AS scan_only")


# ---------------------------------------------------------------------------
# stage 2b — Arrow parse (mapInArrow): the real-parser shape
# ---------------------------------------------------------------------------
#
# This is the shape a real byte-stream parser (PDF layout analysis / OCR)
# takes at 100 TB: Arrow batches stream from the JVM into a reused Python
# worker, the kernel does its work in NATIVE code over the batch, and Arrow
# batches stream back.  The kernel below keeps the Python layer thin the
# same way a real parser would (pdfium/tesseract do the heavy work in C):
#
# * string transforms run in pyarrow.compute (RE2 + Arrow C++ kernels)
#   directly on the received buffers — the strings are NEVER materialized
#   as Python objects.  The earlier pandas-object kernel decoded every
#   string into a PyObject and back per batch, which multiplied per-row
#   memory traffic ~5x and pinned the stage at the host's memory-bandwidth
#   ceiling — flat scaling beyond ~8 cores while the catalyst engine (same
#   bus) scaled at 0.89 (BENCH/BASELINE.md r2).
# * per-row Python survives ONLY where the contract is genuinely
#   imperative — base64 scan decode (the "call tesseract on this region"
#   analog) and nested table flattening — and runs on the per-kind SUBSET,
#   never the whole batch.
# * per-kind work uses take(subset) + one output sub-batch per kind (row
#   order after parse is irrelevant: assembly sorts within page groups), so
#   nothing is ever scattered back row-by-row.
# * the package's import installs zip_guard in the worker, so a reused
#   worker re-reads Spark's zip archives on its first task only.

def _kernel_clean(pc, arr):
    """contract.clean_text over an Arrow string array (T3).  RE2 and Python
    `re` agree on these patterns for the ASCII-whitespace corpora the
    contract covers (contract.py:30-36 documents the same tolerance for the
    Java regex engine).  Same single pass as the Catalyst engine
    (C.GLYPH_RUN_PATTERN proof): one RE2 rebuild plus a set-based trim."""
    from . import contract as Ct
    a = pc.replace_substring_regex(arr, pattern=Ct.GLYPH_RUN_PATTERN,
                                   replacement=" ")
    return pc.utf8_trim(a, characters=Ct.JAVA_WS)


def _kernel_classify(pa, pc, cl):
    """heading/paragraph (T2): startswith any HEADING_MARKER."""
    from . import contract as Ct
    m = None
    for marker in Ct.HEADING_MARKERS:
        s = pc.starts_with(cl, pattern=marker)
        m = s if m is None else pc.or_(m, s)
    return pc.if_else(m, pa.scalar(Ct.KIND_HEADING),
                      pa.scalar(Ct.KIND_PARAGRAPH))


def _parse_arrow_batch(batch) -> Iterator["object"]:
    """Parse one Arrow batch of raw span rows into the narrow parsed schema
    (PARSED_DDL), yielding one sub-batch per raw kind class.  Every input
    row appears in exactly one output sub-batch (dropped spans keep their
    row with kind=null — the page inventory needs the (doc_id, page) pair,
    S28)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from . import contract as Ct

    kind = batch.column("raw_kind")
    text = batch.column("raw_text")
    mref = batch.column("raw_media_ref")
    keys = (batch.column("doc_id"), batch.column("page"),
            batch.column("block"))

    schema = pa.schema([
        pa.field("doc_id", pa.string()), pa.field("page", pa.int32()),
        pa.field("block", pa.int32()), pa.field("kind", pa.string()),
        pa.field("text", pa.string()), pa.field("media_ref", pa.string()),
        pa.field("scan_only", pa.bool_()),
    ])

    def sub(idx, kinds, texts, mrefs, scan):
        k = [pc.take(c, idx) for c in keys]
        n = len(idx)
        return pa.record_batch(
            [*k, kinds, texts,
             mrefs if mrefs is not None else pa.nulls(n, pa.string()),
             pa.array([scan] * n, pa.bool_()) if isinstance(scan, bool)
             else scan],
            schema=schema)

    def gated(ok, cl):
        """(classified kind, text) with null where the span is dropped."""
        null_s = pa.scalar(None, pa.string())
        kinds = pc.if_else(ok, _kernel_classify(pa, pc, cl), null_s)
        texts = pc.if_else(ok, cl, null_s)
        return kinds, texts

    matched = None

    def mask(raw_kind):
        nonlocal matched
        m = pc.fill_null(pc.equal(kind, raw_kind), False)
        matched = m if matched is None else pc.or_(matched, m)
        return pc.indices_nonzero(m)

    # pdf_text
    idx = mask(Ct.RAW_PDF_TEXT)
    if len(idx):
        cl = _kernel_clean(pc, pc.take(text, idx))
        ok = pc.fill_null(pc.not_equal(cl, ""), False)
        kinds, texts = gated(ok, cl)
        yield sub(idx, kinds, texts, None, False)

    # pdf_scan → imperative base64 "OCR" decode on the scan subset only;
    # the fast pass cannot see these rows (scan_only, T4)
    idx = mask(Ct.RAW_PDF_SCAN)
    if len(idx):
        raw = pc.take(text, idx)
        decoded = pa.array(
            [Ct.decode_scan(s) if s is not None else None
             for s in raw.to_pylist()], pa.string())
        cl = _kernel_clean(pc, decoded)
        ok = pc.fill_null(pc.not_equal(cl, ""), False)
        kinds, texts = gated(ok, cl)
        yield sub(idx, kinds, texts, None, True)

    # html → tag strip + text-density boilerplate gate
    idx = mask(Ct.RAW_HTML)
    if len(idx):
        raw = pc.fill_null(pc.take(text, idx), "")
        cl = _kernel_clean(pc, pc.replace_substring_regex(
            raw, pattern=Ct.HTML_TAG_PATTERN, replacement=" "))
        rl = pc.cast(pc.utf8_length(raw), pa.float64())
        cll = pc.cast(pc.utf8_length(cl), pa.float64())
        dens = pc.if_else(pc.greater(rl, 0.0), pc.divide(cll, rl), 0.0)
        main = pc.and_(pc.not_equal(cl, ""),
                       pc.greater_equal(dens, Ct.HTML_DENSITY_THRESHOLD))
        is_h = pc.match_substring_regex(raw, pattern=Ct.HTML_HEADING_PATTERN)
        null_s = pa.scalar(None, pa.string())
        kinds = pc.if_else(
            main, pc.if_else(is_h, pa.scalar(Ct.KIND_HEADING),
                             pa.scalar(Ct.KIND_PARAGRAPH)), null_s)
        texts = pc.if_else(main, cl, null_s)
        yield sub(idx, kinds, texts, None, False)

    # table_raw → imperative nested flattening on the table subset (T6)
    idx = mask(Ct.RAW_TABLE)
    if len(idx):
        raw = pc.take(text, idx)
        flat = pa.array(
            [Ct.flatten_table(s) if s is not None else None
             for s in raw.to_pylist()], pa.string())
        ok = pc.fill_null(
            pc.not_equal(pc.utf8_trim_whitespace(flat), ""), False)
        null_s = pa.scalar(None, pa.string())
        kinds = pc.if_else(ok, pa.scalar(Ct.KIND_TABLE), null_s)
        texts = pc.if_else(ok, flat, null_s)
        yield sub(idx, kinds, texts, None, False)

    # media → figure / media_ref (T7): every media row keeps a kind
    idx = mask(Ct.RAW_MEDIA)
    if len(idx):
        alt = _kernel_clean(pc, pc.take(text, idx))
        has_alt = pc.fill_null(pc.not_equal(alt, ""), False)
        kinds = pc.if_else(has_alt, pa.scalar(Ct.KIND_FIGURE),
                           pa.scalar(Ct.KIND_MEDIA_REF))
        texts = pc.if_else(has_alt, alt, pa.scalar(None, pa.string()))
        yield sub(idx, kinds, texts, pc.take(mref, idx), False)

    # unknown / null raw kinds: row kept, nothing emitted (S28)
    rem = pc.indices_nonzero(pc.invert(matched))
    if len(rem):
        n = len(rem)
        yield sub(rem, pa.nulls(n, pa.string()), pa.nulls(n, pa.string()),
                  None, False)


def _arrow_worker(batches: Iterator["object"]) -> Iterator["object"]:
    for batch in batches:
        yield from _parse_arrow_batch(batch)


def parse_arrow(rows: DataFrame) -> DataFrame:
    # page-balancing shuffle as in parse_sql, but with the arrow-specific
    # (lower) wave factor — see _arrow_partitions
    return (rows.repartition(_arrow_partitions(rows), "doc_id", "page")
            .mapInArrow(_arrow_worker, PARSED_DDL))


# ---------------------------------------------------------------------------
# stage 3 — shared assembly: fallback decision, ordering, renumbering
# ---------------------------------------------------------------------------

# must mirror oracle.span_tiebreak exactly (crc32 over the same key string)
_TIE_NULL = "\x02"


def assemble(parsed: DataFrame, with_layout: bool = False,
             ocr_pipeline: str = "hybrid") -> DataFrame:
    """Page-level fallback choice (T4) then doc-level reading order (T1).
    Two-level aggregation = explicit skew salting by page.
    with_layout=True additionally emits the S21/S22 lineage-metadata
    fields per span: Position struct + page dimensions (contract.py).

    One collect_list per page: each span is collected once with its
    `scan_only` flag and the page picks `filter(arr, !scan_only)` (fast
    pass accepted) or the whole array (full fallback) — the narrow parsed
    schema means the aggregation buffers hold each string exactly once.

    ocr_pipeline mirrors the reference's converter-chain choice
    (models.OcrPipeline, api.py:69, content_extractor.py:125-134):
    "hybrid" = per-page fast→full fallback; "fast" = fast only (the
    non-scan_only subset, accepted unconditionally as the last
    converter); "full" = full only (every span incl. scan decodes).
    Single-converter modes have no chain, so fallback_pages is 0."""
    if ocr_pipeline not in ("hybrid", "fast", "full"):
        raise ValueError(f"unknown ocr_pipeline: {ocr_pipeline!r}")
    # expressions are SQL strings: the JVM parses each select in one call
    # instead of one py4j round trip per Column node
    tie =(f"crc32(encode(concat_ws({X.sql_lit(chr(0x1f))}, kind, "
           f"coalesce(text, {X.sql_lit(_TIE_NULL)}), "
           f"coalesce(media_ref, {X.sql_lit(_TIE_NULL)})), 'UTF-8'))")
    span_s = (f"CASE WHEN kind IS NOT NULL THEN named_struct("
              f"'block', block, 'pg', page, 'tb', {tie}, 'kind', kind, "
              f"'text', text, 'media_ref', media_ref, "
              f"'scan_only', scan_only) END")
    kinds_in = ", ".join(X.sql_lit(k) for k in C.TEXT_KINDS)

    page_level = (parsed.groupBy("doc_id", "page").agg(
        F.expr(f"collect_list({span_s})").alias("arr"),
        F.expr(f"max(CASE WHEN kind IN ({kinds_in}) AND (NOT scan_only) "
               f"THEN 1 ELSE 0 END)").alias("has_text"),
    ))

    fast_subset = "filter(arr, x -> NOT x.scan_only)"
    if ocr_pipeline == "fast":
        chosen, fallback = fast_subset, "0"
    elif ocr_pipeline == "full":
        chosen, fallback = "arr", "0"
    else:
        chosen = f"CASE WHEN has_text = 1 THEN {fast_subset} ELSE arr END"
        fallback = "1 - has_text"
    # explicit int comparators, not sort_array: sort_array over nested
    # structs makes Catalyst compile a deep comparator behind the codegen lock
    cmp_block_tb = ("(a, b) -> CASE WHEN a.block < b.block THEN -1 "
                    "WHEN a.block > b.block THEN 1 ELSE "
                    "CASE WHEN a.tb < b.tb THEN -1 "
                    "WHEN a.tb > b.tb THEN 1 ELSE 0 END END")
    page_level = page_level.selectExpr(
        "doc_id", "page",
        f"array_sort({chosen}, {cmp_block_tb}) AS page_spans",
        f"{fallback} AS fallback",
    )

    cmp_page = ("(a, b) -> CASE WHEN a.page < b.page THEN -1 "
                "WHEN a.page > b.page THEN 1 ELSE 0 END")
    doc_level = (page_level.groupBy("doc_id").agg(
        F.expr("collect_list(named_struct('page', page, 'ps', page_spans))")
         .alias("pages_arr"),
        F.expr("sum(fallback)").alias("fallback_pages"),
        F.expr("count(1)").alias("pages_in"),
    )).selectExpr(
        "doc_id",
        f"flatten(transform(array_sort(pages_arr, {cmp_page}), x -> x.ps))"
        " AS flat",
        "fallback_pages", "pages_in",
    )

    fields = ("'kind', x.kind, 'text', x.text, 'media_ref', x.media_ref, "
              "'offset', CAST(i AS INT)")
    if with_layout:
        # S21/S22: synthetic-layout Position struct + page dimensions —
        # deterministic functions of (page, block), contract.position_for
        def dbl(v: float) -> str:
            return f"{v!r}D"
        portrait = "x.pg % 2 = 0"
        width = (f"CASE WHEN {portrait} THEN {dbl(C.PAGE_W_PORTRAIT)} "
                 f"ELSE {dbl(C.PAGE_H_PORTRAIT)} END")
        height = (f"CASE WHEN {portrait} THEN {dbl(C.PAGE_H_PORTRAIT)} "
                  f"ELSE {dbl(C.PAGE_W_PORTRAIT)} END")
        top = (f"round({dbl(C.MARGIN_PT)} + pmod(x.block, {C.LINES_PER_PAGE})"
               f" * {dbl(C.LINE_H_PT)}, 2)")
        fields += (
            f", 'position', named_struct("
            f"'page_num', CAST(x.pg + 1 AS INT), 'top', {top}, "
            f"'right', round({width} - {dbl(C.MARGIN_PT)}, 2), "
            f"'bottom', round({top} + {dbl(C.LINE_H_PT - C.LINE_GAP_PT)}, 2), "
            f"'left', {dbl(C.MARGIN_PT)}, "
            f"'coord_origin', {X.sql_lit(C.COORD_ORIGIN)}), "
            f"'page_width', {width}, 'page_height', {height}")
    return doc_level.selectExpr(
        "doc_id", f"transform(flat, (x, i) -> named_struct({fields})) AS spans",
        "fallback_pages", "pages_in")


# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------

ENGINES = {"sql": parse_sql, "arrow": parse_arrow}


def check_engine(engine: str) -> None:
    """ValueError for an engine not in ENGINES.  Entry points call it before
    building a plan, running a Spark action or touching storage."""
    if engine not in ENGINES:
        raise ValueError(f"unknown engine {engine!r}; "
                         f"valid engines: {sorted(ENGINES)}")


def extract_detailed(docs: DataFrame, engine: str = "sql",
                     with_layout: bool = False, first_page: int = 1,
                     last_page: int | None = None,
                     ocr_pipeline: str = "hybrid") -> DataFrame:
    """The one extraction plan: explode → parse → assemble.  Returns the
    doc-level frame (doc_id, spans, fallback_pages, pages_in), docs with
    zero surviving spans included.  The stages are looked up as module
    globals at call time, so wrapping them (tracing) reaches every caller."""
    check_engine(engine)
    parsed = ENGINES[engine](explode_spans(docs, first_page, last_page))
    return assemble(parsed, with_layout=with_layout, ocr_pipeline=ocr_pipeline)


def extract_documents(docs: DataFrame, engine: str = "sql",
                      with_layout: bool = False, first_page: int = 1,
                      last_page: int | None = None,
                      ocr_pipeline: str = "hybrid") -> DataFrame:
    """input (doc_id, spans) -> extracted (doc_id, spans) per the contract.
    Docs with zero surviving spans are excluded (T5).  with_layout=True
    widens each output span with position/page_width/page_height (S21/S22).
    first_page/last_page (1-based, inclusive) bound extraction to a page
    range (see explode_spans); offsets renumber within the restricted
    output, exactly as the reference numbers only the processed pages.
    ocr_pipeline selects the converter chain (fast/full/hybrid — see
    assemble)."""
    return (extract_detailed(docs, engine, with_layout, first_page,
                             last_page, ocr_pipeline)
            .filter(F.size("spans") > 0)
            .select("doc_id", "spans"))


def extract_with_metrics(docs: DataFrame, engine: str = "sql",
                         first_page: int = 1, last_page: int | None = None,
                         ocr_pipeline: str = "hybrid"
                         ) -> tuple[DataFrame, Observation, Observation]:
    """Same plan plus zero-extra-pass metrics via Observations
    (docs/spans processed, OCR fallback rate — BASELINE.json:6).
    Returns (result_df, input_obs, output_obs); observation values are
    available after one action on result_df."""
    in_obs = Observation("extract_input")
    docs = docs.observe(
        in_obs,
        F.expr("count(1)").alias("docs_in"),
        F.expr("sum(CASE WHEN size(spans) <= 0 THEN 1 ELSE 0 END)")
         .alias("empty_docs"),
        F.expr("sum(size(spans))").alias("spans_in"),
    )
    doc_level = extract_detailed(docs, engine, first_page=first_page,
                                 last_page=last_page,
                                 ocr_pipeline=ocr_pipeline)
    out_obs = Observation("extract_output")
    doc_level = doc_level.observe(
        out_obs,
        F.expr("count(1)").alias("docs_converted"),
        F.expr("sum(CASE WHEN size(spans) > 0 THEN 1 ELSE 0 END)")
         .alias("docs_out"),
        F.expr("sum(size(spans))").alias("spans_out"),
        F.expr("sum(fallback_pages)").alias("fallback_pages"),
        F.expr("sum(pages_in)").alias("pages_in"),
        F.expr("sum(CASE WHEN fallback_pages > 0 THEN 1 ELSE 0 END)")
         .alias("fallback_docs"),
    )
    result = (doc_level.filter(F.size("spans") > 0)
              .select("doc_id", "spans"))
    return result, in_obs, out_obs
