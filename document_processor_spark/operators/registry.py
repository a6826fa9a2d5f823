"""Aggregated query registry for the driver contract (__spark_entry__).

Every entry pairs a Spark DataFrame implementation with a DuckDB-runnable
ANSI-SQL oracle (or None for genuinely non-SQL-expressible operators, which
get the driver's weaker rows-only check)."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# The driver's correctness gate samples the FIRST 50 registry entries, so
# ordering is exposure: the queries named here come first, in this order,
# and every other query follows in module order.  The window is filled by
# one rule, in this order:
#   1. stale: the implementing function changed after the query's newest
#      green CORRECTNESS_r*.json row (tools/check_stale_certs.py's rule,
#      applied with the window ignored);
#   2. queries with no driver row yet;
#   3. the oldest green driver rows.
# tools/check_stale_certs.py exits 0 only while group 1 fits in the window.
_PRIORITY: tuple[str, ...] = (
    # 1. stale
    "ext_positions", "ext_hierarchy", "ext_reading_order",
    "ext_slice_numbering", "ext_kind_classify", "ext_table_flatten",
    "ext_fallback_rate", "ext_doc_stats", "ext_caption_attach",
    "ext_skip_gates", "ext_html_density", "rel_waiting_suppliers",
    "rel_idle_customers", "rel_priority_wait", "rel_promo_share",
    "rel_forecast_revenue", "rel_small_qty_revenue",
    "rel_disjunctive_revenue", "rel_top_supplier",
    "rel_supplier_concentration", "rel_rolling_1h", "rel_pivot",
    "rel_set_ops", "rel_asof_attribution", "rel_salted_source_stats",
    "rel_segment_revenue", "rel_top_orders", "rel_sessionize",
    "rel_tumbling_hourly", "rel_revenue_rollup", "rel_cube_mix",
    "rel_skyline_suppliers", "rel_funnel", "rel_cdc_apply",
    "rel_scd2_history", "rel_cohort_retention",
    "pipe_extract_orc_roundtrip", "pipe_extract_csv_roundtrip",
    "ta_containment", "dedup_semantic", "dedup_embedding_cosine",
    "ann_lsh_topk", "ann_filtered_topk", "ext_glyph_clean",
    "dedup_minhash_lsh", "dedup_embedding_cosine_lsh",
    "ann_bruteforce_topk", "ta_quality", "rel_pricing_summary",
    "cur_fuzzy_decontaminate",
    # ---- 50-slot window boundary ----
)


def all_queries() -> dict[str, tuple[QueryFn, str | None]]:
    # imports fail LOUDLY: a broken operator module must surface as a
    # driver error, not silently shrink the query surface
    import importlib

    from . import extraction_ops
    raw: dict[str, tuple[QueryFn, str | None]] = {}
    raw.update(extraction_ops.QUERIES)
    for mod_name in ("dedup", "ann", "text_analysis", "relational",
                     "multimodal", "pipeline_ops", "curation", "stream_ops"):
        mod = importlib.import_module(f".{mod_name}", __package__)
        raw.update(mod.QUERIES)
    missing = [n for n in _PRIORITY if n not in raw]
    if missing:  # a renamed/removed query must fail loudly, not silently
        raise KeyError(f"_PRIORITY names not in registry: {missing}")
    out: dict[str, tuple[QueryFn, str | None]] = {
        n: raw[n] for n in _PRIORITY}
    out.update((n, q) for n, q in raw.items() if n not in out)
    return out
