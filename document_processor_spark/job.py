"""The batch extraction job: scan → extract → snapshot commit, resumable.

Target lifecycle (SURVEY.md §3.5)::

    spark-submit --py-files engine.zip jobs/extract.py \
        --warehouse /path/wh --run-id R [--fixture-sf 0.1 | --input dir]

Each commit batch processes a set of doc_id-bucket partitions and writes one
IceLite snapshot carrying per-partition lineage + metrics (docs in/out,
spans out, OCR fallback pages/docs — BASELINE.json:6).  On restart the job
consults committed snapshots and skips finished partitions (checkpoint
resume, FIXTURES.md §5); re-runs are idempotent because a partition is only
ever committed once and readers see only committed manifests.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import pipeline
from .io.icelite import PART_COL, IceLite, with_part

SPANS_TABLE = "spans"


@dataclass
class JobSummary:
    run_id: str
    commits: list[dict] = field(default_factory=list)
    skipped_partitions: list[int] = field(default_factory=list)

    @property
    def partitions_done(self) -> int:
        return sum(len(c["partitions"]) for c in self.commits)


def _partition_metrics(input_batch: DataFrame, written: DataFrame) -> dict[int, dict]:
    """Per-partition lineage row fields (FIXTURES.md §5).

    Input side: one agg over just (part, size(spans)) — column pruning keeps
    the scan narrow.  Output side: one agg over the snapshot files just
    written (orders of magnitude smaller than the input at corpus scale).
    The extraction itself runs exactly once; no cache, no second parse."""
    in_rows = (input_batch.groupBy(PART_COL).agg(
        F.count(F.lit(1)).alias("docs_in"),
        F.sum(F.when(F.size("spans") <= 0, 1).otherwise(0)).alias("empty_docs"),
    ).collect())
    out_rows = (written.groupBy(PART_COL).agg(
        F.sum(F.when(F.size("spans") > 0, 1).otherwise(0)).alias("docs_out"),
        F.sum(F.size("spans")).alias("spans_out"),
        F.sum("fallback_pages").alias("fallback_pages"),
        F.sum("pages_in").alias("pages_in"),
        F.sum(F.when(F.col("fallback_pages") > 0, 1).otherwise(0)).alias("fallback_docs"),
    ).collect())
    m: dict[int, dict] = {}
    for r in in_rows:
        m.setdefault(r[PART_COL], {}).update(docs_in=r["docs_in"], empty_docs=r["empty_docs"])
    for r in out_rows:
        d = m.setdefault(r[PART_COL], {})
        d.update(docs_out=r["docs_out"] or 0, spans_out=r["spans_out"] or 0,
                 fallback_pages=r["fallback_pages"] or 0, pages_in=r["pages_in"] or 0,
                 fallback_docs=r["fallback_docs"] or 0)
    for d in m.values():
        d["skipped_docs"] = d.get("docs_in", 0) - d.get("docs_out", 0)
        # S29 reason codes (reference: 400-empty vs unprocessable,
        # app/api.py:86-98,137-139): every quarantined doc is attributed
        d["reason_empty_payload"] = d.get("empty_docs", 0)
        d["reason_no_content"] = d["skipped_docs"] - d["reason_empty_payload"]
    return m


def snapshot_rows(detailed: DataFrame, n_parts: int) -> DataFrame:
    """The spans-table row for each extracted doc (pipeline.extract_detailed
    output).  Docs whose extraction yields zero spans stay as quarantine
    rows (empty spans array — the reference's counted-and-skipped
    semantics, app/api.py:86-98) with a skip_reason; read_spans filters
    them out."""
    skip_reason = (F.when(F.size("spans") > 0, F.lit(None).cast("string"))
                    .otherwise(F.lit("no_extractable_content")))
    return with_part(detailed, n_parts).select(
        "doc_id", "spans", "fallback_pages", "pages_in",
        skip_reason.alias("skip_reason"), PART_COL)


def run_extraction_job(spark: SparkSession, docs: DataFrame, warehouse: str,
                       run_id: str, n_parts: int = 32, engine: str = "sql",
                       partitions_per_commit: int | None = None,
                       max_commits: int | None = None,
                       collect_metrics: bool = True,
                       cluster_by: tuple[str, ...] = ("doc_id",),
                       first_page: int = 1,
                       last_page: int | None = None,
                       ocr_pipeline: str = "hybrid") -> JobSummary:
    """Extract `docs` into the warehouse spans table, resumably.

    partitions_per_commit: batch size of the checkpoint granularity
    (None = all remaining partitions in one snapshot).
    max_commits: stop after N commits (used by resume tests to simulate a
    mid-job kill between snapshots).
    cluster_by: write-side clustering (sort within write tasks) so row
    groups carry tight doc_id min/max stats — point reads prune row
    groups instead of scanning buckets (IceLite.append cluster_by).
    first_page/last_page: 1-based inclusive page range (the reference's
    request parameters, app/api.py:69-70) applied before the span explode.
    ocr_pipeline: converter-chain choice fast/full/hybrid (the reference's
    OcrPipeline request param, api.py:69 — see pipeline.assemble)."""
    pipeline.check_engine(engine)
    table = IceLite(warehouse, SPANS_TABLE)
    # resume safety: committed partition ids are only meaningful under the
    # SAME bucketing — resuming with a different n_parts would skip wrong
    # buckets (silently dropping or duplicating documents)
    for s in table.snapshots():
        if "n_parts" in s and s["n_parts"] != n_parts:
            raise ValueError(
                f"warehouse {warehouse} was written with n_parts="
                f"{s['n_parts']} (snapshot {s['snapshot_id']}); "
                f"cannot resume with n_parts={n_parts}")
    docs = with_part(docs, n_parts)
    done = table.committed_partitions()
    todo = [p for p in range(n_parts) if p not in done]
    summary = JobSummary(run_id=run_id, skipped_partitions=sorted(done))

    if not todo:
        return summary
    step = partitions_per_commit or len(todo)
    batches = [todo[i:i + step] for i in range(0, len(todo), step)]
    if max_commits is not None:
        batches = batches[:max_commits]

    for batch in batches:
        input_batch = docs.filter(F.col(PART_COL).isin(batch))
        # doc-level lineage (fallback_pages, pages_in) is stored in the
        # table, quarantine rows included; per-partition metrics then come
        # from the written snapshot, so the extraction runs exactly once
        # per batch
        result = snapshot_rows(pipeline.extract_detailed(
            input_batch, engine, first_page=first_page, last_page=last_page,
            ocr_pipeline=ocr_pipeline), n_parts)
        manifest = table.append(result, run_id, partitions=batch,
                                extra={"engine": engine, "n_parts": n_parts},
                                cluster_by=list(cluster_by or ()))
        if collect_metrics:
            written = table.read_snapshot(spark, manifest["snapshot_id"])
            metrics = _partition_metrics(input_batch, written) if written is not None else {}
            for p in batch:
                metrics.setdefault(p, {})
            table.update_metrics(manifest["snapshot_id"], metrics)
            manifest["partitions"] = {str(p): metrics.get(p, {}) for p in sorted(batch)}
        summary.commits.append(manifest)
    return summary


def read_spans(spark: SparkSession, warehouse: str,
               include_skipped: bool = False) -> DataFrame:
    df = IceLite(warehouse, SPANS_TABLE).read(spark)
    if not include_skipped:
        df = df.filter(F.size("spans") > 0)
    return df
