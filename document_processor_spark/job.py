"""The batch extraction job: scan → extract → snapshot commit, resumable.

Target lifecycle (SURVEY.md §3.5)::

    spark-submit --py-files engine.zip jobs/extract.py \
        --warehouse /path/wh --run-id R [--fixture-sf 0.1 | --input dir]

Each commit batch processes a set of doc_id-bucket partitions and writes one
IceLite snapshot carrying per-partition lineage + metrics (docs in/out,
spans out, OCR fallback pages/docs — BASELINE.json:6).  The metrics cost
no pass of their own per commit: the output counters ride the snapshot
write as one Observation, the input counts (docs in, empty payloads) come
from one grouped aggregate per job, and IceLite.append puts both into the
commit's one manifest write.  Idempotency: IceLite.state (one manifest
read) names the done partitions and the bucket count.  A run skips the
done partitions (checkpoint resume, FIXTURES.md §5) and refuses another
n_parts, whose partition ids would name other documents.  A batch whose
commit crashed before CURRENT moved is not done, and the next run redoes it.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
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


# The per-partition output counters, each a SQL aggregate over the snapshot
# rows restricted to one partition: `rows` says whether the partition wrote
# any row at all, the rest are its lineage fields.
_OUT_TERMS = {
    "rows": "count_if({p})",
    "docs_out": "count_if({p} AND size(spans) > 0)",
    "spans_out": "coalesce(sum(CASE WHEN {p} THEN size(spans) END), 0)",
    "fallback_pages": "coalesce(sum(CASE WHEN {p} THEN fallback_pages END), 0)",
    "pages_in": "coalesce(sum(CASE WHEN {p} THEN pages_in END), 0)",
    "fallback_docs": "count_if({p} AND fallback_pages > 0)",
}


def _observe_lineage(rows: DataFrame, inputs: dict[int, dict], batch: list[int]
                     ) -> tuple[DataFrame, Callable[[], dict[int, dict]]]:
    """`rows` with one Observation carrying every output counter of every
    partition in `batch`, and the resolver of the batch's lineage for
    IceLite.append.  The Observation is valued by the snapshot write
    itself: the counters sit in the write's result stage, where Spark
    applies each task's update exactly once, so no second pass over the
    written files is needed."""
    obs = Observation()
    terms = [F.expr(t.format(p=f"{PART_COL} = {p}")).alias(f"{k}_{p}")
             for p in batch for k, t in _OUT_TERMS.items()]
    return rows.observe(obs, *terms), lambda: _lineage(inputs, obs.get, batch)


def _input_counts(docs: DataFrame, parts: list[int]) -> dict[int, dict]:
    """docs_in / empty_docs per partition: one grouped aggregate over just
    (part, size(spans)), for all the partitions a job commits.  Not an
    Observation on the scan: a retried map stage re-applies its
    accumulator updates."""
    rows = (docs.filter(F.col(PART_COL).isin(parts)).groupBy(PART_COL)
            .agg(F.expr("count(1)").alias("docs_in"),
                 F.expr("count_if(size(spans) <= 0)").alias("empty_docs"))
            .collect())
    return {r[PART_COL]: {"docs_in": r["docs_in"], "empty_docs": r["empty_docs"]}
            for r in rows}


def _lineage(inputs: dict[int, dict], out: dict, batch: list[int]) -> dict[int, dict]:
    """Per-partition lineage row fields.  Output fields appear only for a
    partition that wrote rows; a partition with no input rows records {}."""
    m: dict[int, dict] = {}
    for p in batch:
        d = dict(inputs.get(p, {}))
        if out[f"rows_{p}"]:
            d.update({k: out[f"{k}_{p}"] for k in _OUT_TERMS if k != "rows"})
        if d:
            d["skipped_docs"] = d.get("docs_in", 0) - d.get("docs_out", 0)
            # S29 reason codes (reference: 400-empty vs unprocessable,
            # app/api.py:86-98,137-139): every quarantined doc is attributed
            d["reason_empty_payload"] = d.get("empty_docs", 0)
            d["reason_no_content"] = d["skipped_docs"] - d["reason_empty_payload"]
        m[p] = d
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
    done = set(table.state(n_parts)["done"])
    docs = with_part(docs, n_parts)
    todo = [p for p in range(n_parts) if p not in done]
    summary = JobSummary(run_id=run_id, skipped_partitions=sorted(done))

    if not todo:
        return summary
    step = partitions_per_commit or len(todo)
    batches = [todo[i:i + step] for i in range(0, len(todo), step)]
    if max_commits is not None:
        batches = batches[:max_commits]

    inputs = (_input_counts(docs, [p for b in batches for p in b])
              if collect_metrics else {})
    for batch in batches:
        input_batch = docs.filter(F.col(PART_COL).isin(batch))
        # doc-level lineage (fallback_pages, pages_in) is stored in the
        # table, quarantine rows included; the extraction runs exactly once
        # per batch and its write values the output counters
        result = snapshot_rows(pipeline.extract_detailed(
            input_batch, engine, first_page=first_page, last_page=last_page,
            ocr_pipeline=ocr_pipeline), n_parts)
        metrics = None
        if collect_metrics:
            result, metrics = _observe_lineage(result, inputs, batch)
        manifest = table.append(result, run_id, metrics=metrics,
                                partitions=batch,
                                extra={"engine": engine, "n_parts": n_parts},
                                cluster_by=list(cluster_by or ()))
        summary.commits.append(manifest)
    return summary


def read_spans(spark: SparkSession, warehouse: str,
               include_skipped: bool = False) -> DataFrame:
    table = IceLite(warehouse, SPANS_TABLE)
    return table.read(spark) if include_skipped else table.read_spans(spark)
