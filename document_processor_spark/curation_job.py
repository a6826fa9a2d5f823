"""The batch curation job: documents table → corpus-build funnel →
snapshot commit with stage-funnel lineage.

Resume granularity follows the operators' data dependencies.  The
extraction job (job.py) commits per doc_id-bucket partition because each
document extracts independently — any subset is a valid checkpoint.  The
curation funnel is NOT partition-independent: exact dedup elects keepers
across the whole corpus, decontamination probes a global eval set, and
packing is a global per-source ordering — a "resumed" partial funnel
would elect different keepers than the full run, silently changing the
output.  So the commit unit here is the RUN: one atomic snapshot, with
per-run idempotency (re-submitting a completed run_id is a no-op) and
per-partition output metrics recorded for lineage.  At 10^12 docs the
same shape holds with one refinement: the funnel writes to a staging
table first and the snapshot commit is the (cheap, atomic) catalog swap
— still one logical commit per run, never per partition.

Funnel counters ride as Observations on the staging materialization
(zero extra passes over the input): docs_in, gate+holdout survivors,
post-dedup keepers, docs_out — each stage's drop count is auditable from
the manifest, and because the manifest is written in the same append()
as the data, lineage is never committed partially.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .io.icelite import PART_COL, IceLite, with_part
from .operators.curation import corpus_build

CURATED_TABLE = "curated"


@dataclass
class CurationSummary:
    run_id: str
    skipped: bool = False
    snapshot_id: int | None = None
    funnel: dict = field(default_factory=dict)


def run_curation_job(spark: SparkSession, docs: DataFrame, warehouse: str,
                     run_id: str, n_parts: int = 32) -> CurationSummary:
    """Run the corpus-build funnel over `docs` ((doc_id, source, text) at
    minimum) and commit ONE snapshot of (doc_id, source, tokens, seq)
    rows.  Idempotent on run_id: the table state maps each committed
    run id to its snapshot (one manifest read), so a completed run is
    never re-committed, and a run that crashed before its commit reruns."""
    table = IceLite(warehouse, CURATED_TABLE)
    done = table.committed_run(run_id)
    if done is not None:
        return CurationSummary(run_id=run_id, skipped=True,
                               snapshot_id=done["snapshot_id"],
                               funnel=done.get("funnel", {}))

    result, obs = corpus_build(docs, with_observations=True)
    result = with_part(result, n_parts)
    # stage-then-commit: materialize the funnel output BEFORE the snapshot
    # commit (the staging-table step a 10^12-doc run performs anyway).
    # The staging action values the Observations and feeds the per-part
    # aggregation, so the append's manifest carries the COMPLETE lineage
    # atomically with the data — a crash anywhere before append leaves no
    # snapshot (clean rerun), a crash after leaves a complete one; there
    # is no window where data is committed but lineage is lost.
    staged = result.localCheckpoint(eager=True)

    funnel = {
        "docs_in": int(obs["in"].get["n"]),
        "gate_holdout_survivors": int(obs["passed"].get["n"]),
        "post_dedup_keepers": int(obs["kept"].get["n"]),
    }
    per_part: dict[int, dict] = {}
    docs_out = tokens_out = 0
    for r in (staged.groupBy(PART_COL)
              .agg(F.count(F.lit(1)).alias("docs_out"),
                   F.sum("tokens").alias("tokens_out")).collect()):
        per_part[r[PART_COL]] = {"docs_out": r["docs_out"],
                                 "tokens_out": int(r["tokens_out"])}
        docs_out += r["docs_out"]
        tokens_out += int(r["tokens_out"])
    funnel["docs_out"] = docs_out
    funnel["tokens_out"] = tokens_out
    funnel["gate_holdout_drops"] = (funnel["docs_in"]
                                    - funnel["gate_holdout_survivors"])
    funnel["exact_dup_drops"] = (funnel["gate_holdout_survivors"]
                                 - funnel["post_dedup_keepers"])
    funnel["contaminated_drops"] = funnel["post_dedup_keepers"] - docs_out

    manifest = table.append(staged, run_id, metrics=per_part,
                            extra={"curation_run_id": run_id,
                                   "n_parts": n_parts, "funnel": funnel},
                            cluster_by=["doc_id"])
    return CurationSummary(run_id=run_id, snapshot_id=manifest["snapshot_id"],
                           funnel=funnel)


def read_curated(spark: SparkSession, warehouse: str) -> DataFrame:
    return IceLite(warehouse, CURATED_TABLE).read(spark)
