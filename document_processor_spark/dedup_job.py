"""The batch cluster-resolution job: near-dup pair graph → connected
components → one snapshot of (doc_id, cluster_id, n_members) labels with
the CC loop's telemetry committed IN the manifest.

Why the loop telemetry belongs in lineage: connected components is the
one operator in the dedup family whose output quality depends on an
iteration cap — a run that hits CC_MAX_ITERS before the labels settle has
silently produced PARTIAL clusters unless the truncation is recorded
(the repo's no-silent-truncation rule).  So the manifest carries, next to
the row counts every snapshot gets, the `cc` block: algorithm, round
count, changed-labels per round, converged flag — an auditor reading the
snapshot can tell a settled clustering from a capped one without re-running
anything.  Cluster-size extremes (n_clusters, max_cluster_size) ride
along because a mega-cluster is the #1 operational signal in web dedup
(a boilerplate explosion shows up as max_cluster_size jumping orders of
magnitude between runs).

Commit unit is the RUN (like curation_job): label election is global —
a partial graph elects different component minima — so there is no valid
per-partition checkpoint.  Idempotent on run_id.

Reference parity: the reference service has no clustering step (it is a
per-document extractor, app/api.py); this job is part of the
training-data-pipeline surface built on top of the extraction engine.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .io.icelite import PART_COL, IceLite, with_part
from .operators.dedup import CC_MAX_ITERS, connected_components

CLUSTERS_TABLE = "dedup_clusters"


@dataclass
class ClusterSummary:
    run_id: str
    skipped: bool = False
    snapshot_id: int | None = None
    cc: dict = field(default_factory=dict)


def run_cluster_job(spark: SparkSession, docs: DataFrame, pairs: DataFrame,
                    warehouse: str, run_id: str, algo: str = "propagate",
                    max_iters: int = CC_MAX_ITERS,
                    n_parts: int = 32) -> ClusterSummary:
    """Resolve the near-dup `pairs` graph (columns d1, d2) over `docs`
    (column doc_id) into canonical clusters and commit ONE snapshot of
    (doc_id, cluster_id, n_members) with the CC telemetry in the
    manifest.  Idempotent on run_id, as run_curation_job: the table
    state names the snapshot of each committed run id."""
    table = IceLite(warehouse, CLUSTERS_TABLE)
    done = table.committed_run(run_id)
    if done is not None:
        return ClusterSummary(run_id=run_id, skipped=True,
                              snapshot_id=done["snapshot_id"],
                              cc=done.get("cc", {}))

    cc: dict = {}
    labels = connected_components(pairs, max_iters=max_iters, algo=algo,
                                  metrics=cc)
    assigned = (docs.select("doc_id")
                .join(labels, docs["doc_id"] == labels["node"], "left")
                .select("doc_id",
                        F.coalesce("label", "doc_id").alias("cluster_id")))
    sizes = assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"))
    result = with_part(assigned.join(sizes, "cluster_id")
                       .select("doc_id", "cluster_id", "n_members"), n_parts)
    # stage-then-commit (curation_job's discipline): the staging action
    # values the cluster stats and per-part counts, so the append's
    # manifest carries complete lineage atomically with the data
    staged = result.localCheckpoint(eager=True)

    stats = staged.agg(
        F.countDistinct("cluster_id").alias("n_clusters"),
        F.max("n_members").alias("max_cluster_size"),
        F.sum((F.col("n_members") > 1).cast("long")).alias("docs_in_dups"),
    ).collect()[0]
    cc.update(n_clusters=int(stats["n_clusters"]),
              max_cluster_size=int(stats["max_cluster_size"]),
              docs_in_dup_clusters=int(stats["docs_in_dups"]))
    per_part = {r[PART_COL]: {"docs_out": r["n"]}
                for r in staged.groupBy(PART_COL)
                .agg(F.count(F.lit(1)).alias("n")).collect()}

    manifest = table.append(staged, run_id, metrics=per_part,
                            extra={"dedup_run_id": run_id,
                                   "n_parts": n_parts, "cc": cc},
                            cluster_by=["cluster_id"])
    return ClusterSummary(run_id=run_id, snapshot_id=manifest["snapshot_id"],
                          cc=cc)


def read_clusters(spark: SparkSession, warehouse: str) -> DataFrame:
    return IceLite(warehouse, CLUSTERS_TABLE).read(spark)
