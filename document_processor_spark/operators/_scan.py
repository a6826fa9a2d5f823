"""Table reads for the operator queries, plus per-run scratch space.

``read_table`` scans one fixture table and fans the rows out round-robin
over every core when the scan alone would not.  The sandbox fixtures are
single-file tables, so the scan is one task and the repartition is the only
way the downstream CPU work parallelizes.  At production scale a table
already scans as hundreds of splits, and a repartition there would shuffle
every byte for nothing, so it is skipped.

The scan's task count is estimated as ``sizeInBytes /
spark.sql.files.maxPartitionBytes`` — the arithmetic FilePartition uses,
minus the 4 MB open-cost packing term.  ``sizeInBytes`` is Spark's own
file-index statistic for the scan (``pipeline._plan_size_bytes``): it
counts every file of a partitioned directory and works on any filesystem
Spark can list, object storage included.  The estimate errs low only for
many-small-file layouts, and an underestimate can only keep the
repartition.
"""

from __future__ import annotations

import os
import tempfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from ..pipeline import _plan_size_bytes


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan `{sf_dir}/{name}.parquet`, repartitioned round-robin to one
    partition per core unless the scan already yields >= one split per
    core.  An unknown size keeps the repartition."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    cores = spark.sparkContext.defaultParallelism
    split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    if -(-(_plan_size_bytes(df) or 0) // split) >= cores:
        return df
    return df.repartition(cores)


def scratch_dir(prefix: str) -> Path:
    """Per-run scratch (stream checkpoints, staging, interchange round
    trips) on the same fast local storage the session already uses for
    shuffle (spark.local.dir = /dev/shm on this sandbox — see
    session.build_spark): every stateful micro-batch commits one
    state-store delta per partition into the checkpoint, and on the
    virtio-disk-backed /tmp that metadata churn — not the computation —
    dominated the streaming harness fixed cost (r6 measurement,
    OPTIMIZATION_r06.md).  A real cluster points checkpoints at durable
    storage; these are per-run throwaways, the same trade
    spark.local.dir already makes."""
    root = os.environ.get("SPARK_GRAFT_STREAM_SCRATCH",
                          os.environ.get("SPARK_LOCAL_DIRS",
                                         "/dev/shm/spark-local"))
    base = Path(root)
    try:
        base.mkdir(parents=True, exist_ok=True)
    except OSError:
        return Path(tempfile.mkdtemp(prefix=prefix))
    return Path(tempfile.mkdtemp(prefix=prefix, dir=str(base)))
