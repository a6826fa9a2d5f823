"""Streaming ingestion of the interleaved-docs table.

The reference is strictly request/response batch (SURVEY.md §2.2 —
no watermarks or stateful ops to reproduce), and the north rule targets a
bounded batch corpus.  This module is the streaming *front-end* for the
same engine: new document files land in a directory, Structured Streaming
picks them up incrementally, and each micro-batch runs the identical batch
dataflow via ``foreachBatch`` and commits one IceLite snapshot — so
incremental ingestion gets the same snapshot lineage, metrics, and
exactly-once-per-file semantics (checkpointed file source + idempotent
snapshot commits).

Why foreachBatch instead of a streaming aggregation: the per-document
assembly is a *bounded* group (a document arrives whole in one file), so
re-expressing it as watermarked streaming state would add latency and
state-store cost for nothing.  foreachBatch reuses the tested batch
operators unchanged — the idiomatic Spark pattern for batch-equivalent
sinks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .. import pipeline
from ..fixtures import INPUT_DDL
from ..io.icelite import IceLite
from ..job import SPANS_TABLE, snapshot_rows


def make_batch_processor(table: IceLite, run_id: str, engine: str,
                         n_parts: int):
    """The foreachBatch body, idempotent on (run_id, batch_id) replay.

    Spark commits the source checkpoint only AFTER foreachBatch returns;
    a crash between our snapshot commit and that checkpoint commit replays
    the micro-batch with the same batch_id.  table.append always allocates
    a fresh snapshot, so an unguarded replay would double-commit the same
    documents.  The table state records this run's last committed batch
    id (one manifest read), and a batch at or below it is skipped — making
    the snapshot-commit/checkpoint-commit pair effectively exactly-once.
    A batch whose commit crashed before CURRENT moved is not recorded, so
    its replay commits it.  A batch with another n_parts than the table's
    raises before writing anything."""
    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= table.state()["stream_batches"].get(run_id, -1):
            return  # replayed batch: snapshot already committed
        result = snapshot_rows(
            pipeline.extract_detailed(batch_df, engine), n_parts)
        table.append(result, run_id=f"{run_id}-b{batch_id}",
                     extra={"engine": engine, "n_parts": n_parts,
                            "stream_run_id": run_id,
                            "streaming_batch_id": batch_id},
                     # same write-side clustering as the batch job's default:
                     # point reads must prune row groups regardless of which
                     # entry point committed the snapshot
                     cluster_by=["doc_id"])
    return process_batch


def start_extract_stream(spark: SparkSession, input_dir: str, warehouse: str,
                         checkpoint_dir: str, run_id: str = "stream",
                         engine: str = "sql", n_parts: int = 32,
                         available_now: bool = False,
                         max_files_per_trigger: int | None = None):
    """Start the streaming extraction job over a directory of parquet files
    with the input schema.  Returns the StreamingQuery."""
    pipeline.check_engine(engine)
    reader = (spark.readStream.schema(INPUT_DDL)
              .option("maxFilesPerTrigger", max_files_per_trigger or 16)
              .parquet(input_dir))
    table = IceLite(warehouse, SPANS_TABLE)
    writer = (reader.writeStream
              .foreachBatch(make_batch_processor(table, run_id, engine, n_parts))
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
