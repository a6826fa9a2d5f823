"""IceLite opens each snapshot from the schema its manifest records, and
the batch job counts each commit's lineage during the commit's own write.
So a point read runs one Spark job however many snapshots the view holds,
and collecting lineage adds a fixed number of jobs per batch job, not per
commit.  Jobs are counted with Spark's status tracker, not from plans."""

from __future__ import annotations

import json
import uuid
from collections import Counter

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType, MapType, StructType

from document_processor_spark import fixtures
from document_processor_spark.io.icelite import PART_COL, IceLite, with_part
from document_processor_spark.job import SPANS_TABLE, run_extraction_job

N_PARTS = 6


@pytest.fixture()
def input_df(spark, corpus):
    rows = [(d["doc_id"],
             [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d["spans"]])
            for d in corpus]
    return spark.createDataFrame(rows, schema=fixtures.INPUT_DDL)


def count_jobs(spark, fn):
    """(fn(), the number of Spark jobs fn ran)."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status store is fed by the listener bus: drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def inferred(spark, table: IceLite, as_of: int | None = None):
    """The view read the way a manifest without a recorded schema is read:
    each snapshot dir's schema inferred from its files."""
    view = [{k: v for k, v in s.items() if k != "schema"}
            for s in table._view(as_of)]
    return table._open(spark, view)


def all_nullable(dt) -> bool:
    if isinstance(dt, StructType):
        return all(f.nullable and all_nullable(f.dataType) for f in dt.fields)
    if isinstance(dt, ArrayType):
        return dt.containsNull and all_nullable(dt.elementType)
    if isinstance(dt, MapType):
        return dt.valueContainsNull and all_nullable(dt.valueType)
    return True


# -- lineage counted during the write ----------------------------------------

def _reference_lineage(spark, table, input_df, manifest, batch):
    """The former two-pass lineage: grouped aggregates over the batch's
    input and over the snapshot files read back after the commit."""
    inp = with_part(input_df, N_PARTS).filter(F.col(PART_COL).isin(batch))
    m: dict[int, dict] = {}
    for r in inp.groupBy(PART_COL).agg(
            F.count(F.lit(1)).alias("docs_in"),
            F.sum(F.when(F.size("spans") <= 0, 1).otherwise(0)).alias("empty_docs"),
    ).collect():
        m.setdefault(r[PART_COL], {}).update(docs_in=r["docs_in"],
                                             empty_docs=r["empty_docs"])
    written = table.read_snapshot(spark, manifest["snapshot_id"])
    for r in ([] if written is None else written.groupBy(PART_COL).agg(
            F.sum(F.when(F.size("spans") > 0, 1).otherwise(0)).alias("docs_out"),
            F.sum(F.size("spans")).alias("spans_out"),
            F.sum("fallback_pages").alias("fallback_pages"),
            F.sum("pages_in").alias("pages_in"),
            F.sum(F.when(F.col("fallback_pages") > 0, 1).otherwise(0))
            .alias("fallback_docs")).collect()):
        m.setdefault(r[PART_COL], {}).update(
            docs_out=r["docs_out"] or 0, spans_out=r["spans_out"] or 0,
            fallback_pages=r["fallback_pages"] or 0,
            pages_in=r["pages_in"] or 0, fallback_docs=r["fallback_docs"] or 0)
    for d in m.values():
        d["skipped_docs"] = d.get("docs_in", 0) - d.get("docs_out", 0)
        d["reason_empty_payload"] = d.get("empty_docs", 0)
        d["reason_no_content"] = d["skipped_docs"] - d["reason_empty_payload"]
    return {str(p): m.get(p, {}) for p in sorted(batch)}


def test_write_time_lineage_equals_two_pass_lineage(spark, input_df, tmp_path):
    wh = str(tmp_path)
    s = run_extraction_job(spark, input_df, wh, "r1", n_parts=N_PARTS,
                           partitions_per_commit=2)
    table = IceLite(wh, SPANS_TABLE)
    on_disk = table.snapshots()
    assert len(s.commits) == len(on_disk) == 3
    for c, disk in zip(s.commits, on_disk):
        batch = [int(p) for p in c["partitions"]]
        want = _reference_lineage(spark, table, input_df, c, batch)
        assert c["partitions"] == want
        assert disk["partitions"] == want
    # the input has docs with empty payloads and docs with no extractable
    # content: both reason codes are exercised
    totals = {k: sum(m.get(k, 0) for c in s.commits
                     for m in c["partitions"].values())
              for k in ("reason_empty_payload", "reason_no_content")}
    assert totals["reason_empty_payload"] > 0 and totals["reason_no_content"] > 0


def test_all_empty_commit_keeps_input_lineage(spark, tmp_path):
    """Every doc has an empty payload, so the commit writes no row; the
    manifest still records what came in and why it was skipped.  A
    partition no doc hashed to records {}."""
    docs = spark.createDataFrame([(f"empty-{i}", []) for i in range(3)],
                                 schema=fixtures.INPUT_DDL)
    n_parts = 4
    hit = Counter(r[PART_COL] for r in with_part(docs, n_parts).collect())
    s = run_extraction_job(spark, docs, str(tmp_path), "e1", n_parts=n_parts)
    [commit] = s.commits
    assert IceLite(str(tmp_path), SPANS_TABLE).snapshots()[0]["partitions"] \
        == commit["partitions"]
    assert len(hit) < n_parts
    for p in range(n_parts):
        m = commit["partitions"][str(p)]
        if p not in hit:
            assert m == {}
            continue
        assert m == {"docs_in": hit[p], "empty_docs": hit[p],
                     "skipped_docs": hit[p], "reason_empty_payload": hit[p],
                     "reason_no_content": 0}


def test_lineage_adds_a_fixed_number_of_jobs(spark, input_df, tmp_path):
    """collect_metrics=True runs the same number of extra jobs for a
    one-commit and a three-commit job: the output counters ride the
    writes, the input counts are one aggregate per job."""
    extra = {}
    for per_commit, commits in ((N_PARTS, 1), (2, 3)):
        n = {}
        for collect in (True, False):
            s, n[collect] = count_jobs(spark, lambda: run_extraction_job(
                spark, input_df, str(tmp_path / f"wh-{per_commit}-{collect}"),
                "r1", n_parts=N_PARTS, partitions_per_commit=per_commit,
                collect_metrics=collect))
            assert len(s.commits) == commits
            assert all(bool(m) == collect for c in s.commits
                       for m in c["partitions"].values())
        extra[commits] = n[True] - n[False]
    assert 0 < extra[1] == extra[3] <= 2, extra


# -- point reads open from the recorded schema --------------------------------

def test_point_read_runs_one_job_at_any_view_size(spark, input_df, golden,
                                                  tmp_path):
    expected, _ = golden
    wh = str(tmp_path)
    run_extraction_job(spark, input_df, wh, "r1", n_parts=4,
                       partitions_per_commit=1)
    table = IceLite(wh, SPANS_TABLE)
    assert table.current_snapshot_id() == 4
    doc_ids = sorted(expected)

    def check(as_of, n_snapshots):
        assert len(table._view(as_of)) == n_snapshots
        visible = {r["doc_id"] for r in table.read_spans(spark, as_of)
                   .select("doc_id").collect()}
        doc_id = next(d for d in doc_ids if d in visible)
        rows, jobs = count_jobs(spark, lambda: table.read_spans(spark, as_of)
                                .filter(F.col("doc_id") == doc_id).collect())
        assert jobs == 1, (as_of, n_snapshots)
        assert [[(s["kind"], s["text"], s["media_ref"], s["offset"])
                 for s in r["spans"]] for r in rows] == [expected[doc_id]]

    for as_of, n in ((1, 1), (2, 2), (None, 4)):
        check(as_of, n)
    table.compact(spark, run_id="compact-1")
    check(None, 1)
    check(4, 4)


# -- schema parity -----------------------------------------------------------

def _batch_job(spark, input_df, tmp_path):
    run_extraction_job(spark, input_df, str(tmp_path), "r1", n_parts=4,
                       partitions_per_commit=2)
    return IceLite(str(tmp_path), SPANS_TABLE)


def _compacted(spark, input_df, tmp_path):
    table = _batch_job(spark, input_df, tmp_path)
    table.compact(spark, run_id="compact-1")
    return table


def _stream(spark, input_df, tmp_path):
    from document_processor_spark.streaming.extract_stream import (
        start_extract_stream)
    inbox = tmp_path / "incoming"
    input_df.repartition(3).write.parquet(str(inbox))
    q = start_extract_stream(spark, str(inbox), str(tmp_path / "wh"),
                             checkpoint_dir=str(tmp_path / "ckpt"),
                             available_now=True, max_files_per_trigger=1,
                             n_parts=4)
    q.awaitTermination(300)
    return IceLite(str(tmp_path / "wh"), SPANS_TABLE)


def _curation(spark, input_df, tmp_path):
    from document_processor_spark.curation_job import (
        CURATED_TABLE, run_curation_job)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    run_curation_job(spark, docs, str(tmp_path), "c1", n_parts=4)
    return IceLite(str(tmp_path), CURATED_TABLE)


def _dedup(spark, input_df, tmp_path):
    from document_processor_spark.dedup_job import (
        CLUSTERS_TABLE, run_cluster_job)
    docs = spark.createDataFrame([(x,) for x in "abcdefg"], "doc_id string")
    pairs = spark.createDataFrame([("a", "b"), ("b", "c"), ("e", "f")],
                                  "d1 string, d2 string")
    run_cluster_job(spark, docs, pairs, str(tmp_path), "d1", n_parts=4)
    return IceLite(str(tmp_path), CLUSTERS_TABLE)


@pytest.mark.parametrize("writer", [_batch_job, _compacted, _stream,
                                    _curation, _dedup],
                         ids=["batch", "compact", "stream", "curation",
                              "dedup"])
def test_recorded_schema_equals_inferred_schema(spark, input_df, tmp_path,
                                                writer):
    table = writer(spark, input_df, tmp_path)
    assert all("schema" in s for s in table._view())
    got = table.read(spark).schema
    assert got == inferred(spark, table).schema
    assert all_nullable(got)
    assert got[PART_COL].dataType == IntegerType()


def test_manifest_without_schema_opens_by_inference(spark, input_df, tmp_path):
    table = _batch_job(spark, input_df, tmp_path)
    before = table.read(spark)
    schema, rows = before.schema, sorted(map(tuple, before.collect()))
    for p in table.meta.glob("v*.json"):
        m = json.loads(p.read_text())
        del m["schema"]
        p.write_text(json.dumps(m))
    assert not any("schema" in s for s in table.snapshots())
    after = table.read(spark)
    assert after.schema == schema
    assert sorted(map(tuple, after.collect())) == rows

