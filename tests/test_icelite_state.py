"""The table state each IceLite manifest carries, and the commit protocol
around it: a commit that crashes before CURRENT moves needs no manual
step before the next one, every writer is held to the table's partition
spec, the writers' "already committed?" guards read a fixed number of
manifests at any table age, and lineage stays exact across compaction."""

from __future__ import annotations

import json
import shutil

import pytest
from pyspark.sql import functions as F

from document_processor_spark import fixtures
from document_processor_spark.curation_job import CURATED_TABLE, run_curation_job
from document_processor_spark.dedup_job import CLUSTERS_TABLE, run_cluster_job
from document_processor_spark.io.icelite import PART_COL, IceLite, with_part
from document_processor_spark.job import SPANS_TABLE, read_spans, run_extraction_job
from document_processor_spark.streaming.extract_stream import make_batch_processor
from tests.conftest import collect_spans

N_PARTS = 4


@pytest.fixture()
def input_df(spark, corpus):
    rows = [(d["doc_id"],
             [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d["spans"]])
            for d in corpus]
    return spark.createDataFrame(rows, schema=fixtures.INPUT_DDL)


def assert_oracle_table(spark, wh, expected):
    out = read_spans(spark, wh)
    assert out.groupBy("doc_id").count().filter(F.col("count") > 1).count() == 0
    assert collect_spans(out.select("doc_id", "spans")) == expected


def unreferenced_dirs(table: IceLite) -> list[str]:
    referenced = {s["data_dir"] for s in table.snapshots()}
    return sorted(d.name for d in table.data.iterdir() if d.name not in referenced)


# -- a crashed commit does not wedge the next one -----------------------------

def crash_on_commit(monkeypatch, nth: int, step: str) -> None:
    """Make the `nth` manifest write of this test raise: before the manifest
    lands (step "data": only the data dir was written) or after it, before
    CURRENT moves (step "manifest")."""
    write = IceLite._write_manifest
    calls = []

    def faulty(self, manifest):
        calls.append(manifest["snapshot_id"])
        if len(calls) != nth:
            return write(self, manifest)
        if step == "manifest":
            write(self, manifest)
        raise RuntimeError(f"injected crash after the {step} write")

    monkeypatch.setattr(IceLite, "_write_manifest", faulty)


@pytest.mark.parametrize("step", ["data", "manifest"])
def test_job_resumes_after_a_crashed_commit(spark, input_df, golden, tmp_path,
                                            monkeypatch, step):
    expected, _ = golden
    wh = str(tmp_path)
    crash_on_commit(monkeypatch, 2, step)
    with pytest.raises(RuntimeError, match="injected"):
        run_extraction_job(spark, input_df, wh, "r1", n_parts=N_PARTS,
                           partitions_per_commit=2)
    monkeypatch.undo()
    table = IceLite(wh, SPANS_TABLE)
    assert table.current_snapshot_id() == 1
    assert (table.meta / "v2.json").exists() == (step == "manifest")

    s = run_extraction_job(spark, input_df, wh, "r2", n_parts=N_PARTS,
                           partitions_per_commit=2)
    assert len(s.commits) == 1 and len(s.skipped_partitions) == 2
    assert_oracle_table(spark, wh, expected)
    dead = unreferenced_dirs(table)
    assert len(dead) == 1 and dead[0].startswith("snap=000002-")
    assert table.remove_orphans() == dead
    assert unreferenced_dirs(table) == []
    assert_oracle_table(spark, wh, expected)


@pytest.mark.parametrize("step", ["data", "manifest"])
def test_replayed_batch_commits_after_a_crashed_commit(spark, input_df, golden,
                                                       tmp_path, monkeypatch,
                                                       step):
    expected, _ = golden
    wh = str(tmp_path)
    table = IceLite(wh, SPANS_TABLE)
    halves = with_part(input_df, 2)
    first, second = (halves.filter(F.col(PART_COL) == i).drop(PART_COL)
                     for i in range(2))
    make_batch_processor(table, "s", "sql", N_PARTS)(first, 0)
    crash_on_commit(monkeypatch, 1, step)
    with pytest.raises(RuntimeError, match="injected"):
        make_batch_processor(table, "s", "sql", N_PARTS)(second, 1)
    monkeypatch.undo()
    assert table.current_snapshot_id() == 1

    # the restarted query replays batch 1 through a new processor
    replay = make_batch_processor(table, "s", "sql", N_PARTS)
    replay(second, 1)
    assert table.current_snapshot_id() == 2
    replay(second, 1)  # and a replay of a committed batch is a no-op
    assert table.current_snapshot_id() == 2
    assert_oracle_table(spark, wh, expected)
    dead = unreferenced_dirs(table)
    assert len(dead) == 1 and dead[0].startswith("snap=000002-")
    assert table.remove_orphans() == dead
    assert_oracle_table(spark, wh, expected)


def test_remove_orphans_drops_a_manifest_above_current(spark, tmp_path,
                                                       monkeypatch):
    table = IceLite(tmp_path, "t")
    df = with_part(spark.range(4).selectExpr("cast(id as string) as doc_id"), 2)
    table.append(df, run_id="r1")
    crash_on_commit(monkeypatch, 1, "manifest")
    with pytest.raises(RuntimeError, match="injected"):
        table.append(df, run_id="r2")
    monkeypatch.undo()
    dead = unreferenced_dirs(table)
    assert table.remove_orphans() == dead + ["v2.json"]
    assert sorted(p.name for p in table.meta.glob("v*.json")) == ["v1.json"]
    assert table.read(spark).count() == 4


# -- lineage after compaction ---------------------------------------------------

def test_lineage_sums_stay_exact_after_compaction(spark, input_df, golden,
                                                  tmp_path):
    expected, om = golden
    wh = str(tmp_path)
    run_extraction_job(spark, input_df, wh, "r1", n_parts=N_PARTS,
                       partitions_per_commit=2)
    table = IceLite(wh, SPANS_TABLE)
    table.compact(spark, run_id="compact-1")
    assert table.expire_snapshots() == [1, 2]
    lineage = table.lineage()
    assert sum(r.get("docs_in", 0) for r in lineage) == om.docs_in
    assert sum(r.get("spans_out", 0) for r in lineage) == om.spans_out
    assert sum(r.get("fallback_pages", 0) for r in lineage) == om.fallback_pages
    assert sum(r.get("skipped_docs", 0) for r in lineage) == om.skipped_docs
    # the done partitions survive in the table state: a rerun is a no-op
    s = run_extraction_job(spark, input_df, wh, "r2", n_parts=N_PARTS)
    assert s.commits == [] and s.skipped_partitions == list(range(N_PARTS))
    assert_oracle_table(spark, wh, expected)


# -- one partition spec for every writer ----------------------------------------

def test_stream_batch_with_another_n_parts_is_refused(spark, input_df, golden,
                                                      tmp_path):
    expected, _ = golden
    wh = str(tmp_path)
    run_extraction_job(spark, input_df, wh, "r1", n_parts=6,
                       partitions_per_commit=3, max_commits=1)
    table = IceLite(wh, SPANS_TABLE)
    dirs = sorted(table.data.iterdir())
    with pytest.raises(ValueError, match="n_parts"):
        make_batch_processor(table, "s", "sql", n_parts=4)(input_df, 0)
    assert table.current_snapshot_id() == 1
    assert sorted(table.data.iterdir()) == dirs
    s = run_extraction_job(spark, input_df, wh, "r2", n_parts=6,
                           partitions_per_commit=3)
    assert len(s.commits) == 1
    assert_oracle_table(spark, wh, expected)


# -- guards read a fixed number of manifests ------------------------------------

def _guards(spark, wh):
    """Each writer's "already committed?" check on a warehouse where all of
    them have committed, as a callable returning its answer."""
    docs = spark.range(2).selectExpr("cast(id as string) as doc_id")
    spans = IceLite(wh, SPANS_TABLE)

    def stream():
        head = spans.current_snapshot_id()
        make_batch_processor(spans, "s", "sql", 2)(docs, 0)
        return spans.current_snapshot_id() - head

    return {
        "job": lambda: run_extraction_job(spark, docs, wh, "r", n_parts=2)
        .skipped_partitions,
        "stream": stream,
        "curation": lambda: run_curation_job(spark, docs, wh, "c1").snapshot_id,
        "dedup": lambda: run_cluster_job(spark, docs, docs, wh, "d1").snapshot_id,
    }


def test_guards_read_a_fixed_number_of_manifests(spark, tmp_path, monkeypatch):
    """The same history in each writer's table: stream batches 0..n-1 of
    run "s" under n_parts 2, the first also the commit of curation run
    "c1" and dedup run "d1"."""
    hist = IceLite(tmp_path / "src", "history")
    df = with_part(spark.range(2).selectExpr("cast(id as string) as doc_id"), 2)
    whs = {}
    for i in range(33):
        extra = {"n_parts": 2, "stream_run_id": "s", "streaming_batch_id": i}
        if i == 0:
            extra.update(curation_run_id="c1", dedup_run_id="d1")
        hist.append(df, run_id=f"s-b{i}", partitions=[0, 1], extra=extra)
        if i + 1 in (1, 33):
            whs[i + 1] = tmp_path / f"wh{i + 1}"
            for name in (SPANS_TABLE, CURATED_TABLE, CLUSTERS_TABLE):
                shutil.copytree(hist.dir, whs[i + 1] / name)

    want = {"job": [0, 1], "stream": 0, "curation": 1, "dedup": 1}
    reads = {}
    for n, wh in whs.items():
        for writer, guard in _guards(spark, str(wh)).items():
            read = []
            manifest = IceLite._manifest
            monkeypatch.setattr(IceLite, "_manifest",
                                lambda self, i: read.append(i) or manifest(self, i))
            assert guard() == want[writer], (n, writer)
            monkeypatch.undo()
            reads[n, writer] = len(read)
    for writer in want:
        assert reads[1, writer] == reads[33, writer] <= 2, reads

    # a table whose manifests predate `state` gives the same answers
    wh = whs[33]
    before = IceLite(wh, SPANS_TABLE).state()
    for p in wh.glob("*/meta/v*.json"):
        m = json.loads(p.read_text())
        del m["state"]
        p.write_text(json.dumps(m))
    assert IceLite(wh, SPANS_TABLE).state() == before
    assert {k: g() for k, g in _guards(spark, str(wh)).items()} == want
