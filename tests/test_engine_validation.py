"""An unknown parse engine fails fast with ValueError, before any Spark
action, warehouse write or streaming query — on every entry point."""

from __future__ import annotations

import pytest

from document_processor_spark import fixtures, pipeline
from document_processor_spark.job import run_extraction_job
from document_processor_spark.streaming.extract_stream import (
    start_extract_stream)

GROUP = "engine-validation"


@pytest.fixture()
def docs(spark, corpus):
    rows = [(d["doc_id"],
             [(s["kind"], s["text"], s["media_ref"], s["offset"])
              for s in d["spans"]])
            for d in corpus[:4]]
    return spark.createDataFrame(rows, schema=fixtures.INPUT_DDL)


@pytest.fixture()
def no_jobs(spark):
    """Runs the test body under a job group and asserts it ran no job."""
    sc = spark.sparkContext
    sc.setJobGroup(GROUP, "must stay empty")
    try:
        yield
        assert list(sc.statusTracker().getJobIdsForGroup(GROUP)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _raises_unknown_engine():
    return pytest.raises(ValueError, match=r"'pandas'.*\['arrow', 'sql'\]")


def test_engines_are_sql_and_arrow():
    assert sorted(pipeline.ENGINES) == ["arrow", "sql"]


def test_extract_documents_rejects_unknown_engine(docs, no_jobs):
    with _raises_unknown_engine():
        pipeline.extract_documents(docs, engine="pandas")
    with _raises_unknown_engine():
        pipeline.extract_with_metrics(docs, engine="pandas")


def test_job_rejects_unknown_engine_before_touching_warehouse(
        spark, docs, tmp_path, no_jobs):
    wh = tmp_path / "wh"
    with _raises_unknown_engine():
        run_extraction_job(spark, docs, str(wh), "r1", n_parts=4,
                           engine="pandas")
    assert not wh.exists()


def test_stream_rejects_unknown_engine_before_starting(spark, tmp_path,
                                                       no_jobs):
    wh = tmp_path / "wh"
    active = {q.id for q in spark.streams.active}
    with _raises_unknown_engine():
        start_extract_stream(spark, str(tmp_path / "in"), str(wh),
                             checkpoint_dir=str(tmp_path / "ckpt"),
                             engine="pandas", available_now=True)
    assert {q.id for q in spark.streams.active} == active
    assert not wh.exists()
    assert not (tmp_path / "ckpt").exists()
