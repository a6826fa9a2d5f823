from __future__ import annotations

import os

import pytest

from document_processor_spark import fixtures, oracle


@pytest.fixture(scope="session")
def spark():
    from document_processor_spark.session import build_spark
    # A fixed driver heap.  Under the 48g default, G1 may grow this JVM
    # past 12 GB, and on a 16 GB host the cluster test_submit starts
    # beside it then gets the test JVM killed for memory.
    os.environ.setdefault("SPARK_DRIVER_MEM", "8g")
    s = build_spark(app="dps-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus():
    """sf0.001 corpus without the 50k-span skew doc (fast tests);
    the skew doc has its own dedicated test."""
    return fixtures.generate_corpus(0.001, include_skew=False)


@pytest.fixture(scope="session")
def golden(corpus):
    return oracle.extract_corpus(corpus)


def collect_spans(df) -> dict[str, list[tuple]]:
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"])
                      for s in r["spans"]]
        for r in df.collect()
    }
