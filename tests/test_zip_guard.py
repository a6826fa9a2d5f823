"""The package's worker-side zip guard: `importlib.invalidate_caches()`,
which PySpark's worker calls at the start of every task, re-reads a
`zipimporter`'s archive directory only when the archive changed.  Reads are
counted by wrapping `zipimport._read_directory`, never by timing."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

from document_processor_spark import fixtures, pipeline
from document_processor_spark.operators import multimodal

REPO = Path(__file__).resolve().parents[1]

# Runs in its own interpreter so this process's zipimporter stays stock.
_PROBE = r"""
import importlib, importlib.machinery, json, os, sys, zipfile, zipimport

arc = os.path.join(sys.argv[1], "mods.zip")
reads = []
stock_read = zipimport._read_directory


def counted(path):
    reads.append(path)
    return stock_read(path)


zipimport._read_directory = counted


def write(*names):
    with zipfile.ZipFile(arc, "w") as z:  # in place: same inode
        for n in names:
            z.writestr(f"{n}.py", f"NAME = {n!r}\n")


def n_reads(*steps):
    reads.clear()
    for step in steps:
        step()
    return sum(r == arc for r in reads)


def lookup(name):
    return lambda: importlib.machinery.PathFinder.find_spec(name)


write("zg_a")
sys.path.insert(0, arc)
import zg_a

out = {"stock": n_reads(importlib.invalidate_caches, lookup("zg_a"))}
from document_processor_spark.zip_guard import guard_zip_rereads
guard_zip_rereads()
guard_zip_rereads()  # a second install is a no-op
out["unchanged"] = n_reads(importlib.invalidate_caches, lookup("zg_a"))
write("zg_a", "zg_b")
out["rewritten"] = n_reads(importlib.invalidate_caches, lookup("zg_b"))
import zg_b
out["new_member"] = zg_b.NAME
out["after_rewrite"] = n_reads(importlib.invalidate_caches, lookup("zg_b"))
os.remove(arc)
importlib.invalidate_caches()
out["deleted_finds"] = importlib.machinery.PathFinder.find_spec("zg_a") is not None
print(json.dumps(out))
"""


def test_guard_rereads_only_changed_archives(tmp_path):
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [str(REPO), *filter(None, [env.get("PYTHONPATH")])])
    res = subprocess.run([sys.executable, "-c", _PROBE, str(tmp_path)],
                         env=env, capture_output=True, text=True, timeout=120)
    assert res.returncode == 0, res.stderr
    out = json.loads(res.stdout.strip().splitlines()[-1])
    assert out == {
        "stock": 1,            # the counter sees the stock re-read
        "unchanged": 0,
        "rewritten": 1,        # re-read once ...
        "new_member": "zg_b",  # ... and the new member imports
        "after_rewrite": 0,
        "deleted_finds": False,  # no exception, archive dropped as stock
    }


def _reread_probe(work, batch):
    """A worker function that runs an operator's worker function `work` over
    its input, then counts the archive directories a task start's
    `importlib.invalidate_caches()` reads in that process, guarded and
    stock; `batch` builds its one output batch from a dict of columns.
    The probe imports nothing from the package itself: the guard it sees
    comes from unpickling `work`."""
    def probe(batches):
        import importlib
        import os
        import sys
        import zipimport

        rows = sum(len(b) for b in work(batches))
        importers = [i for i in sys.path_importer_cache.values()
                     if isinstance(i, zipimport.zipimporter)]
        reads = []
        stock_read = zipimport._read_directory

        def counted(path):
            reads.append(path)
            return stock_read(path)

        def n_reads(invalidate):
            reads.clear()
            invalidate()
            for imp in importers:  # a lookup, for lazy (3.13) re-reads
                imp.find_spec("no_such_module_zg")
            return len(reads)

        stock = zipimport.zipimporter.invalidate_caches.__wrapped__
        zipimport._read_directory = counted
        try:
            guarded = n_reads(importlib.invalidate_caches)
            unguarded = n_reads(lambda: [stock(i) for i in importers])
        finally:
            zipimport._read_directory = stock_read
        yield batch({"pid": [os.getpid()], "rows": [rows],
                     "importers": [len(importers)], "guarded": [guarded],
                     "unguarded": [unguarded]})
    return probe


PROBE_DDL = "pid long, rows long, importers long, guarded long, unguarded long"


def _assert_no_unchanged_rereads(out, n_rows):
    """In each worker that ran the operator, a task start's
    `importlib.invalidate_caches()` reads no archive directory, while the
    stock method re-reads every zipimporter's archive in that process."""
    assert sum(r["rows"] for r in out) == n_rows > 0
    for r in out:
        assert r["importers"] > 0, r
        assert r["unguarded"] == r["importers"], r
        assert r["guarded"] == 0, r


def test_arrow_worker_rereads_no_unchanged_archive(spark):
    import pyarrow as pa

    rows = pipeline.explode_spans(fixtures.corpus_df(
        spark, 0.001, include_skew=False)).repartition(4)
    out = rows.mapInArrow(_reread_probe(
        pipeline._arrow_worker, lambda cols: pa.RecordBatch.from_pydict(cols)),
        PROBE_DDL).collect()
    _assert_no_unchanged_rereads(out, rows.count())


def test_multimodal_pandas_worker_rereads_no_unchanged_archive(spark):
    """The guard reaches mapInPandas operators too: it is installed when
    the worker imports the package to unpickle the operator's function."""
    import pandas as pd

    media = spark.createDataFrame(
        [(i, bytearray(b"x" * (i % 50)), "image/png", i) for i in range(200)],
        "doc_id bigint, payload binary, media_type string, hint bigint",
    ).repartition(4)
    out = media.mapInPandas(_reread_probe(multimodal._feature_batches,
                                          pd.DataFrame), PROBE_DDL).collect()
    _assert_no_unchanged_rereads(out, 200)
