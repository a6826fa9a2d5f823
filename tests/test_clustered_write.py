"""Write-side clustering (IceLite append cluster_by): every committed
parquet file must be internally sorted on the cluster key so row-group
min/max stats are tight and non-overlapping — the property parquet
readers prune on."""

from __future__ import annotations

import glob

import pyarrow.parquet as pq

from document_processor_spark import fixtures
from document_processor_spark.io.icelite import IceLite
from document_processor_spark.job import run_extraction_job


def _rowgroup_ranges(path: str, col: str):
    f = pq.ParquetFile(path)
    idx = f.schema_arrow.get_field_index(col)
    out = []
    for g in range(f.metadata.num_row_groups):
        st = f.metadata.row_group(g).column(idx).statistics
        out.append((st.min, st.max))
    return out


def _assert_clustered(files: list[str]) -> int:
    checked = 0
    for path in files:
        ranges = _rowgroup_ranges(path, "doc_id")
        if not ranges:
            continue
        for (lo, hi) in ranges:
            assert lo <= hi
        for (_, hi), (lo2, _) in zip(ranges, ranges[1:]):
            assert hi <= lo2
        col = pq.read_table(path, columns=["doc_id"])["doc_id"].to_pylist()
        assert col == sorted(col)
        checked += 1
    return checked


def test_compact_preserves_doc_id_clustering(spark, tmp_path):
    """Iceberg's rewrite_data_files honors the table sort order; IceLite
    compact() must re-apply the recorded cluster_by — a rewrite that
    shuffled rows arbitrarily would silently undo row-group pruning."""
    from document_processor_spark.io.icelite import IceLite

    wh = str(tmp_path / "wh")
    docs = fixtures.corpus_df(spark, 0.001, include_skew=False,
                              n_partitions=8)
    # two snapshots (one partition per commit) so the compaction actually
    # merges files rather than rewriting a single snapshot
    run_extraction_job(spark, docs, wh, "clu-a", n_parts=2,
                       partitions_per_commit=1)
    table = IceLite(wh, "spans")
    assert len(table.snapshots()) == 2
    m = table.compact(spark, run_id="compact-1")
    assert m["cluster_by"] == ["doc_id"]
    files = glob.glob(f"{wh}/spans/data/{m['data_dir']}/part=*/*.parquet")
    assert files
    assert _assert_clustered(files) > 0


def test_extraction_snapshot_files_are_doc_id_clustered(spark, tmp_path):
    wh = str(tmp_path / "wh")
    docs = fixtures.corpus_df(spark, 0.001, include_skew=False,
                              n_partitions=8)
    run_extraction_job(spark, docs, wh, "clu", n_parts=4)
    files = [f for s in IceLite(wh, "spans").snapshots()
             for f in glob.glob(f"{wh}/spans/data/{s['data_dir']}/part=*/*.parquet")]
    assert files
    checked = 0
    for path in files:
        ranges = _rowgroup_ranges(path, "doc_id")
        if not ranges:
            continue
        # non-overlapping and ordered across row groups, sorted within
        for (lo, hi) in ranges:
            assert lo <= hi
        for (_, hi), (lo2, _) in zip(ranges, ranges[1:]):
            assert hi <= lo2
        # spot-check: rows inside the file really are sorted
        col = pq.read_table(path, columns=["doc_id"])["doc_id"].to_pylist()
        assert col == sorted(col)
        checked += 1
    assert checked > 0
