"""A table view opens as one file scan however many snapshots it holds:
data/ is the scan's base path and each write attempt's dir a `snap=`
partition of it, dropped before the frame leaves IceLite.  Plans are
checked by counted physical nodes."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from document_processor_spark.io.icelite import PART_COL, IceLite, with_part
from tests.test_r6_optimizations import _count_nodes, _plan_nodes, _seq


@pytest.fixture()
def table(spark, tmp_path):
    t = IceLite(tmp_path, "spans")
    for i in range(4):
        df = with_part(
            spark.range(i * 10, i * 10 + 10)
            .selectExpr("cast(id as string) as doc_id", "id as v"), 4)
        t.append(df, run_id=f"r{i}", partitions=[0, 1, 2, 3])
    return t


def _scans(df) -> list:
    return [n for n in _plan_nodes(df)
            if n.getClass().getSimpleName() == "FileSourceScanExec"]


def test_point_read_plans_one_file_scan_at_any_view_size(spark, table):
    def check(as_of, n_snapshots):
        assert len(table._view(as_of)) == n_snapshots
        df = table.read_spans(spark, as_of).filter(F.col("doc_id") == "5")
        assert _count_nodes(df, "FileSourceScanExec") == 1, (as_of, n_snapshots)
        assert _count_nodes(df, "UnionExec") == 0
        assert [(r["doc_id"], r["v"]) for r in df.collect()] == [("5", 5)]
        assert df.columns == ["doc_id", "v", PART_COL]

    for as_of, n in ((1, 1), (2, 2), (None, 4)):
        check(as_of, n)
    one = table.read_snapshot(spark, 2)
    assert _count_nodes(one, "FileSourceScanExec") == 1
    assert one.columns == ["doc_id", "v", PART_COL] and one.count() == 10
    table.compact(spark, run_id="compact-1")
    check(None, 1)
    check(4, 4)


def test_partition_filter_prunes_part_dirs(spark, table):
    df = table.read(spark).filter(f"{PART_COL} = 1")
    [scan] = _scans(df)
    filters = _seq(scan.partitionFilters())
    assert filters
    assert {a.name() for f in filters for a in _seq(f.references().toSeq())} \
        == {PART_COL}
    rows = df.collect()
    assert rows and all(r[PART_COL] == 1 for r in rows)
    # one part=1 dir read per snapshot, not all four of each
    [scan] = _scans(df)
    assert scan.metrics().apply("numPartitions").value() == 4


def test_conflicting_column_types_raise(spark, table):
    df = with_part(spark.range(100, 102).selectExpr(
        "cast(id as string) as doc_id", "cast(id as string) as v"), 4)
    table.append(df, run_id="retyped", partitions=[0, 1, 2, 3])
    with pytest.raises(ValueError, match="'v' is bigint .* string"):
        table.read(spark)
    # views below the retyped commit still open
    assert table.read(spark, as_of=4).count() == 40


def test_data_dir_outside_the_snap_level_raises(spark, table):
    m = table._manifest(2)
    old = table.data / m["data_dir"]
    old.rename(table.data / "snap-000002-legacy")
    (table.meta / "v2.json").write_text(
        json.dumps({**m, "data_dir": "snap-000002-legacy"}))
    with pytest.raises(ValueError, match="'snap-000002-legacy'"):
        table.read(spark)
    assert table.read(spark, as_of=1).count() == 10
