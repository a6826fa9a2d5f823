"""IceLite table maintenance: compaction (rewrite_data_files + replace
commit), snapshot expiration, and orphan-file cleanup — the Iceberg
procedures a long-running incremental extraction pipeline depends on."""

import pytest

from document_processor_spark.io.icelite import PART_COL, IceLite, with_part


@pytest.fixture()
def table(spark, tmp_path):
    t = IceLite(tmp_path, "spans")
    for i in range(3):
        df = with_part(
            spark.range(i * 10, i * 10 + 10)
            .selectExpr("cast(id as string) as doc_id", "id as v"), 4)
        t.append(df, run_id=f"r{i}", partitions=[0, 1, 2, 3],
                 metrics={p: {"docs": 10} for p in range(4)})
    return t


def _rows(df):
    return sorted((r["doc_id"], r["v"]) for r in df.collect())


def test_compact_preserves_view_and_reduces_files(spark, table):
    before = _rows(table.read(spark))
    n_files_before = len(list(table.data.rglob("*.parquet")))
    m = table.compact(spark, run_id="compact-1")
    assert m["replaces_through"] == 3
    assert _rows(table.read(spark)) == before
    # compacted view reads ONLY the new snapshot: one file per partition
    live = table._view()
    assert [s["snapshot_id"] for s in live] == [4]
    n_live_files = len(list((table.data / m["data_dir"]).rglob("*.parquet")))
    assert n_live_files == 4 < n_files_before
    # time travel into pre-compaction history still works before expiry
    assert len(_rows(table.read(spark, as_of=2))) == 20
    # resume safety: every committed partition still known
    assert table.committed_partitions() == {0, 1, 2, 3}


def test_append_after_compact(spark, table):
    table.compact(spark, run_id="compact-1")
    df = with_part(
        spark.range(100, 110)
        .selectExpr("cast(id as string) as doc_id", "id as v"), 4)
    table.append(df, run_id="r3", partitions=[0, 1, 2, 3])
    assert len(_rows(table.read(spark))) == 40
    assert [s["snapshot_id"] for s in table._view()] == [4, 5]


def test_expire_snapshots(spark, table):
    before = _rows(table.read(spark))
    table.compact(spark, run_id="compact-1")
    dirs = [table.data / s["data_dir"] for s in table.snapshots()[:3]]
    assert all(d.exists() for d in dirs)
    expired = table.expire_snapshots()
    assert expired == [1, 2, 3]
    # current view unaffected; expired data dirs gone, manifests kept
    assert _rows(table.read(spark)) == before
    assert [table.data / table._manifest(i)["data_dir"] for i in expired] == dirs
    assert not any(d.exists() for d in dirs)
    assert len(table.lineage()) >= 12  # history survives in manifests
    with pytest.raises(FileNotFoundError, match="expired"):
        table.read(spark, as_of=2)
    # idempotent
    assert table.expire_snapshots() == []


def test_remove_orphans(spark, table):
    # simulate a crash between data write and manifest commit
    orphan = table.data / "snap-000099"
    (orphan / f"{PART_COL}=0").mkdir(parents=True)
    (orphan / f"{PART_COL}=0" / "x.parquet").write_bytes(b"junk")
    before = _rows(table.read(spark))
    assert table.remove_orphans() == ["snap-000099"]
    assert not orphan.exists()
    assert _rows(table.read(spark)) == before


def test_remove_orphans_reclaims_every_unreferenced_dir(spark, table):
    """A crashed attempt's dir in the `snap=` form is reclaimed along with
    one of any other name; referenced dirs stay."""
    orphans = ["snap-000099", "snap=000099-deadbeef"]
    for name in orphans:
        (table.data / name / f"{PART_COL}=0").mkdir(parents=True)
        (table.data / name / f"{PART_COL}=0" / "x.parquet").write_bytes(b"junk")
    before = _rows(table.read(spark))
    assert table.remove_orphans() == orphans
    assert sorted(d.name for d in table.data.iterdir()) == sorted(
        s["data_dir"] for s in table.snapshots())
    assert _rows(table.read(spark)) == before


def test_additive_schema_evolution(spark, table):
    """Iceberg add-column evolution: a new snapshot with an extra column
    reads alongside the old ones (null-filled), historical files are never
    rewritten, and a pre-evolution as_of view keeps its original schema."""
    df = with_part(
        spark.range(100, 110)
        .selectExpr("cast(id as string) as doc_id", "id as v",
                    "concat('en-', id) as lang"), 4)
    table.append(df, run_id="evolved", partitions=[0, 1, 2, 3])
    # each snapshot opens from the schema its manifest records
    assert all("schema" in s for s in table.snapshots())

    cur = table.read(spark)
    assert "lang" in cur.columns
    assert cur.count() == 40
    old_rows = cur.filter("v < 100")
    assert old_rows.count() == 30
    assert old_rows.filter("lang IS NOT NULL").count() == 0
    assert cur.filter("v >= 100 AND lang IS NULL").count() == 0

    before = table.read(spark, as_of=3)
    assert "lang" not in before.columns
    assert before.count() == 30
    # and reads the schemas inference gives
    for as_of, df in ((None, cur), (3, before)):
        view = [{k: v for k, v in s.items() if k != "schema"}
                for s in table._view(as_of)]
        assert df.schema == table._open(spark, view).schema


def test_current_open_reads_only_the_view_manifests(spark, tmp_path,
                                                    monkeypatch):
    """Opening the table reads the manifests of its view only, not every
    manifest ever committed: after 30 appends, a compaction and 2 more
    appends, a current read opens 3 manifests, however long the history."""
    t = IceLite(tmp_path, "long")
    df = with_part(spark.range(2).selectExpr(
        "cast(id as string) as doc_id", "id as v"), 2)
    for i in range(30):
        t.append(df, run_id=f"r{i}", partitions=[0, 1])
    t.compact(spark, run_id="compact")
    t.expire_snapshots()
    for i in range(2):
        t.append(df, run_id=f"s{i}", partitions=[0, 1])

    read = []
    manifest = IceLite._manifest
    monkeypatch.setattr(IceLite, "_manifest",
                        lambda self, i: read.append(i) or manifest(self, i))
    assert len(_rows(t.read_spans(spark))) == 64
    assert sorted(read) == [31, 32, 33]
    read.clear()
    assert len(t.snapshots()) == 33  # full history is still there
    assert len(read) == 33
