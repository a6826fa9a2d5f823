"""IceLite — a thin Iceberg-semantics table layer over partitioned Parquet.

The sandbox ships no Iceberg runtime jar (SURVEY.md §7 step 6), so this shim
preserves the *observable semantics* the north rule requires — snapshot per
commit, per-partition lineage + extraction metrics, checkpoint resume,
snapshot-isolated reads — behind an interface a real cluster swaps for
`spark.read.table(...)` / `df.writeTo(...).append()` on actual Iceberg.

Layout::

    <root>/<table>/
        data/snap=<id>-<attempt>/part=<k>/*.parquet   one dir per write attempt
        meta/v<id>.json                               snapshot manifest
        meta/CURRENT                                  id of the committed head

Invariants (Iceberg's model, https://iceberg.apache.org/spec/):

* A commit (one writer at a time) writes its data dir, then its
  manifest, then CURRENT, each by atomic rename.  The CURRENT swap is the commit: manifests above CURRENT
  are not committed, and readers list data dirs from the manifests of
  their view only, never by globbing.
* Each write attempt writes a data dir of its own, named in its
  manifest's ``data_dir``.  A writer that dies before CURRENT moves
  leaves only files no committed manifest names: the next commit needs
  no manual step, and ``remove_orphans`` reclaims them.
* A view is one scan over the dirs its manifests name: ``data/`` is the
  scan's base path, so ``snap`` is a partition level beside ``part``.
  ``snap`` exists at read time only, to let one scan span several write
  attempts: ``_open`` drops it, so it never reaches the output.  ``part``
  stays a partition column, so filters on it prune directories.

A commit writes its manifest once, complete:

* ``schema`` — the written frame's schema (``part`` included), Iceberg's
  per-snapshot schema in table metadata.  Readers open a view with the
  merge of its snapshots' schemas, so opening a table runs no
  schema-inference job; a view with a manifest lacking it is opened by
  inference.
* ``partitions`` — per-partition lineage and metrics.  ``append`` accepts
  them as a callable, resolved after the data write and before the
  manifest rename, so counters an Observation collects during the write
  itself land in the same manifest.
* ``state`` — what the table has committed through this snapshot, folded
  from the parent's by ``fold_state``: the partition spec (``n_parts``),
  the done partitions, each once-per-run writer's run id, and each
  stream run's last batch id.  Writers ask ``IceLite.state()``, one
  manifest read at any table age, instead of scanning history.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections.abc import Callable
from functools import reduce
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

PART_COL = "part"
# Partition level of data/ naming the write attempt (see the module docstring).
SNAP_COL = "snap"


def with_part(df: DataFrame, n_parts: int, key: str = "doc_id") -> DataFrame:
    """Stateless bucketing of documents into n_parts partitions (the fixture
    analog of Iceberg's bucket(doc_id) transform, FIXTURES.md §1)."""
    return df.withColumn(PART_COL, F.pmod(F.xxhash64(F.col(key)), F.lit(n_parts)).cast("int"))


# Manifest keys naming the run of a once-per-run writer (curation, dedup).
RUN_KEYS = ("curation_run_id", "dedup_run_id")


def view_schema(schemas: list[dict]) -> StructType:
    """The read schema of a view: its snapshots' recorded schemas merged by
    name in snapshot order, then SNAP_COL and PART_COL.  A column a snapshot
    lacks reads null in its files (Iceberg add-column); a column whose type
    differs between snapshots is a ValueError."""
    fields: dict[str, StructField] = {}
    for js in schemas:
        for f in StructType.fromJson(js).fields:
            seen = fields.setdefault(f.name, f)
            if seen.dataType.simpleString() != f.dataType.simpleString():
                raise ValueError(
                    f"column {f.name!r} is {seen.dataType.simpleString()} in "
                    f"one snapshot and {f.dataType.simpleString()} in another")
    part = fields.pop(PART_COL)
    return StructType([*fields.values(), StructField(SNAP_COL, StringType()),
                       part])


def fold_state(state: dict, m: dict) -> dict:
    """The table state after committing manifest `m` on a table in `state`:
    the one rule for what a table has committed."""
    runs = {**state["runs"], **{m[k]: m["snapshot_id"] for k in RUN_KEYS if k in m}}
    batches = dict(state["stream_batches"])
    if "stream_run_id" in m:
        r = m["stream_run_id"]
        batches[r] = max(batches.get(r, -1), m["streaming_batch_id"])
    return {"n_parts": m.get("n_parts", state["n_parts"]),
            "done": sorted(set(state["done"]) | {int(p) for p in m["partitions"]}),
            "runs": runs, "stream_batches": batches}


class IceLite:
    def __init__(self, root: str | os.PathLike, table: str):
        self.root = Path(root)
        self.dir = self.root / table
        self.meta = self.dir / "meta"
        self.data = self.dir / "data"
        self.meta.mkdir(parents=True, exist_ok=True)
        self.data.mkdir(parents=True, exist_ok=True)

    # -- snapshot bookkeeping ------------------------------------------------

    def current_snapshot_id(self) -> int:
        cur = self.meta / "CURRENT"
        if not cur.exists():
            return 0
        return int(cur.read_text().strip())

    def _manifest(self, snapshot_id: int) -> dict | None:
        p = self.meta / f"v{snapshot_id}.json"
        return json.loads(p.read_text()) if p.exists() else None

    def snapshots(self) -> list[dict]:
        """Every committed manifest, oldest first (expired ones included)."""
        out = []
        for i in range(1, self.current_snapshot_id() + 1):
            m = self._manifest(i)
            if m is not None:
                out.append(m)
        return out

    def state(self, n_parts: int | None = None) -> dict:
        """The committed table state (see `fold_state`): the head manifest's
        `state`.  Manifests written without one are folded onto the newest
        `state` below them (or onto the empty table), newest read first.
        With `n_parts`, also checks it is the table's partition spec:
        committed partition ids mean nothing under another bucketing."""
        unfolded = []
        base = {"n_parts": None, "done": [], "runs": {}, "stream_batches": {}}
        for i in range(self.current_snapshot_id(), 0, -1):
            m = self._manifest(i)
            if m is None:
                continue
            if "state" in m:
                base = m["state"]
                break
            unfolded.append(m)
        state = reduce(fold_state, reversed(unfolded), base)
        if n_parts is not None and state["n_parts"] not in (None, n_parts):
            raise ValueError(
                f"table {self.dir} is bucketed with n_parts={state['n_parts']}; "
                f"cannot commit or resume with n_parts={n_parts}")
        return state

    def committed_partitions(self) -> set[int]:
        return set(self.state()["done"])

    def committed_run(self, run_id: str) -> dict | None:
        """The manifest a once-per-run writer committed for `run_id`, if any."""
        sid = self.state()["runs"].get(run_id)
        return None if sid is None else self._manifest(sid)

    # -- write path -----------------------------------------------------------

    def _write_data(self, df: DataFrame, sid: int) -> str:
        """Write `df` partitioned by PART_COL into a data dir of this
        attempt's own; returns its name under data/."""
        rel = f"{SNAP_COL}={sid:06d}-{uuid.uuid4().hex[:8]}"
        df.write.mode("errorifexists").partitionBy(PART_COL).parquet(
            str(self.data / rel))
        return rel

    def _commit(self, manifest: dict, parent_state: dict) -> dict:
        """Land one snapshot's manifest, its `state` folded from the
        parent's (tmp file + atomic rename), then advance CURRENT to it
        the same way."""
        sid = manifest["snapshot_id"]
        manifest["state"] = fold_state(parent_state, manifest)
        self._write_manifest(manifest)
        tmp_cur = self.meta / f".CURRENT.{uuid.uuid4().hex}.tmp"
        tmp_cur.write_text(str(sid))
        os.replace(tmp_cur, self.meta / "CURRENT")
        return manifest

    def _write_manifest(self, manifest: dict) -> None:
        sid = manifest["snapshot_id"]
        tmp = self.meta / f".v{sid}.json.{uuid.uuid4().hex}.tmp"
        tmp.write_text(json.dumps(manifest, indent=2))
        os.replace(tmp, self.meta / f"v{sid}.json")

    def append(self, df: DataFrame, run_id: str,
               metrics: dict[int, dict] | Callable[[], dict[int, dict]]
               | None = None,
               partitions: list[int] | None = None,
               extra: dict | None = None,
               cluster_by: list[str] | None = None) -> dict:
        """Commit one snapshot: write data files, then the manifest, then
        advance CURRENT (each step atomic, in that order).

        `partitions` is the checkpoint unit being committed; it may be a
        superset of the partition dirs actually written (a bucket whose every
        document was skipped produces no data file but IS done — it must not
        be reprocessed on resume).

        `metrics` may be a callable: it is called after the data write and
        before the manifest is written, so values an Observation on `df`
        collects during the write go into this commit's manifest.

        `extra` fields land in the manifest; an `n_parts` there must match
        the table's partition spec, else ValueError before any data is
        written.

        `cluster_by` sorts rows WITHIN each write task before the parquet
        encoder sees them (Iceberg's write.sort-order analog): row groups
        then carry tight non-overlapping min/max stats on those columns,
        so point/range reads prune row groups instead of scanning the
        partition — at 10^12 rows the difference between a doc_id lookup
        touching kilobytes and touching a whole bucket.  Sort is per-task
        (no extra shuffle, no global order claim)."""
        extra = {**(extra or {})}
        state = self.state(extra.get("n_parts"))
        sid = self.current_snapshot_id() + 1
        if cluster_by:
            # PART_COL leads the sort: FileFormatWriter requires per-task
            # ordering on the partition columns and would otherwise insert
            # its OWN (unstable) sort on PART_COL alone, destroying the
            # cluster order; with the prefix satisfied it adds nothing.
            df = df.sortWithinPartitions(PART_COL, *cluster_by)
        rel = self._write_data(df, sid)
        if callable(metrics):
            metrics = metrics()
        if cluster_by:
            # Recorded in the manifest (Iceberg's write.sort-order lives in
            # table metadata) so compact() can re-apply it: a rewrite that
            # dropped the cluster order would silently undo row-group pruning.
            extra["cluster_by"] = list(cluster_by)
        if partitions is not None:
            parts = sorted(partitions)
        else:
            parts = sorted(int(p.name.split("=")[1])
                           for p in (self.data / rel).glob(f"{PART_COL}=*"))
        manifest = {
            "snapshot_id": sid,
            "parent_id": sid - 1 if sid > 1 else None,
            "run_id": run_id,
            "committed_at": time.time(),
            "data_dir": rel,
            "schema": df.schema.jsonValue(),
            "partitions": {str(p): (metrics or {}).get(p, {}) for p in parts},
            **extra,
        }
        return self._commit(manifest, state)

    def update_metrics(self, snapshot_id: int, metrics: dict[int, dict]) -> None:
        """Replace per-partition metrics on an already-committed manifest
        (atomic rewrite), for lineage computed after the commit."""
        manifest = json.loads((self.meta / f"v{snapshot_id}.json").read_text())
        for part, m in metrics.items():
            manifest["partitions"][str(part)] = m
        self._write_manifest(manifest)

    # -- read path ------------------------------------------------------------

    def _open(self, spark: SparkSession, snaps: list[dict]) -> DataFrame | None:
        """The snapshots' data dirs as one scan (None if none of them holds
        rows): one read with data/ as base path, so each dir is a SNAP_COL
        partition, read as a string and dropped.  The read schema is
        `view_schema` of the recorded schemas, so opening runs no
        schema-inference job; if a manifest lacks one, the view is inferred
        with mergeSchema.  Commits that wrote no rows have no part dirs and
        are skipped."""
        with_rows = []
        for s in snaps:
            if not s["data_dir"].startswith(f"{SNAP_COL}="):
                raise ValueError(
                    f"data dir {s['data_dir']!r} of snapshot "
                    f"{s['snapshot_id']} in {self.dir} is not a "
                    f"{SNAP_COL}= partition of data/")
            d = self.data / s["data_dir"]
            if d.exists() and any(d.glob(f"{PART_COL}=*")):
                with_rows.append(s)
        if not with_rows:
            return None
        reader = spark.read.option("basePath", str(self.data))
        if all("schema" in s for s in with_rows):
            reader = reader.schema(
                view_schema([s["schema"] for s in with_rows]))
        else:
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(*(str(self.data / s["data_dir"])
                                for s in with_rows)).drop(SNAP_COL)

    def read_snapshot(self, spark: SparkSession, snapshot_id: int) -> DataFrame | None:
        """Read exactly one snapshot's data files (None if the commit wrote
        no rows)."""
        committed = snapshot_id <= self.current_snapshot_id()
        s = self._manifest(snapshot_id) if committed else None
        if s is None:
            raise KeyError(f"snapshot {snapshot_id} not found in {self.dir}")
        return self._open(spark, [s])

    def _view(self, as_of: int | None = None) -> list[dict]:
        """The snapshots whose data files constitute the table view at
        `as_of` (default: current).  A compaction snapshot carries
        `replaces_through`: it REPLACES every snapshot ≤ that id, so the
        view is the latest such snapshot ≤ as_of plus all later appends —
        exactly Iceberg's rewrite-then-append lineage.  Manifests are read
        newest first down to that snapshot, so opening a table reads as
        many manifests as its view holds, however long its history."""
        top = self.current_snapshot_id()
        if as_of is not None:
            top = min(top, as_of)
        view: list[dict] = []
        for i in range(top, 0, -1):
            s = self._manifest(i)
            if s is None:
                continue
            view.append(s)
            if s.get("replaces_through"):
                break
        if not view:
            raise FileNotFoundError(f"no committed snapshots in {self.dir}")
        view.reverse()
        expired = [s["snapshot_id"] for s in view if s.get("expired")]
        if expired:
            raise FileNotFoundError(
                f"snapshots {expired} were expired; the as_of={as_of} view "
                f"is no longer reconstructable (expire_snapshots removed "
                f"their data files)")
        return view

    def read(self, spark: SparkSession, as_of: int | None = None) -> DataFrame:
        """Snapshot-isolated read: only data directories referenced by
        committed manifests in the `as_of` view are scanned.

        Additive schema evolution (Iceberg add-column): a snapshot may
        carry columns earlier snapshots lack — the scan reads them as null
        from the older files, so historical data files are never
        rewritten when the pipeline grows its output schema, and an
        `as_of` read of a pre-evolution view still returns exactly the
        schema that view committed."""
        out = self._open(spark, self._view(as_of))
        if out is None:
            raise FileNotFoundError(f"no data files in committed snapshots of {self.dir}")
        return out

    def read_spans(self, spark: SparkSession,
                   as_of: int | None = None) -> DataFrame:
        """Extraction output only: `read` minus the quarantine rows the job
        keeps for lineage (skip_reason set, empty spans — the reference's
        counted-and-skipped docs, app/api.py:86-98)."""
        df = self.read(spark, as_of)
        if "skip_reason" in df.columns:
            df = df.filter(F.col("skip_reason").isNull())
        return df

    # -- table maintenance ----------------------------------------------------
    #
    # The IceLite analogs of Iceberg's maintenance procedures, which a
    # long-running 10^12-row pipeline cannot live without: every
    # checkpoint commit adds a snapshot whose data dir holds
    # one-file-per-partition — after thousands of incremental commits the
    # read path lists and scans thousands of small files (the classic
    # small-files problem) and the metadata grows without bound.

    def compact(self, spark: SparkSession, run_id: str) -> dict:
        """Rewrite the CURRENT view's data files into one snapshot
        (Iceberg `rewrite_data_files` + replace-commit): the new snapshot
        is logically identical to the current view and supersedes every
        prior snapshot (`replaces_through`).  Readers of older as_of
        views are unaffected until expire_snapshots() reclaims them.
        The done partitions carry over in `state`, so checkpoint resume
        still skips every committed partition after the replaced manifests
        are expired.  The rewrite declares no partition of its own and
        records no metrics: lineage stays with the commits that did the
        work, so summing it over `lineage()` counts each document once."""
        view = self._view()
        state = self.state()
        prev = self.current_snapshot_id()
        df = self.read(spark)
        # Iceberg's rewrite_data_files honors the table sort order: re-apply
        # the latest recorded cluster order so compaction doesn't destroy the
        # row-group min/max pruning that append(cluster_by=...) established.
        cluster_by = next((s["cluster_by"] for s in reversed(view)
                           if s.get("cluster_by")), None)
        # one file per partition dir: partitionBy splits by part value,
        # the repartition bounds files-per-dir to one
        out = df.repartition(PART_COL)
        if cluster_by:
            out = out.sortWithinPartitions(PART_COL, *cluster_by)
        sid = prev + 1
        rel = self._write_data(out, sid)
        manifest = {
            "snapshot_id": sid,
            "parent_id": prev if prev else None,
            "run_id": run_id,
            "committed_at": time.time(),
            "data_dir": rel,
            "schema": out.schema.jsonValue(),
            "replaces_through": prev,
            "compacted_snapshots": [s["snapshot_id"] for s in view],
            "partitions": {},
            **({"cluster_by": cluster_by} if cluster_by else {}),
        }
        return self._commit(manifest, state)

    def expire_snapshots(self) -> list[int]:
        """Iceberg `expire_snapshots`: delete the data files of snapshots
        no longer referenced by the CURRENT view (i.e. superseded by a
        compaction).  Manifests are kept, marked `expired`, so lineage
        history survives; time travel into expired views raises.  Returns
        the expired snapshot ids."""
        live = {s["snapshot_id"] for s in self._view()}
        expired = []
        for s in self.snapshots():
            if s["snapshot_id"] in live or s.get("expired"):
                continue
            d = self.data / s["data_dir"]
            if d.exists():
                shutil.rmtree(d)
            s["expired"] = True
            self._write_manifest(s)
            expired.append(s["snapshot_id"])
        return expired

    def remove_orphans(self) -> list[str]:
        """Iceberg `remove_orphan_files`: delete every directory under data/
        no committed manifest references, then the manifests above CURRENT —
        the leftovers of a commit that crashed before CURRENT moved
        (invisible to readers by the commit protocol, but they hold
        disk).  Returns the removed names."""
        referenced = {s["data_dir"] for s in self.snapshots()}
        removed = []
        for d in sorted(self.data.iterdir()):
            if d.is_dir() and d.name not in referenced:
                shutil.rmtree(d)
                removed.append(d.name)
        top = self.current_snapshot_id()
        for p in sorted(self.meta.glob("v*.json")):
            if int(p.stem[1:]) > top:
                p.unlink()
                removed.append(p.name)
        return removed

    def lineage(self) -> list[dict]:
        """Flat per-(snapshot, partition) lineage/metrics rows
        (FIXTURES.md §5)."""
        rows = []
        for s in self.snapshots():
            for p, m in s["partitions"].items():
                rows.append({"snapshot_id": s["snapshot_id"], "run_id": s["run_id"],
                             "partition": int(p), **m})
        return rows
