"""The benchmark's workloads.  Each is a closed loop with one client.

Inputs are generated from the seed and written as parquet; the program
only sees those files.  Every workload reports the same end-to-end
metrics, so each names one write operation and one read operation:

* write ("ingest"): input available -> its IceLite snapshot committed.
  On bulk_sql that is a job over the whole input, one sample per snapshot
  the job commits (time from the job's start); on ingest_lookup it is one
  dropped file.
* read ("lookup"): one doc_id point read -- open the table at its current
  snapshot, fetch the doc.

Correctness is checked outside the timed calls and feeds `ok_frac`: an
output that differs from the oracle is a failed operation.  An exception
ends the run without a result.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from .procstat import cpu_ticks, steal_frac, tree_cpu_s
from .report import beyond, percentile, quiet_p50
from .trace import Tracer

INPUT_SCHEMA = pa.schema([
    ("doc_id", pa.string()),
    ("spans", pa.list_(pa.struct([("kind", pa.string()), ("text", pa.string()),
                                  ("media_ref", pa.string()),
                                  ("offset", pa.int32())]))),
])


INPUT_FILES = 4
N_PARTS = 6
PARTS_PER_COMMIT = 2               # -> 3 commits per batch job
BATCH_LOOKUPS = 5                  # point reads after each batch job
# Nominal seconds of one timed unit on a 4-core box: a batch job with its
# point reads, one ingest step with its reads.  A run measures
# round(--seconds / unit) units, so every run times the same operations,
# each at the same point of its session, however fast the box is.
JOB_UNIT_S = 6.0
STEP_UNIT_S = 3.0


@dataclass(frozen=True)
class Sizes:
    """Input sizes and loop shape.  The benchmark always runs DEFAULT; the
    smoke tests pass a tiny instance."""
    bulk_sf: float = 0.05          # fixture scale: 10,000 x sf family-mix docs
    skew_doc: bool = True          # the 50k-span document
    warmup_jobs: int = 2           # untimed batch jobs before timing
    warmup_cycles: int = 1         # untimed compaction cycles of ingest steps
    min_ops: int = 3               # timed batch jobs or ingest steps, at least
    prep_repeats: int = 3          # input preparation repeats for setup_s
    ingest_docs: int = 20          # docs per dropped file
    step_lookups: int = 5          # point reads after each ingest
    compact_every: int = 3         # ingest commits between compactions


DEFAULT = Sizes()


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    prep_s: float = 0.0
    warm_s: float = 0.0
    metrics: dict = field(default_factory=dict)   # name -> (value, unit)
    inputs: dict = field(default_factory=dict)
    samples: dict = field(default_factory=dict)


class Bench:
    """One workload run: the session, the work dir and the op timer.
    In a traced run half of the loop steps are traced, in the order
    untraced, traced, traced, untraced, ... so that warm-up drift weighs
    equally on both halves; the untraced ones give the tracing overhead
    in the same session."""

    def __init__(self, spark, work: Path, seed: int, seconds: float,
                 sizes: Sizes, tracer: Tracer | None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.sizes = sizes
        self.tracer = tracer
        self.rng = random.Random(f"perfbench:{seed}")
        self.walls: dict[bool, dict[str, list[float]]] = {True: {}, False: {}}
        # name -> share of the machine's CPU stolen during each operation
        self.steal: dict[str, list[float]] = {}

    def call(self, step: int, name: str, fn, *args, **kwargs):
        """Run fn as operation `name` of loop step `step`; returns
        (result, wall seconds)."""
        traced = self.tracer is not None and step % 4 in (1, 2)
        span = None
        if traced:
            self.tracer.enabled = True
            span = self.tracer.open(name)
        ticks = cpu_ticks()
        t0 = time.perf_counter()
        try:
            result = fn(*args, **kwargs)
        finally:
            dt = time.perf_counter() - t0
            if traced:
                self.tracer.close(span)
                self.tracer.enabled = False
        self.walls[traced].setdefault(name, []).append(dt)
        self.steal.setdefault(name, []).append(round(steal_frac(ticks, cpu_ticks()), 4))
        return result, dt

    def fetch(self, df):
        if self.tracer is None:
            return df.collect()
        with self.tracer.span("bench.fetch"):
            return df.collect()


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------

def write_docs(docs: list[dict], path: Path, n_files: int) -> None:
    path.mkdir(parents=True, exist_ok=True)
    for k in range(n_files):
        part = docs[k::n_files]
        pq.write_table(pa.Table.from_pylist(part, schema=INPUT_SCHEMA),
                       path / f"part-{k:03d}.parquet")


def bulk_docs(seed: int, sizes: Sizes) -> list[dict]:
    from document_processor_spark import fixtures
    return fixtures.generate_corpus(sizes.bulk_sf, seed, include_skew=sizes.skew_doc)


def scan_heavy_docs(seed: int, n: int) -> list[dict]:
    """n docs from the scanned-PDF and mixed-PDF families only.  gen_doc
    assigns families by stratified position i/n_docs, so the docs are the
    positions of a larger virtual corpus that fall in those two strata."""
    from document_processor_spark import fixtures
    wanted = (fixtures._doc_scanned_pdf, fixtures._doc_mixed_pdf)
    lo = hi = None
    prev = 0.0
    for bound, fn in fixtures._family_bounds():
        if fn in wanted:
            lo = prev if lo is None else lo
            hi = bound
        prev = bound
    m = math.ceil(n / (hi - lo)) + 1
    idx = [i for i in range(m) if lo < (i + 0.5) / m <= hi][:n]
    return [fixtures.gen_doc(i, m, seed) for i in idx]


def input_stats(docs: list[dict], metrics) -> dict:
    per_doc = [len(d["spans"]) for d in docs]
    return {
        "docs": len(docs),
        "spans": sum(per_doc),
        "pages": metrics.pages_in,
        "ocr_fallback_rate": round(metrics.ocr_fallback_rate, 4),
        "spans_per_doc_p50": statistics.median(per_doc) if per_doc else 0,
        "spans_per_doc_max": max(per_doc, default=0),
        "skew_doc": any(d["doc_id"] == "doc-edge-skew" for d in docs),
    }


def as_tuples(spans) -> list[tuple]:
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]


LINEAGE_FIELDS = ("docs_in", "docs_out", "skipped_docs", "spans_out",
                  "pages_in", "fallback_pages", "fallback_docs")


def lineage_totals(summary) -> dict:
    tot = dict.fromkeys(LINEAGE_FIELDS, 0)
    for c in summary.commits:
        for m in c["partitions"].values():
            for k in LINEAGE_FIELDS:
                tot[k] += m.get(k, 0)
    return tot


def lookup(b: Bench, warehouse: Path, doc_id: str):
    """One point read: open the table at its current snapshot, fetch the doc."""
    from pyspark.sql import functions as F

    from document_processor_spark.io.icelite import IceLite
    from document_processor_spark.job import SPANS_TABLE
    df = IceLite(warehouse, SPANS_TABLE).read_spans(b.spark)
    return b.fetch(df.filter(F.col("doc_id") == doc_id))


def lookup_ok(rows, expected) -> bool:
    return len(rows) == 1 and as_tuples(rows[0]["spans"]) == expected


def read_table(b: Bench, warehouse: Path) -> dict[str, list[tuple]]:
    from document_processor_spark.io.icelite import IceLite
    from document_processor_spark.job import SPANS_TABLE
    rows = IceLite(warehouse, SPANS_TABLE).read_spans(b.spark).collect()
    return {r["doc_id"]: as_tuples(r["spans"]) for r in rows}


def latency_metrics(out: Outcome, ingest: tuple[list[float], list[float]],
                    lookup: tuple[list[float], list[float]]) -> None:
    """Each argument is (seconds, steal share) per operation.  The medians
    are metrics (quiet_p50: operations slowed by other guests are left
    out).  A run holds 9-45 samples of each, so p90 is one of its few
    slowest operations: it goes to the info line with the sample count,
    not into the metrics."""
    for name, (xs, steal) in (("ingest", ingest), ("lookup", lookup)):
        ms = [x * 1000 for x in xs]
        p50, used = quiet_p50(ms, steal)
        out.metrics[f"{name}_ms_p50"] = (p50, "ms")
        out.samples[name] = {"n": len(ms), "p50_used": used,
                             "p50_all_ms": percentile(ms, 50),
                             "p90_ms": percentile(ms, 90),
                             "beyond_p90": beyond(len(ms), 90)}


# ---------------------------------------------------------------------------
# bulk_sql
# ---------------------------------------------------------------------------

def run_bulk_sql(b: Bench) -> Outcome:
    """The batch job on the sql engine; each job writes a fresh warehouse
    in several commits, then the table answers a few point reads."""
    from document_processor_spark import job, oracle

    sz, out = b.sizes, Outcome()
    in_dir = b.work / "input"
    prep = []
    for _ in range(sz.prep_repeats):
        t0 = time.perf_counter()
        docs = bulk_docs(b.seed, sz)
        shutil.rmtree(in_dir, ignore_errors=True)
        write_docs(docs, in_dir, INPUT_FILES)
        golden, gm = oracle.extract_corpus(docs)
        prep.append(time.perf_counter() - t0)
    out.prep_s = statistics.median(prep)
    out.inputs = input_stats(docs, gm)
    want = {k: getattr(gm, k) for k in LINEAGE_FIELDS}
    n_commits = math.ceil(N_PARTS / PARTS_PER_COMMIT)
    lookup_ids = sorted(golden)
    df = b.spark.read.parquet(str(in_dir))

    def extract(i: int):
        return job.run_extraction_job(
            b.spark, df, str(b.work / "wh" / f"job{i}"), f"job{i}",
            n_parts=N_PARTS, engine="sql",
            partitions_per_commit=PARTS_PER_COMMIT)

    t0 = time.perf_counter()
    for i in range(sz.warmup_jobs):
        t1 = time.perf_counter()
        extract(-1 - i)
        out.samples.setdefault("warmup_job_s", []).append(round(time.perf_counter() - t1, 3))
        lookup(b, b.work / "wh" / f"job{-1 - i}", b.rng.choice(lookup_ids))
        shutil.rmtree(b.work / "wh" / f"job{-1 - i}")
    out.warm_s = time.perf_counter() - t0

    walls, commit_s, commit_steal, lookup_s, cpu = [], [], [], [], 0.0
    oks, last_wh = [], None
    pid = os.getpid()
    for i in range(max(sz.min_ops, round(b.seconds / JOB_UNIT_S))):
        wh = b.work / "wh" / f"job{i}"
        c0, t_epoch = tree_cpu_s(pid), time.time()
        summary, dt = b.call(i, "bench.job", extract, i)
        cpu += tree_cpu_s(pid) - c0
        walls.append(dt)
        commit_s.extend(c["committed_at"] - t_epoch for c in summary.commits)
        # a snapshot's sample carries the steal share of the job that wrote it
        commit_steal.extend(b.steal["bench.job"][-1:] * len(summary.commits))
        out.samples.setdefault("commit_s", []).append(
            [round(c["committed_at"] - t_epoch, 3) for c in summary.commits])
        oks.append(len(summary.commits) == n_commits and lineage_totals(summary) == want)
        out.attempted += 1
        for _ in range(BATCH_LOOKUPS):
            doc_id = b.rng.choice(lookup_ids)
            out.attempted += 1
            rows, dt = b.call(i, "bench.lookup", lookup, b, wh, doc_id)
            lookup_s.append(dt)
            out.failed += not lookup_ok(rows, golden[doc_id])
        if last_wh is not None:
            shutil.rmtree(last_wh)
        last_wh = wh
    # the last job's table, span for span (its lineage was checked above)
    if oks[-1] and read_table(b, last_wh) != golden:
        log("last job's table differs from the oracle")
        oks[-1] = False
    out.failed += oks.count(False)
    docs_in = gm.docs_in
    job_p50, used = quiet_p50(walls, b.steal["bench.job"])
    out.metrics["docs_per_s"] = (docs_in / job_p50, "1/s")
    out.metrics["cpu_s_per_kdoc"] = (cpu / (len(walls) * docs_in / 1000), "s")
    latency_metrics(out, (commit_s, commit_steal),
                    (lookup_s, b.steal["bench.lookup"]))
    out.samples["job"] = {"n": len(walls), "p50_used": used}
    out.samples["job_s"] = [round(w, 3) for w in walls]
    out.samples["lookup_s"] = [round(w, 3) for w in lookup_s]
    out.samples["op_steal"] = b.steal
    return out


# ---------------------------------------------------------------------------
# ingest_lookup
# ---------------------------------------------------------------------------

def run_ingest_lookup(b: Bench) -> Outcome:
    """The streaming job on the arrow engine, one small file of scanned and
    mixed PDFs per trigger, with point reads after each commit and a
    compaction every few commits so the run stays stationary."""
    from document_processor_spark import oracle
    from document_processor_spark.io.icelite import IceLite
    from document_processor_spark.job import SPANS_TABLE
    from document_processor_spark.streaming import extract_stream

    sz, out = b.sizes, Outcome()
    staging, inbox = b.work / "staging", b.work / "inbox"
    wh, ckpt = b.work / "wh", b.work / "ckpt"
    # the timed steps are whole compaction cycles, so every run reads
    # tables at each distance from the last compaction equally often
    cycle = sz.compact_every
    warmup_steps = sz.warmup_cycles * cycle
    n_files = warmup_steps + cycle * max(
        math.ceil(sz.min_ops / cycle), round(b.seconds / (cycle * STEP_UNIT_S)))
    prep = []
    for _ in range(sz.prep_repeats):
        t0 = time.perf_counter()
        shutil.rmtree(staging, ignore_errors=True)
        staging.mkdir(parents=True)
        docs = scan_heavy_docs(b.seed, n_files * sz.ingest_docs)
        # both families in every file
        random.Random(f"perfbench-ingest:{b.seed}").shuffle(docs)
        files = []
        for f in range(n_files):
            part = docs[f * sz.ingest_docs:(f + 1) * sz.ingest_docs]
            p = staging / f"batch-{f:06d}.parquet"
            pq.write_table(pa.Table.from_pylist(part, schema=INPUT_SCHEMA), p)
            files.append((p, [d["doc_id"] for d in part]))
        golden, gm = oracle.extract_corpus(docs)
        prep.append(time.perf_counter() - t0)
    out.prep_s = statistics.median(prep)
    out.inputs = {**input_stats(docs, gm), "files": n_files,
                  "docs_per_file": sz.ingest_docs}
    inbox.mkdir(parents=True)

    t0 = time.perf_counter()
    query = extract_stream.start_extract_stream(
        b.spark, str(inbox), str(wh), str(ckpt), run_id="bench",
        engine="arrow", n_parts=N_PARTS, max_files_per_trigger=1)
    table = IceLite(wh, SPANS_TABLE)
    committed: list[str] = []
    ingest_s, lookup_s, maint_s, cpu = [], [], [], 0.0
    ingested_docs = 0
    ingests: list[list[str]] = []
    pid = os.getpid()

    def ingest(path: Path) -> None:
        os.replace(path, inbox / path.name)
        query.processAllAvailable()

    def maintain(step: int) -> None:
        table.compact(b.spark, run_id=f"compact-{step}")
        table.expire_snapshots()

    def untimed(j, name, fn, *args):
        return fn(*args), 0.0

    def write(call, j: int, name: str, fn, *args) -> float:
        """A write-side call; timed ones also add their CPU to `cpu`, so
        cpu_s_per_kdoc covers ingest and maintenance, not the reads."""
        nonlocal cpu
        if call is untimed:
            fn(*args)
            return 0.0
        c0 = tree_cpu_s(pid)
        _, dt = call(j, name, fn, *args)
        cpu += tree_cpu_s(pid) - c0
        return dt

    def step(j: int, timed: bool) -> None:
        nonlocal ingested_docs
        call = b.call if timed else untimed
        path, ids = files[j]
        dt = write(call, j, "bench.ingest", ingest, path)
        committed.extend(d for d in ids if d in golden)
        ingests.append(ids)
        if timed:
            ingest_s.append(dt)
            ingested_docs += len(ids)
        for _ in range(sz.step_lookups):
            doc_id = b.rng.choice(committed)
            rows, dt = call(j, "bench.lookup", lookup, b, wh, doc_id)
            if timed:
                out.attempted += 1
                lookup_s.append(dt)
                if not lookup_ok(rows, golden[doc_id]):
                    out.failed += 1
        if (j + 1) % cycle == 0:
            # counted apart so the traced half is not in step with it
            dt = write(call, j // cycle, "bench.maintenance", maintain, j)
            if timed:
                maint_s.append(dt)

    try:
        for j in range(warmup_steps):
            step(j, timed=False)
        out.warm_s = time.perf_counter() - t0
        for j in range(warmup_steps, n_files):
            step(j, timed=True)
    finally:
        query.stop()
    timed_ingests = ingests[warmup_steps:]
    out.attempted += len(timed_ingests)
    # every ingested doc, span for span, in the final table
    table_now = read_table(b, wh)
    for ids in timed_ingests:
        if any(table_now.get(d) != golden.get(d) for d in ids):
            out.failed += 1
    if set(table_now) != set(committed):
        log("final table holds docs that were never ingested or lost some")
        out.failed += 1
    out.metrics["docs_per_s"] = (ingested_docs / (sum(ingest_s) + sum(maint_s)), "1/s")
    out.metrics["cpu_s_per_kdoc"] = (cpu / (ingested_docs / 1000), "s")
    latency_metrics(out, (ingest_s, b.steal["bench.ingest"]),
                    (lookup_s, b.steal["bench.lookup"]))
    out.samples["ingest_s"] = [round(w, 3) for w in ingest_s]
    out.samples["lookup_s"] = [round(w, 3) for w in lookup_s]
    out.samples["maintenance_s"] = [round(w, 3) for w in maint_s]
    out.samples["op_steal"] = b.steal
    return out


WORKLOADS = {
    "bulk_sql": run_bulk_sql,
    "ingest_lookup": run_ingest_lookup,
}
