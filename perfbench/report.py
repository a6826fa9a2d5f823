"""Percentiles and the per-layer report of a traced run.

The traced run records spans (trace.py) around each public call into the
program and Spark's event log.  Each Spark job is attributed to the
innermost span open when it was submitted; pipeline stages are then split
by their distance from the scan: depth 0 is scan + explode, depth 1 is the
parse stage (which also holds the page-level grouping Spark fuses into
it), deeper stages are the rest of the assembly and the write.
"""

from __future__ import annotations

import bisect
import statistics

from .eventlog import PY_RETURNED, PY_SENT, EventLog, Job
from .trace import Span, self_times

# the program's layers: the spans the tracer opens around the program's
# own public calls (bench.* spans are the benchmark's operations)
PROGRAM_LAYERS = ("job", "pipeline", "icelite", "stream")

# the share of the traced operations' wall that no layer accounts for must
# stay below this for the layer split to be reported as reconciled
RECONCILE_TOLERANCE = 0.25


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    k = max(1, -(-len(xs) * q // 100))  # ceil(n q / 100), at least rank 1
    return float(xs[int(k) - 1])


# an operation during which the hypervisor stole more than this share of
# the machine's CPU ran while other guests slowed the box
QUIET_STEAL = 0.01


def quiet_p50(values, steal, limit: float = QUIET_STEAL) -> tuple[float, int]:
    """Median (nearest-rank) of the samples taken while at most `limit` of
    the machine's CPU was stolen, or, when fewer than half of them were, of
    the half that saw the least steal; and the number of samples it used.
    `steal[i]` is the stolen share during sample i.  Noise from other
    guests comes in bursts of seconds to a minute and only ever slows
    operations down, so this keeps it out of the medians without dropping
    the slow operations the program itself causes."""
    values, steal = list(values), list(steal)
    if len(values) != len(steal):
        raise ValueError("one steal share per sample")
    used = [v for v, s in zip(values, steal) if s <= limit]
    if 2 * len(used) < len(values):
        order = sorted(range(len(values)), key=lambda i: steal[i])
        used = [values[i] for i in order[:-(-len(values) // 2)]]
    return percentile(used, 50), len(used)


def beyond(n: int, q: float) -> int:
    """Samples strictly above the nearest-rank q-th percentile of n."""
    return n - int(max(1, -(-n * q // 100)))


def median0(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def attribute_jobs(spans: list[Span], log: EventLog) -> dict[int, list[Job]]:
    """Span id -> jobs submitted while it was the innermost open span.
    Spans nest without overlapping, so the innermost span holding time t
    is the latest-starting span that holds t.  Event-log times are whole
    milliseconds, so a job may read up to 1 ms before its true time."""
    order = sorted(spans, key=lambda s: s.start)
    starts = [s.start for s in order]
    out: dict[int, list[Job]] = {}
    for job in log.jobs.values():
        t = job.submit_ms / 1000.0
        i = bisect.bisect_right(starts, t + 0.001) - 1
        while i >= 0:
            s = order[i]
            if s.end >= t:
                out.setdefault(s.id, []).append(job)
                break
            if s.parent is None:  # roots run one after another
                break
            i -= 1
    return out


def _under(spans: list[Span], root_ids: set[int]) -> dict[int, int]:
    """Span id -> id of the span in `root_ids` above it (or itself)."""
    by_id = {s.id: s for s in spans}
    out = {}
    for s in spans:
        cur = s
        while cur is not None and cur.id not in root_ids:
            cur = by_id.get(cur.parent) if cur.parent is not None else None
        if cur is not None:
            out[s.id] = cur.id
    return out


def _job_s(jobs: list[Job]) -> float:
    return sum(((j.end_ms or j.submit_ms) - j.submit_ms) / 1000.0 for j in jobs)


def reconcile(spans: list[Span], selfs: dict[int, float],
              jobs_of: dict[int, list[Job]],
              op_walls: dict[str, list[float]]) -> dict:
    """Split the traced operations' wall (the benchmark's own timing of
    each) into what a layer accounts for and the rest.

    Accounted for: the self time of every program-layer span, and the
    Spark jobs (timed by the event log) submitted directly under a bench.*
    span -- the program's lazy DataFrames run there when the benchmark
    collects them.  The rest is the benchmark's glue and driver time no
    layer owns: query planning of the collect, the streaming trigger
    outside the foreachBatch body, result transfer."""
    by_op: dict[str, float] = {}
    accounted = 0.0
    by_id = {s.id: s for s in spans}
    root_of = _under(spans, {s.id for s in spans if s.parent is None})
    for s in spans:
        if s.name.split(".")[0] in PROGRAM_LAYERS:
            part = selfs[s.id]
        else:
            part = min(selfs[s.id], _job_s(jobs_of.get(s.id, [])))
        accounted += part
        op = by_id[root_of[s.id]].name
        by_op[op] = by_op.get(op, 0.0) + part
    wall = sum(w for ws in op_walls.values() for w in ws)
    frac = max(0.0, 1 - accounted / wall) if wall else 0.0
    return {
        "op_wall_s": wall,
        "accounted_s": accounted,
        "unattributed_frac": frac,
        "unattributed_frac_by_op": {
            op: max(0.0, 1 - by_op.get(op, 0.0) / sum(ws))
            for op, ws in op_walls.items() if sum(ws)},
        "tolerance": RECONCILE_TOLERANCE,
        "ok": frac <= RECONCILE_TOLERANCE,
    }


def layer_metrics(spans: list[Span], log: EventLog,
                  walls: dict[bool, dict[str, list[float]]], primary: str,
                  session_s: float) -> tuple[dict, dict]:
    """Per-layer metrics (name -> (value, unit)) and a detail report.

    `walls[traced][op]` are the benchmark's own timings of each operation
    kind, traced or not, in the same session: the traced ones reconcile
    the span self times, and the medians of the `primary` operation give
    the tracing overhead."""
    jobs_of = attribute_jobs(spans, log)
    selfs = self_times(spans)
    named: dict[str, list[Span]] = {}
    for s in spans:
        named.setdefault(s.name, []).append(s)

    def durs(name, scale=1.0):
        return [s.duration * scale for s in named.get(name, [])]

    # -- pipeline: one unit = one extraction job or one micro-batch
    units = named.get("job.run_extraction_job") or named.get("stream.batch") or []
    unit_of = _under(spans, {u.id for u in units})
    n_units = max(len(units), 1)
    plan_ms: dict[int, float] = {u.id: 0.0 for u in units}
    for name in ("pipeline.explode_spans", "pipeline.parse", "pipeline.assemble"):
        for s in named.get(name, []):
            if s.id in unit_of:
                plan_ms[unit_of[s.id]] += s.duration * 1000
    appends = named.get("icelite.append", [])
    pipe_jobs = [j for s in appends if s.id in unit_of for j in jobs_of.get(s.id, [])]
    by_depth: dict[str, list] = {"scan_explode": [], "parse": [], "assemble": []}
    for j in pipe_jobs:
        for st in log.job_stages(j):
            d = log.depth(st.id)
            by_depth["scan_explode" if d == 0 else "parse" if d == 1 else "assemble"].append(st)
    all_stages = [st for v in by_depth.values() for st in v]
    tasks = [t for st in all_stages for t in st.tasks]

    def per_unit(x):
        return x / n_units

    skews = []
    for st in by_depth["parse"]:
        runs = [t.run_ms for t in st.tasks]
        if len(runs) >= 2 and statistics.median(runs) > 0:
            skews.append(max(runs) / statistics.median(runs))

    # -- io.icelite
    commit_ms = []
    for s in appends:
        ends = [j.end_ms for j in jobs_of.get(s.id, []) if j.end_ms]
        if ends:
            commit_ms.append((s.end - max(ends) / 1000.0) * 1000)
    lookups = named.get("bench.lookup", [])
    lookup_of = _under(spans, {s.id for s in lookups})
    opens = [s for s in named.get("icelite.read_spans", []) if s.id in lookup_of]
    fetches = named.get("bench.fetch", [])
    fetch_exec_ms, fetch_tasks = [], []
    for s in fetches:
        js = jobs_of.get(s.id, [])
        fetch_exec_ms.append(_job_s(js) * 1000)
        fetch_tasks.append(sum(len(st.tasks) for j in js for st in log.job_stages(j)))

    # -- streaming
    batches = named.get("stream.batch", [])
    guards = [s for s in named.get("icelite.snapshots", [])
              if s.parent is not None and spans[s.parent].name == "stream.batch"]
    trigger = []
    for s in named.get("bench.ingest", []):
        inner = [b.duration for b in batches if b.parent == s.id]
        if inner:
            trigger.append((s.duration - sum(inner)) * 1000)

    runs = named.get("job.run_extraction_job", [])
    appends_per_job = [sum(1 for a in appends if a.parent == r.id) for r in runs]

    m = {
        "session.start_s": (session_s, "s"),
        "pipeline.plan_build_ms": (median0(plan_ms.values()), "ms"),
        "pipeline.scan_explode.task_s": (per_unit(sum(t.run_ms for st in by_depth["scan_explode"] for t in st.tasks)) / 1000, "s"),
        "pipeline.parse.task_s": (per_unit(sum(t.run_ms for st in by_depth["parse"] for t in st.tasks)) / 1000, "s"),
        "pipeline.assemble.task_s": (per_unit(sum(t.run_ms for st in by_depth["assemble"] for t in st.tasks)) / 1000, "s"),
        "pipeline.shuffle.write_bytes": (per_unit(sum(t.shuffle_write_bytes for t in tasks)), "bytes"),
        "pipeline.shuffle.read_bytes": (per_unit(sum(t.shuffle_read_bytes for t in tasks)), "bytes"),
        "pipeline.shuffle.fetch_wait_ms": (per_unit(sum(t.fetch_wait_ms for t in tasks)), "ms"),
        "pipeline.spill_bytes": (per_unit(sum(t.spill_bytes for t in tasks)), "bytes"),
        "pipeline.gc_s": (per_unit(sum(t.gc_ms for t in tasks)) / 1000, "s"),
        "pipeline.tasks": (per_unit(len(tasks)), "count"),
        "pipeline.task_skew": (median0(skews), "ratio"),
        "pipeline.parse.python_bytes_in": (per_unit(sum(st.sql_metrics.get(PY_SENT, 0) for st in all_stages)), "bytes"),
        "pipeline.parse.python_bytes_out": (per_unit(sum(st.sql_metrics.get(PY_RETURNED, 0) for st in all_stages)), "bytes"),
        "job.self_s": (median0(selfs[r.id] for r in runs), "s"),
        "job.commits": (median0(appends_per_job), "count"),
        "icelite.append_s": (median0(durs("icelite.append")), "s"),
        "icelite.commit_ms": (median0(commit_ms), "ms"),
        "icelite.files_written": (median0(s.attrs.get("files", 0) for s in appends), "count"),
        "icelite.bytes_written": (median0(s.attrs.get("bytes", 0) for s in appends), "bytes"),
        "icelite.read_snapshot_ms": (median0(durs("icelite.read_snapshot", 1000)), "ms"),
        "icelite.compact_s": (median0(durs("icelite.compact")), "s"),
        "icelite.open_ms": (median0(s.duration * 1000 for s in opens), "ms"),
        "icelite.lookup_exec_ms": (median0(fetch_exec_ms), "ms"),
        "icelite.lookup_tasks": (median0(fetch_tasks), "count"),
        "stream.batch_ms": (median0(s.duration * 1000 for s in batches), "ms"),
        "stream.guard_ms": (median0(s.duration * 1000 for s in guards), "ms"),
        "stream.trigger_overhead_ms": (median0(trigger), "ms"),
    }

    # -- reconciliation and overhead
    roots = [s for s in spans if s.parent is None]
    rec = reconcile(spans, selfs, jobs_of, walls[True])
    t_med = median0(walls[True].get(primary, []))
    u_med = median0(walls[False].get(primary, []))
    m["trace.unattributed_frac"] = (rec["unattributed_frac"], "frac")
    m["trace.overhead_frac"] = ((t_med - u_med) / u_med if u_med else 0.0, "frac")
    wall = rec["op_wall_s"]

    layer_self: dict[str, float] = {}
    by_name: dict[str, dict] = {}
    for s in spans:
        layer_self[s.name.split(".")[0]] = layer_self.get(s.name.split(".")[0], 0.0) + selfs[s.id]
        d = by_name.setdefault(s.name, {"calls": 0, "total_s": 0.0, "self_s": 0.0, "jobs": 0})
        d["calls"] += 1
        d["total_s"] += s.duration
        d["self_s"] += selfs[s.id]
        d["jobs"] += len(jobs_of.get(s.id, []))
    detail = {
        "traced_ops": {k: len(v) for k, v in walls[True].items()},
        "untraced_ops": {k: len(v) for k, v in walls[False].items()},
        "overhead_op": primary,
        "op_wall_s": {"traced_median": t_med, "untraced_median": u_med,
                      "traced_total": wall},
        "root_spans": len(roots),
        "layer_self_s": layer_self,
        "layer_self_share": {k: v / wall for k, v in layer_self.items()} if wall else {},
        "reconcile": rec,
        "by_span": by_name,
        "stage_task_s": {k: sum(t.run_ms for st in v for t in st.tasks) / 1000
                         for k, v in by_depth.items()},
        "stage_cpu_s": {k: sum(t.cpu_ns for st in v for t in st.tasks) / 1e9
                        for k, v in by_depth.items()},
        "jobs_in_log": len(log.jobs),
        "jobs_attributed": sum(len(v) for v in jobs_of.values()),
    }
    return m, detail
