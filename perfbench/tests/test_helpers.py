"""Event-log parser, percentile and self-time helpers of the benchmark.

Run with:  python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from perfbench import eventlog  # noqa: E402
from perfbench.report import (RECONCILE_TOLERANCE, attribute_jobs, beyond,  # noqa: E402
                              layer_metrics, percentile, quiet_p50, reconcile)
from perfbench.trace import Span, Tracer, self_times  # noqa: E402

LOG = Path(__file__).parent / "data" / "small_eventlog.json"


@pytest.fixture(scope="module")
def log():
    # recorded from one 2-doc extraction job per engine (sql: jobs 1-3,
    # arrow: jobs 17-20), trimmed to the fields the parser reads
    with LOG.open() as f:
        return eventlog.parse(f)


def test_eventlog_jobs_and_stage_depths(log):
    assert sorted(log.jobs) == [1, 2, 3, 17, 18, 19, 20]
    depths = {j: [log.depth(st.id) for st in log.job_stages(log.jobs[j])]
              for j in log.jobs}
    # sql: scan -> parse -> doc assembly; arrow adds the exchange after
    # mapInArrow, so its assembly spans two stages
    assert depths == {1: [0], 2: [1], 3: [2], 17: [0], 18: [1], 19: [2], 20: [3]}
    # skipped parents (AQE re-lists earlier query stages) are not counted
    assert [st.id for st in log.job_stages(log.jobs[3])] == [6]


def test_eventlog_task_metrics(log):
    parse_stage = log.stages[3]
    assert len(parse_stage.tasks) == 4
    assert sum(t.run_ms for t in parse_stage.tasks) == 5009
    # shuffle bytes written by one stage are read by its child
    assert sum(t.shuffle_write_bytes for t in log.stages[1].tasks) == 12237
    assert sum(t.shuffle_read_bytes for t in parse_stage.tasks) == 12237
    assert sum(t.cpu_ns for t in parse_stage.tasks) > 0


def test_eventlog_python_bytes_only_on_arrow(log):
    arrow_parse = log.stages[29]
    assert arrow_parse.sql_metrics == {eventlog.PY_SENT: 24808.0,
                                       eventlog.PY_RETURNED: 26440.0}
    assert all(not st.sql_metrics for sid, st in log.stages.items() if sid != 29)


def test_read_dir_rejects_zero_or_many_logs(tmp_path):
    with pytest.raises(RuntimeError):
        eventlog.read_dir(tmp_path)
    (tmp_path / "a").write_text(LOG.read_text())
    assert sorted(eventlog.read_dir(tmp_path).jobs) == [1, 2, 3, 17, 18, 19, 20]
    (tmp_path / "b").write_text("")
    with pytest.raises(RuntimeError):
        eventlog.read_dir(tmp_path)


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile([7.0], 90) == 7.0
    assert percentile([3, 1, 2], 50) == 2
    assert beyond(100, 90) == 10
    assert beyond(20, 90) == 2
    with pytest.raises(ValueError):
        percentile([], 50)


def test_quiet_p50_leaves_out_operations_slowed_by_other_guests():
    times = [10, 11, 12, 30, 31]
    # all quiet: the plain median
    assert quiet_p50(times, [0.0] * 5) == (12, 5)
    # the two ops that ran while steal was high are left out
    assert quiet_p50(times, [0.0, 0.0, 0.005, 0.04, 0.08]) == (11, 3)
    # fewer than half quiet: the half with the least steal
    assert quiet_p50(times, [0.02, 0.03, 0.0, 0.05, 0.02]) == (12, 3)
    # slow operations the program causes itself are not left out
    assert quiet_p50(times, [0.0] * 5)[0] == percentile(times, 50)
    with pytest.raises(ValueError):
        quiet_p50(times, [0.0])


def test_self_time_subtracts_children():
    spans = [Span(0, "root", 0.0, None, 10.0),
             Span(1, "a", 1.0, 0, 4.0),
             Span(2, "a.child", 2.0, 1, 3.0),
             Span(3, "b", 5.0, 0, 9.0)]
    st = self_times(spans)
    assert st == {0: pytest.approx(3.0), 1: pytest.approx(2.0),
                  2: pytest.approx(1.0), 3: pytest.approx(4.0)}
    # self times of a tree add up to the root's duration
    assert sum(st.values()) == pytest.approx(spans[0].duration)


def test_tracer_nests_and_restores():
    class Owner:
        @staticmethod
        def f(x):
            return x + 1

    tr = Tracer()
    tr.patch(Owner, "f", "owner.f")
    assert Owner.f(1) == 2 and tr.spans == []  # disabled: no span
    tr.enabled = True
    with tr.span("outer"):
        Owner.f(1)
    assert [(s.name, s.parent) for s in tr.spans] == [("outer", None), ("owner.f", 0)]
    tr.unpatch_all()
    Owner.f(1)
    assert len(tr.spans) == 2


def test_jobs_go_to_innermost_span(log):
    j1, j2, j3 = (log.jobs[i].submit_ms / 1000 for i in (1, 2, 3))
    spans = [Span(0, "bench.job", j1 - 1, None, j3 + 5),
             Span(1, "icelite.append", j1 - 0.5, 0, j2 + 0.5),
             Span(2, "other", j3 - 0.1, 0, j3 + 1)]
    got = {sid: [j.id for j in jobs] for sid, jobs in attribute_jobs(spans, log).items()}
    assert got == {1: [1, 2], 2: [3]}


def test_layer_metrics_split_stages_by_depth(log):
    """The sql jobs under one append: scan, parse and assembly task time
    land in their own layers and python bytes stay zero."""
    t = [log.jobs[i].submit_ms / 1000 for i in (1, 2, 3)]
    end = log.jobs[3].end_ms / 1000
    spans = [Span(0, "bench.job", t[0] - 2, None, end + 1),
             Span(1, "job.run_extraction_job", t[0] - 1.5, 0, end + 0.5),
             Span(2, "pipeline.parse", t[0] - 1.2, 1, t[0] - 1.0),
             Span(3, "icelite.append", t[0] - 0.5, 1, end + 0.1)]
    walls = {True: {"bench.job": [spans[0].duration]},
             False: {"bench.job": [spans[0].duration * 0.98]}}
    m, detail = layer_metrics(spans, log, walls, "bench.job", session_s=1.0)
    assert m["pipeline.scan_explode.task_s"][0] == pytest.approx(0.706)
    assert m["pipeline.parse.task_s"][0] == pytest.approx(5.009)
    assert m["pipeline.assemble.task_s"][0] == pytest.approx(0.614)
    assert m["pipeline.parse.python_bytes_in"][0] == 0
    assert m["pipeline.plan_build_ms"][0] == pytest.approx(200, rel=1e-6)
    assert m["icelite.commit_ms"][0] == pytest.approx(100, abs=1)
    assert m["job.commits"][0] == 1
    # only the root's own second (half before, half after the job) is left
    assert detail["reconcile"]["unattributed_frac"] == pytest.approx(1 / spans[0].duration)
    assert detail["reconcile"]["ok"]
    assert m["trace.overhead_frac"][0] == pytest.approx(1 / 0.98 - 1)


def _reconciled(spans, log, walls):
    return reconcile(spans, self_times(spans), attribute_jobs(spans, log), walls)


def test_reconcile_counts_layers_and_the_jobs_a_collect_runs(log):
    """A point read: the open is a program-layer span, the collect is the
    benchmark's, but the Spark job it runs (event-log time) counts."""
    t = log.jobs[19].submit_ms / 1000
    job_s = (log.jobs[19].end_ms - log.jobs[19].submit_ms) / 1000
    spans = [Span(0, "bench.lookup", t - 1.0, None, t + 0.21),
             Span(1, "icelite.read_spans", t - 0.95, 0, t - 0.05),
             Span(2, "bench.fetch", t - 0.03, 0, t + 0.2)]
    rec = _reconciled(spans, log, {"bench.lookup": [spans[0].duration]})
    assert rec["accounted_s"] == pytest.approx(0.9 + job_s)
    assert rec["unattributed_frac"] == pytest.approx(1 - (0.9 + job_s) / 1.21)
    assert rec["ok"]


def test_reconcile_fails_when_no_layer_covers_the_wall(log):
    """An operation whose time is spent outside every program layer and
    every Spark job cannot reconcile."""
    spans = [Span(0, "bench.ingest", 100.0, None, 110.0),
             Span(1, "stream.batch", 101.0, 0, 102.0)]
    rec = _reconciled(spans, log, {"bench.ingest": [10.0]})
    assert rec["unattributed_frac"] == pytest.approx(0.9)
    assert rec["unattributed_frac_by_op"] == {"bench.ingest": pytest.approx(0.9)}
    assert not rec["ok"] and RECONCILE_TOLERANCE < 0.9
