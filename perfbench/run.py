#!/usr/bin/env python3
"""Extraction benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload bulk_sql --seed 1 --seconds 30 --trace 0

Run from the repository root.  Workloads (see BENCHMARK.json for why each
exists): bulk_sql, ingest_lookup.  With --trace 0 the last line
of stdout is the JSON result with every end-to-end metric; with --trace 1
the same session also records spans around the program's public calls and
Spark's event log, and the metrics are the per-layer ones.  The line
before the result holds the box facts, input properties and sample counts.
A full report per run is written to .bench_work/reports/.

Exits non-zero without a result when the program is missing or any step
raises.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import workloads  # noqa: E402
from perfbench.procstat import PeakRss, cpu_ticks, steal_frac, tree_pids  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

END_TO_END_UNITS = {
    "setup_s": "s", "ok_frac": "frac", "peak_rss_mb": "MB",
    "docs_per_s": "1/s", "cpu_s_per_kdoc": "s",
    "ingest_ms_p50": "ms", "lookup_ms_p50": "ms",
}


def box_facts() -> dict:
    mem_kb = next(int(line.split()[1]) for line in open("/proc/meminfo")
                  if line.startswith("MemTotal:"))
    return {"nproc": len(os.sched_getaffinity(0)), "ram_mb": mem_kb // 1024}


def driver_mem_mb(ram_mb: int) -> int:
    """A quarter of RAM, at most 2 GiB: the inputs are small, and a heap
    sized for a bigger box would let the JVM grow past what this one has."""
    return min(2048, ram_mb // 4)


def start_spark(work: Path, box: dict, trace: bool):
    """local[nproc] session through the program's own factory, with every
    file it writes kept under `work`."""
    from document_processor_spark.session import build_spark

    for d in ("local", "tmp", "events", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = tempfile.tempdir = str(work / "tmp")
    heap = f"{driver_mem_mb(box['ram_mb'])}m"
    os.environ["SPARK_DRIVER_MEM"] = heap
    # spark-submit first runs a small launcher JVM; it too keeps out of /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    # Python workers are separate processes: they import the package
    # through PYTHONPATH, whatever the current directory is
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # a fixed heap size (committed, not pre-touched): when the JVM
        # grows its heap is up to GC ergonomics under the load of the moment,
        # and that alone moved peak RSS by 2x between identical runs.
        # First-tier JIT only: with the top tier, jobs keep getting faster
        # for 20+ jobs, so a run's median depended on how many it finished
        "spark.driver.extraJavaOptions":
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing "
            "-XX:TieredStopAtLevel=1 "
            f"-Xms{heap} -XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}",
    }
    if trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": str(work / "events"),
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    return build_spark(app="perfbench", cores=box["nproc"], extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    # a later session in this interpreter must launch a new JVM
    SparkContext._gateway = SparkContext._jvm = None


# the operation whose median gives the tracing overhead, and its sample
# list in an untraced run's report
PRIMARY_OP = {"bulk_sql": ("bench.job", "job_s"),
              "ingest_lookup": ("bench.ingest", "ingest_s")}


def overhead_vs_e2e(reports: Path, workload: str, seed: int, sample: str,
                    traced: list[float]) -> dict | None:
    """Median traced operation against the median of the latest untraced
    (--trace 0) run of the same workload and seed in this checkout, if
    there is one.  Unlike trace.overhead_frac, which compares the two
    halves of one traced session, this includes the event log's cost."""
    found = sorted(reports.glob(f"{workload}-e2e-seed{seed}-*.json"))
    if not found or not traced:
        return None
    e2e = json.loads(found[-1].read_text())["samples"].get(sample) or []
    if not e2e:
        return None
    t_med, u_med = statistics.median(traced), statistics.median(e2e)
    return {"report": found[-1].name, "traced_n": len(traced),
            "untraced_n": len(e2e), "traced_median_s": t_med,
            "untraced_median_s": u_med, "frac": t_med / u_med - 1}


def install_tracer(tracer: Tracer) -> None:
    """Wrap the public calls of each layer.  Module attributes are patched,
    so the program's own call sites (which look them up at call time) go
    through the wrappers."""
    from document_processor_spark import job, pipeline
    from document_processor_spark.io.icelite import IceLite
    from document_processor_spark.streaming import extract_stream

    def files_written(span, manifest, args, kwargs):
        d = args[0].data / manifest["data_dir"]
        files = list(d.rglob("*.parquet")) if d.exists() else []
        span.attrs.update(files=len(files), bytes=sum(f.stat().st_size for f in files))

    tracer.patch(job, "run_extraction_job", "job.run_extraction_job")
    tracer.patch(pipeline, "explode_spans", "pipeline.explode_spans")
    for engine in list(pipeline.ENGINES):
        tracer.patch(pipeline.ENGINES, engine, "pipeline.parse")
    tracer.patch(pipeline, "assemble", "pipeline.assemble")
    for m in ("append", "read_snapshot", "update_metrics", "snapshots",
              "read_spans", "compact", "expire_snapshots"):
        tracer.patch(IceLite, m, f"icelite.{m}",
                     after=files_written if m == "append" else None)

    # the foreachBatch body is a closure the factory returns: wrap that
    make = extract_stream.make_batch_processor
    tracer.replace(extract_stream, "make_batch_processor",
                   lambda *a, **k: tracer.wrapped(make(*a, **k), "stream.batch"))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    return run(args.workload, args.seed, args.seconds, bool(args.trace))


def run(workload: str, seed: int, seconds: float, trace: bool,
        sizes: workloads.Sizes = workloads.DEFAULT) -> int:
    if not (ROOT / "document_processor_spark" / "__init__.py").is_file():
        print(f"document_processor_spark not found under {ROOT}", file=sys.stderr)
        return 2
    import pyarrow
    import pyspark

    box = box_facts()
    work = ROOT / ".bench_work" / f"run-{os.getpid()}"
    reports = ROOT / ".bench_work" / "reports"
    shutil.rmtree(work, ignore_errors=True)
    reports.mkdir(parents=True, exist_ok=True)
    tracer = Tracer() if trace else None
    spark = None
    ticks0 = cpu_ticks()
    try:
        with PeakRss(os.getpid()) as rss:
            if tracer:
                install_tracer(tracer)
            t0 = time.perf_counter()
            spark = start_spark(work, box, trace)
            session_s = time.perf_counter() - t0
            bench = workloads.Bench(spark, work, seed, seconds, sizes, tracer)
            out = workloads.WORKLOADS[workload](bench)
            facts = {
                **box,
                "master": spark.sparkContext.master,
                "driver_memory": spark.conf.get("spark.driver.memory"),
                "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
                "java": spark._jvm.java.lang.System.getProperty("java.version"),
                "python": sys.version.split()[0],
            }
            stop_spark(spark)
            spark = None
        # CPU time the hypervisor gave to other guests: a box-noise witness
        facts["steal_frac"] = steal_frac(ticks0, cpu_ticks())
        if tracer:
            tracer.unpatch_all()
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)

    detail = {}
    if trace:
        from perfbench import eventlog
        from perfbench.report import layer_metrics
        primary, sample = PRIMARY_OP[workload]
        metrics, detail = layer_metrics(
            tracer.spans, eventlog.read_dir(work / "events"), bench.walls,
            primary, session_s)
        detail["overhead_vs_e2e"] = overhead_vs_e2e(
            reports, workload, seed, sample, bench.walls[True].get(primary, []))
    else:
        metrics = {
            "setup_s": (session_s + out.prep_s + out.warm_s, "s"),
            "ok_frac": ((out.attempted - out.failed) / max(out.attempted, 1), "frac"),
            "peak_rss_mb": (rss.peak_bytes / 2**20, "MB"),
            **out.metrics,
        }
        missing = set(END_TO_END_UNITS) - set(metrics)
        if missing:
            print(f"workload {workload} did not measure {sorted(missing)}", file=sys.stderr)
            return 1
    info = {"workload": workload, "seed": seed, "seconds": seconds,
            "trace": int(trace), "box": facts, "inputs": out.inputs,
            "samples": out.samples,
            "setup_parts_s": {"session": session_s, "prep_median": out.prep_s,
                              "warmup": out.warm_s}}
    if trace:
        info["trace_overhead"] = {
            "ops": {"traced": detail["traced_ops"], "untraced": detail["untraced_ops"]},
            "vs_e2e": detail["overhead_vs_e2e"]}
    report = {**info, "metrics": {k: v for k, (v, _) in metrics.items()}, **detail}
    if trace:
        report["spans"] = tracer.to_json()
    stamp = time.strftime("%Y%m%dT%H%M%S")
    (reports / f"{workload}-{'trace' if trace else 'e2e'}-seed{seed}-{stamp}.json"
     ).write_text(json.dumps(report, indent=1))
    shutil.rmtree(work, ignore_errors=True)
    # the JVM's children (Python workers) must be gone before we report
    deadline = time.time() + 30
    while len(tree_pids(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.2)
    print(json.dumps(info))
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
