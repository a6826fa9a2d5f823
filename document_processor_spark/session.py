"""SparkSession factory tuned for the extraction workload.

Local-mode knobs mirror what a 1000-executor cluster run would set via
spark-submit: AQE on (skewed fallback partitions re-balance at runtime,
SURVEY.md §4.2), Arrow transfer on (the parse UDF is Arrow-batched),
shuffle partitions sized to cores.  ANSI mode is disabled deliberately:
the reference never fails a whole request for one bad page
(content_extractor.py:85-99) and the engine must keep that tolerance —
malformed payloads yield null, not job-killing exceptions.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_mem(pretouch: bool = False) -> str:
    """The driver heap: SPARK_DRIVER_MEM when set, else 48g (24g with
    pretouch) capped at half of physical RAM, so a heap sized for a big
    box cannot grow a JVM past what a small one has."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    cap_gb = 24 if pretouch else 48
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    return f"{cap_gb}g" if cap_gb * 1024 <= half_mb else f"{half_mb}m"


def build_spark(app: str = "document-processor-spark",
                cores: int | None = None,
                shuffle_partitions: int | None = None,
                executors: int | None = None,
                exec_cores: int = 4,
                exec_mem_mb: int = 6144,
                pretouch: bool = False,
                extra_conf: dict | None = None) -> SparkSession:
    """Local-mode session, or — with `executors` — a local-cluster session
    that spawns real separate executor JVMs (own heap, own GC, own Python
    workers): the honest sandbox proxy for an N-executor cluster, used by
    the scaling bench (north rule: N vs 4N executors)."""
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if executors:
        os.environ.setdefault(
            "SPARK_HOME",
            os.path.dirname(__import__("pyspark").__file__))
        master = f"local-cluster[{executors},{exec_cores},{exec_mem_mb}]"
        cores = executors * exec_cores
    else:
        master = f"local[{cores}]"
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    heap = driver_mem(pretouch)
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.executor.memory", f"{exec_mem_mb}m")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", heap)
        # codegen-heavy workload: janino classes accumulate per session and a
        # full JIT code cache silently disables compilation (10-30x slowdown).
        # pretouch: fault the whole fixed-size heap in at JVM start (untimed)
        # — on this VM, lazy heap expansion mid-job triggers multi-10s
        # kernel page-fault storms (observed: 90% sys time, 45s walls on a
        # 3s query while the heap grew 8G->16G); a real cluster sets the
        # same flags via spark-submit --conf
        .config("spark.driver.extraJavaOptions",
                "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing"
                + (f" -Xms{heap} -XX:+AlwaysPreTouch" if pretouch else ""))
        # shuffle spill dir on tmpfs: the sandbox VM's /tmp is virtio-disk
        # backed and becomes the scaling bottleneck once shuffle volume
        # exceeds the page cache (a real cluster uses local NVMe)
        .config("spark.local.dir",
                os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-local"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
    )
    if pretouch:
        b = b.config("spark.executor.extraJavaOptions",
                     f"-Xms{exec_mem_mb}m -XX:+AlwaysPreTouch")
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if executors:
        # multi-JVM executors run their own Python workers: ship the engine
        # exactly as a real cluster submit would (--py-files engine.zip)
        spark.sparkContext.addPyFile(_engine_zip())
    return spark


def _engine_zip() -> str:
    import zipfile
    from pathlib import Path
    pkg = Path(__file__).resolve().parent
    out = Path("/tmp/dps-engine.zip")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for p in sorted(pkg.rglob("*.py")):
            z.write(p, Path("document_processor_spark") / p.relative_to(pkg))
    return str(out)
