"""SparkSession factory with the scale-oriented defaults this engine assumes.

Local testing runs one JVM (local[N]); the same config block is what the
spark-submit deployment would set cluster-side (minus master/memory).
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def _pkg_sources(pkg_dir: str) -> list[tuple[str, str]]:
    out = []
    for dirpath, _dirs, files in os.walk(pkg_dir):
        for fn in sorted(files):
            if fn.endswith(".py"):
                full = os.path.join(dirpath, fn)
                rel = os.path.join("ont_d2rq_spark", os.path.relpath(full, pkg_dir))
                out.append((full, rel))
    out.sort(key=lambda t: t[1])
    return out


def ship_package(spark: SparkSession) -> None:
    """Make ont_d2rq_spark importable on executor Python workers —
    the local-mode equivalent of ``spark-submit --py-files pkg.zip``
    (the deployment mode the north rule prescribes).  Needed because
    pandas-UDF kernels are cloudpickled BY REFERENCE to this module, so
    workers must import it; a driver whose cwd is elsewhere would
    otherwise fail with ModuleNotFoundError mid-query.  Idempotent.

    The zip is named by a CONTENT hash of the package sources, so an
    edited source tree never reuses a stale archive (executors would
    silently run old pandas-UDF kernels otherwise)."""
    if getattr(spark, "_ont_d2rq_shipped", False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    sources = _pkg_sources(pkg_dir)
    h = hashlib.md5()
    for full, rel in sources:
        h.update(rel.encode())
        with open(full, "rb") as f:
            h.update(f.read())
    zpath = os.path.join(
        tempfile.gettempdir(), f"ont_d2rq_spark_pkg_{h.hexdigest()[:16]}.zip"
    )
    if not os.path.exists(zpath):
        tmp = zpath + f".tmp{os.getpid()}"
        with zipfile.ZipFile(tmp, "w") as z:
            for full, rel in sources:
                z.write(full, rel)
        os.replace(tmp, zpath)
    spark.sparkContext.addPyFile(zpath)
    spark._ont_d2rq_shipped = True


def _driver_memory() -> str:
    """Half of the machine's physical memory, in megabytes: local mode
    runs driver and executors in this one JVM, and the rest of the box
    stays free for the Python workers and the page cache."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{total // 2 // (1 << 20)}m"


def get_spark(
    app: str = "ont_d2rq_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else str(cpus)
        shuffle_partitions = cpus * 2 if n == "*" else max(int(n) * 2, 8)
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", _driver_memory()))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # straggler mitigation for CLUSTER deployments: one externally
        # stalled task gets a speculative copy instead of holding the
        # stage barrier.  NOTE: inert under a local[*] master —
        # TaskSchedulerImpl starts the speculation thread only when
        # !isLocal — so local runs carry the setting as deployment
        # intent, not as an active mitigation.
        .config("spark.speculation", "true")
        .config("spark.speculation.quantile", "0.75")
        .config("spark.speculation.multiplier", "2")
        # Whole-stage codegen for wide fused plans (the one-scan dump
        # unions dozens of mint expressions) emits methods beyond
        # HotSpot's DontCompileHugeMethods bytecode cap; those methods
        # then run INTERPRETED for the whole job.  Allowing the JIT to
        # compile huge methods is a standard Spark deployment setting;
        # A/B at sf0.1 (5 alternating fresh-session rounds): distinct
        # dump median 15.0 s -> 8.9 s, and the slow tail collapses.
        # Same flag on the executor side for cluster deployments
        # (local-mode executors live in the driver JVM).
        .config("spark.driver.extraJavaOptions", "-XX:-DontCompileHugeMethods")
        .config("spark.executor.extraJavaOptions", "-XX:-DontCompileHugeMethods")
    )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
