"""SparkSession factory with the scale-oriented defaults this engine assumes.

Local testing runs one JVM (local[N]); the same config block is what the
spark-submit deployment would set cluster-side (minus master/memory).
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile
from pathlib import Path

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


def _temp_file(name: str, write) -> str:
    """``tempfile.gettempdir()/name``, created once by ``write(path)``
    through a per-process temporary name, so concurrent sessions never
    read a half-written file.  Callers name the file by a content hash."""
    path = os.path.join(tempfile.gettempdir(), name)
    if not os.path.exists(path):
        tmp = path + f".tmp{os.getpid()}"
        write(tmp)
        os.replace(tmp, path)
    return path


def _zip(path: str, sources: list[tuple[str, str]]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for full, rel in sources:
            z.write(full, rel)


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
    zpath = _temp_file(
        f"ont_d2rq_spark_pkg_{h.hexdigest()[:16]}.zip", lambda tmp: _zip(tmp, sources)
    )
    spark.sparkContext.addPyFile(zpath)
    spark._ont_d2rq_shipped = True


# HotSpot C2 compile exclusions for code that only plans queries and
# ships tasks.  A one-shot process (a dump, a build_kg run, a test
# session) pays C2 to compile this code while it warms up and then
# barely runs it: in a cold sf0.1 dump on 4 cores the JVM spent 23.6 s
# compiling against 9.2 s of executor CPU.  An excluded method is still
# compiled, by C1 (HotSpot falls back to tier 1 once tier 4 is
# refused), so it never stays interpreted.  Everything not listed keeps
# C1 -> C2 tiering, above all the data path: Spark's generated classes,
# unsafe rows, sql/execution, Parquet, Arrow, shuffle, util/collection.
#
# The entries are the packages at the top of C2's time in a
# LogCompilation of one cold perfbench kg_build run on a 4-core VM
# (39.5 s of C2 over 3,227 compiles; Janino 6.4 s, java.io 5.1 s,
# Catalyst expressions with the generated classes 1.4 s): Janino, which
# compiles the generated code; the shaded ASM ClassReader behind the
# ClosureCleaner; Java serialization of tasks and closures; Catalyst's
# analyzer, optimizer, parser and tree rewriting; ANTLR; Scala
# reflection; class loading and jar reading; and the Python bridges
# (Pyrolite, py4j).  To re-derive it, run a workload once with
#   JDK_JAVA_OPTIONS="-XX:+UnlockDiagnosticVMOptions -XX:+LogCompilation
#                     -XX:LogFile=jit.xml"
# sum the seconds of the C2 tasks (the <task> elements without a level
# attribute, up to their <task_done> stamp) per package, and compare
# the leaders with this list.  The measurements behind the choice, and
# the policies that lost (C1 only, raised Tier4 thresholds, no
# tiering), are in CHANGES.md.
#
# The directives file is a driver-local path, so only the driver JVM
# gets it: in local mode the executors live in that JVM, and on a
# cluster the executors keep plain tiering.
C2_EXCLUDE = (
    "org/codehaus/*",
    "org/apache/xbean/*",
    "org/antlr/*",
    "scala/reflect/*",
    "org/apache/spark/sql/catalyst/analysis/*",
    "org/apache/spark/sql/catalyst/optimizer/*",
    "org/apache/spark/sql/catalyst/parser/*",
    "org/apache/spark/sql/catalyst/rules/*",
    "org/apache/spark/sql/catalyst/trees/*",
    "org/apache/spark/sql/catalyst/plans/*",
    "java/io/ObjectInputStream*",
    "java/io/ObjectOutputStream*",
    "java/io/ObjectStreamClass*",
    "jdk/internal/loader/*",
    "java/util/jar/*",
    "net/razorvine/*",
    "py4j/*",
)


def compiler_directives() -> str:
    """Path of a HotSpot compiler-directives file that excludes the
    C2_EXCLUDE classes from C2.  Named by a content hash, like
    ``ship_package``'s zip, so every session with the same table shares
    one file and an edited table never reuses a stale one."""
    match = ", ".join(f'"{p}.*"' for p in C2_EXCLUDE)
    text = f"[{{ match: [{match}], c2: {{ Exclude: true }} }}]\n"
    digest = hashlib.md5(text.encode()).hexdigest()[:16]
    return _temp_file(f"ont_d2rq_spark_jit_{digest}.json", lambda tmp: Path(tmp).write_text(text))


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
        # Whole-stage codegen for wide fused plans (the one-scan dump
        # unions dozens of mint expressions) emits methods beyond
        # HotSpot's DontCompileHugeMethods bytecode cap; those methods
        # then run INTERPRETED for the whole job.  Allowing the JIT to
        # compile huge methods is a standard Spark deployment setting;
        # A/B at sf0.1 (5 alternating fresh-session rounds): distinct
        # dump median 15.0 s -> 8.9 s, and the slow tail collapses.
        # Same flag on the executor side for cluster deployments
        # (local-mode executors live in the driver JVM).  The driver
        # alone also gets the C2 exclusions of C2_EXCLUDE (above);
        # HotSpot announces the loaded directives on its own output,
        # which goes to stderr so that stdout carries only what the
        # program prints (the CLI writes Turtle and query rows there).
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:-DontCompileHugeMethods -XX:+DisplayVMOutputToStderr"
            " -XX:+UnlockDiagnosticVMOptions"
            f" -XX:CompilerDirectivesFile={compiler_directives()}",
        )
        .config("spark.executor.extraJavaOptions", "-XX:-DontCompileHugeMethods")
    )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
