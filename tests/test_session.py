"""Session defaults fit the machine they run on, and C2 is spent on the data path."""

import os
import subprocess
import sys
from pathlib import Path

from ont_d2rq_spark.session import C2_EXCLUDE, _driver_memory, compiler_directives


def test_default_driver_memory_fits_physical_ram():
    with open("/proc/meminfo") as f:
        mem_total_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    mem = _driver_memory()
    assert mem.endswith("m") and 0 < int(mem[:-1]) * 1024 <= mem_total_kb


DATA_PATH_CLASSES = (
    "org/apache/spark/sql/catalyst/expressions/GeneratedClass",
    "org/apache/spark/sql/catalyst/expressions/UnsafeRow",
    "org/apache/spark/unsafe/",
    "org/apache/spark/sql/execution/",
    "org/apache/parquet/",
    "org/apache/arrow/",
    "org/apache/spark/shuffle/",
    "org/apache/spark/util/collection/",
    "java/lang/String",
    "java/util/HashMap",
)


def test_c2_exclusions_spare_the_data_path():
    for entry in C2_EXCLUDE:
        assert entry.endswith("*") and "*" not in entry[:-1], entry
        for cls in DATA_PATH_CLASSES:
            assert not cls.startswith(entry[:-1]), (entry, cls)


def test_driver_jvm_runs_with_the_directives(spark):
    mf = spark._jvm.java.lang.management.ManagementFactory
    hotspot = mf.getPlatformMXBean(
        spark._jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    path = hotspot.getVMOption("CompilerDirectivesFile").getValue()
    assert os.path.isfile(path) and path == compiler_directives() == compiler_directives()
    text = open(path).read()
    assert "c2: { Exclude: true }" in text
    assert all(f'"{entry}.*"' in text for entry in C2_EXCLUDE)
    assert hotspot.getVMOption("DontCompileHugeMethods").getValue() == "false"


def test_session_start_keeps_stdout_for_the_program(tmp_path):
    # HotSpot reports the loaded compiler directives on VM output; the
    # CLI writes Turtle and query rows to stdout, so that must stay clean
    script = tmp_path / "start.py"
    script.write_text(
        "import sys\n"
        f"sys.path.insert(0, {str(Path(__file__).resolve().parents[1])!r})\n"
        "from ont_d2rq_spark.session import get_spark\n"
        "spark = get_spark(app='stdout', master='local[1]')\n"
        "print('ok')\n"
        "spark.stop()\n"
    )
    out = subprocess.run(
        [sys.executable, str(script)], capture_output=True, text=True, timeout=300
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout == "ok\n"
