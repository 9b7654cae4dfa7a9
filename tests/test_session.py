"""Session defaults fit the machine they run on."""

from ont_d2rq_spark.session import _driver_memory


def test_default_driver_memory_fits_physical_ram():
    with open("/proc/meminfo") as f:
        mem_total_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    mem = _driver_memory()
    assert mem.endswith("m") and 0 < int(mem[:-1]) * 1024 <= mem_total_kb
