"""The command-line tools run on the engine as it is: the profiler
reports jobs and per-function self time for a cheap leaf, and writes
the plan the leaf ran."""

from conftest import SF_SMALL
from tools.profile import profile


def test_profile_reports_jobs_and_self_time(spark, tmp_path):
    r = profile(spark, ["dedup_exact"], SF_SMALL, plans_dir=tmp_path)["dedup_exact"]
    assert r["jobs"] > 0 and r["tasks"] > 0
    assert r["self_s"], "no wrapped package function ran"
    assert r["jit_compile_s"] >= 0 and r["jvm_gc_s"] >= 0
    # the plan file holds the plan that ran, not the initial AQE plan
    assert "isFinalPlan=true" in (tmp_path / "dedup_exact.txt").read_text()
