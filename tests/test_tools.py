"""The command-line tools run on the engine as it is: the profiler
reports jobs and per-function self time for a cheap leaf."""

from conftest import SF_SMALL
from tools.profile import profile


def test_profile_reports_jobs_and_self_time(spark):
    r = profile(spark, ["dedup_exact"], SF_SMALL)["dedup_exact"]
    assert r["jobs"] > 0 and r["tasks"] > 0
    assert r["self_s"], "no wrapped package function ran"
    assert r["jit_compile_s"] >= 0 and r["jvm_gc_s"] >= 0
