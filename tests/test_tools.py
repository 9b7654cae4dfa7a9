"""The command-line tools run on the engine as it is: the profiler
reports jobs, py4j round trips and per-function self time for a cheap
leaf, and writes the plan the leaf ran and its initial plan."""

from conftest import SF_SMALL
from tools.profile import profile


def test_profile_reports_jobs_and_self_time(spark, tmp_path):
    r = profile(spark, ["dedup_exact"], SF_SMALL, plans_dir=tmp_path)["dedup_exact"]
    assert r["jobs"] > 0 and r["tasks"] > 0
    assert r["self_s"], "no wrapped package function ran"
    assert r["jit_compile_s"] >= 0 and r["jvm_gc_s"] >= 0
    assert r["py4j_calls"] > 0
    # the plan file holds the plan that ran, not the initial AQE plan
    assert "isFinalPlan=true" in (tmp_path / "dedup_exact.txt").read_text()
    initial = (tmp_path / "dedup_exact.initial.txt").read_text()
    assert "== Optimized Logical Plan ==" in initial and "isFinalPlan=false" in initial


def test_normalize_plan_drops_session_ids_and_sorts_isnotnull_runs():
    from tools.profile import normalize_plan

    a = ("+- Filter ((isnotnull(c_nationkey#12L) AND isnotnull(c_custkey#10L)) AND (x#3 > 1))\n"
         "PushedFilters: [IsNotNull(c_nationkey), IsNotNull(c_custkey)], plan_id=41 RDD[7]\n")
    b = ("+- Filter ((isnotnull(c_custkey#20L) AND isnotnull(c_nationkey#22L)) AND (x#5 > 1))\n"
         "PushedFilters: [IsNotNull(c_custkey), IsNotNull(c_nationkey)], plan_id=9 RDD[13]\n")
    assert normalize_plan(a) == normalize_plan(b)
    assert normalize_plan(a) == (
        "+- Filter ((isnotnull(c_custkey) AND isnotnull(c_nationkey)) AND (x > 1))\n"
        "PushedFilters: [IsNotNull(c_custkey), IsNotNull(c_nationkey)], plan_id= RDD[]\n"
    )
