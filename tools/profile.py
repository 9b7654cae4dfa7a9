"""Where a leaf's time goes, per Spark job and per package function.

Each leaf runs once in one ``get_spark`` session under its own job
group, into a noop sink.  For each leaf it reports the wall time, the
statistics of the leaf's jobs from the Spark status store (jobs, tasks,
executor CPU, GC, shuffle and spill bytes, Python-UDF time, job time
per module), the JVM's JIT compile and GC seconds over the leaf
(``jit_compile_s``, ``jvm_gc_s``: the JVM-wide MXBean totals, driver
threads included), the driver's py4j round trips during the leaf
(``py4j_calls``: every ``send_command`` of this process's gateway
client) and the self time of every public package function that
``perfbench.trace`` wraps.

Usage: python tools/profile.py <leaf|dump|dump_distinct|all>... [--plans]
  leaf   a key of __spark_entry__.queries(), or minhash_xxhash64; several
         leaves run in one session, in the order given
  all    every leaf bench.py times
  data   $SPARK_GRAFT_SF_DIR (default: the sf0.1 test tables, as bench.py)
Writes BENCH/layers.json, stamped with commit, nproc and date;
--plans also writes the formatted plan each leaf ran (AQE's final plan)
to plans/<leaf>.txt and the leaf frame's optimized logical and initial
physical plan to plans/<leaf>.initial.txt, both normalized
(normalize_plan) so that the plans of two checkouts compare with
``diff -r``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import threading
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
if __name__ == "__main__":
    # as a script, this directory would shadow the stdlib ``profile``
    # module that cProfile (imported by pyspark) loads
    sys.path[0] = str(REPO)

BENCH_LEAVES = [
    "dump",
    "dump_distinct",
    "find_bound_subject",
    "bgp_join",
    "agg_pricing_summary",
    "pipeline_kg",
    "minhash_xxhash64",
    "minhash_dedup",
    "similarity_topk",
    "embedding_near_dup_lsh",
    "sessionize",
    "sparql_agg",
    "sparql_nested_optional",
]


def leaf_frame(spark, leaf: str, sf_dir: str):
    if leaf in ("dump", "dump_distinct"):
        from ont_d2rq_spark.examples import tpch_mapping
        from ont_d2rq_spark.graph import VirtualGraph

        g = VirtualGraph(tpch_mapping(sf_dir), spark)
        return g.triples(fuse=True, distinct=True if leaf == "dump_distinct" else "auto")
    if leaf == "minhash_xxhash64":
        from ont_d2rq_spark.operators.dedup import minhash_dedup
        from ont_d2rq_spark.sources.tables import balanced_read

        docs = balanced_read(spark, f"{sf_dir}/documents.parquet")
        return minhash_dedup(docs, threshold=0.5, hash_family="xxhash64")
    import __spark_entry__

    return __spark_entry__.queries()[leaf](spark, sf_dir)


_ISNOTNULL = re.compile(r"(?i)isnotnull\(")
_JOINER = re.compile(r"[\s()]*(AND|,)[\s()]*")


def _sort_isnotnull_runs(line: str) -> str:
    """Sort each run of ``isnotnull(…)`` terms joined by AND or ','."""
    spans, i = [], 0
    while m := _ISNOTNULL.search(line, i):
        j, depth = m.end(), 1
        while depth and j < len(line):
            depth += {"(": 1, ")": -1}.get(line[j], 0)
            j += 1
        spans.append((m.start(), j))
        i = j
    runs, k = [], 0
    while k < len(spans):
        run = [spans[k]]
        while k + 1 < len(spans) and _JOINER.fullmatch(line[run[-1][1] : spans[k + 1][0]]):
            k += 1
            run.append(spans[k])
        runs.append(run)
        k += 1
    for run in reversed(runs):  # right to left: earlier offsets stay valid
        terms = sorted(line[a:b] for a, b in run)
        for (a, b), t in zip(reversed(run), reversed(terms)):
            line = line[:a] + t + line[b:]
    return line


def normalize_plan(plan: str) -> str:
    """The plan without what differs between two sessions running the
    same query: expression, RDD and exchange-plan ids, and the order of
    Catalyst's inferred ``isnotnull(…) AND …`` conjuncts and
    ``IsNotNull(…)`` pushed filters."""
    out = []
    for line in plan.splitlines(keepends=True):
        line = re.sub(r"#[0-9]+L?", "", line)
        line = re.sub(r"RDD\[[0-9]+\]", "RDD[]", line)
        out.append(_sort_isnotnull_runs(re.sub(r"plan_id=[0-9]+", "plan_id=", line)))
    return "".join(out)


def jvm_seconds(spark) -> tuple[float, float]:
    """(JIT compile s, GC s) the driver JVM has spent since it started.
    The MXBeans count work of compiler threads HotSpot has already
    stopped, which a per-thread CPU sum would miss."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    jit_ms = mf.getCompilationMXBean().getTotalCompilationTime()
    gc_ms = sum(max(b.getCollectionTime(), 0) for b in mf.getGarbageCollectorMXBeans())
    return jit_ms / 1e3, gc_ms / 1e3


class Py4jCalls:
    """Counts the driver's py4j round trips: each ``send_command`` of the
    gateway client, which every JavaObject of the session calls through."""

    def __init__(self, spark):
        self.client = spark.sparkContext._gateway._gateway_client
        self.n = 0
        lock, send = threading.Lock(), self.client.send_command

        def counted(*args, **kwargs):
            with lock:
                self.n += 1
            return send(*args, **kwargs)

        self.client.send_command = counted

    def uninstall(self) -> None:
        del self.client.send_command


def profile(spark, leaves: list[str], sf_dir: str, plans_dir: Path | None = None) -> dict:
    """{leaf: {wall_s, <job statistics>, py4j_calls, self_s: {module.function: s}}}."""
    from perfbench.trace import Tracer, job_stats, self_times

    sc = spark.sparkContext
    tracer = Tracer()
    tracer.install()
    py4j = Py4jCalls(spark)
    out = {}
    try:
        for op, leaf in enumerate(leaves):
            tracer.op = op
            group = f"profile-{leaf}"
            sc.setJobGroup(group, leaf)
            jit0, gc0 = jvm_seconds(spark)
            t0_wall_ms = time.time() * 1e3
            calls0 = py4j.n
            t0 = time.perf_counter()
            df = leaf_frame(spark, leaf, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            wall = time.perf_counter() - t0
            calls = py4j.n - calls0
            jit1, gc1 = jvm_seconds(spark)
            spans = tracer.op_spans(op)
            stats = job_stats(spark, group, t0_wall_ms, spans, tracer.epoch, "profile")
            self_s = sorted(self_times(spans).items(), key=lambda kv: -kv[1])
            out[leaf] = {"wall_s": round(wall, 3), **stats,
                         "jit_compile_s": round(jit1 - jit0, 3),
                         "jvm_gc_s": round(gc1 - gc0, 3),
                         "py4j_calls": calls,
                         "self_s": {k: round(v, 3) for k, v in self_s}}
            if plans_dir is not None:
                # the noop write is the last SQL execution; once it ends,
                # AQE has replaced its plan description with the final plan
                sc._jsc.sc().listenerBus().waitUntilEmpty()
                execs = spark._jsparkSession.sharedState().statusStore().executionsList()
                plan = execs.apply(execs.size() - 1).physicalPlanDescription()
                (plans_dir / f"{leaf}.txt").write_text(normalize_plan(plan))
                # the noop write planned its own frame; the leaf frame's
                # plans are still the initial ones, before AQE's runtime
                # choices (which can differ between solo sessions).  The
                # formatted physical plan prints scan filters untruncated,
                # so normalize_plan can sort them.
                qe = df._jdf.queryExecution()
                formatted = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
                (plans_dir / f"{leaf}.initial.txt").write_text(normalize_plan(
                    f"== Optimized Logical Plan ==\n{qe.optimizedPlan()}\n"
                    f"{qe.explainString(formatted)}\n"
                ))
    finally:
        py4j.uninstall()
        tracer.uninstall()
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument(
        "leaf", nargs="+", help="registry key, minhash_xxhash64, dump, dump_distinct or all"
    )
    ap.add_argument("--plans", action="store_true", help="write plans/<leaf>.txt")
    args = ap.parse_args(argv)
    leaves = list(dict.fromkeys(
        leaf for arg in args.leaf for leaf in (BENCH_LEAVES if arg == "all" else [arg])
    ))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    plans_dir = REPO / "plans" if args.plans else None
    if plans_dir is not None:
        plans_dir.mkdir(exist_ok=True)

    from ont_d2rq_spark.session import get_spark, ship_package
    from perfbench.harness import provenance

    spark = get_spark(app="profile")
    ship_package(spark)
    layers = profile(spark, leaves, sf_dir, plans_dir)
    result = {**provenance(spark, None, str(REPO)), "sf": sf_dir, "leaves": layers}
    spark.stop()
    out = REPO / "BENCH" / "layers.json"
    out.write_text(json.dumps(result, indent=1) + "\n")
    for leaf, r in layers.items():
        print(f"{leaf}: wall {r['wall_s']:.2f} s, {r['jobs']} jobs, {r['tasks']} tasks, "
              f"job time {r['job_s']:.2f} s, Python UDF {r['python_udf_s']:.2f} s, "
              f"JIT {r['jit_compile_s']:.2f} s, JVM GC {r['jvm_gc_s']:.2f} s, "
              f"{r['py4j_calls']} py4j calls")
        for name, s in list(r["self_s"].items())[:8]:
            print(f"    {s:8.3f} s  {name}")
    print(f"wrote {out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
