"""Where a leaf's time goes, per Spark job and per package function.

Each leaf runs once in one ``get_spark`` session under its own job
group, into a noop sink.  For each leaf it reports the wall time, the
statistics of the leaf's jobs from the Spark status store (jobs, tasks,
executor CPU, GC, shuffle and spill bytes, Python-UDF time, job time
per module), the JVM's JIT compile and GC seconds over the leaf
(``jit_compile_s``, ``jvm_gc_s``: the JVM-wide MXBean totals, driver
threads included) and the self time of every public package function
that ``perfbench.trace`` wraps.

Usage: python tools/profile.py <leaf|dump|dump_distinct|all> [--plans]
  leaf   a key of __spark_entry__.queries(), or minhash_xxhash64
  all    every leaf bench.py times
  data   $SPARK_GRAFT_SF_DIR (default: the sf0.1 test tables, as bench.py)
Writes BENCH/layers.json, stamped with commit, nproc and date;
--plans also writes each leaf's .explain("formatted") to plans/<leaf>.txt.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
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


def jvm_seconds(spark) -> tuple[float, float]:
    """(JIT compile s, GC s) the driver JVM has spent since it started.
    The MXBeans count work of compiler threads HotSpot has already
    stopped, which a per-thread CPU sum would miss."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    jit_ms = mf.getCompilationMXBean().getTotalCompilationTime()
    gc_ms = sum(max(b.getCollectionTime(), 0) for b in mf.getGarbageCollectorMXBeans())
    return jit_ms / 1e3, gc_ms / 1e3


def profile(spark, leaves: list[str], sf_dir: str, plans_dir: Path | None = None) -> dict:
    """{leaf: {wall_s, <job statistics>, self_s: {module.function: s}}}."""
    from perfbench.trace import Tracer, job_stats, self_times

    sc = spark.sparkContext
    tracer = Tracer()
    tracer.install()
    out = {}
    try:
        for op, leaf in enumerate(leaves):
            tracer.op = op
            group = f"profile-{leaf}"
            sc.setJobGroup(group, leaf)
            jit0, gc0 = jvm_seconds(spark)
            t0_wall_ms = time.time() * 1e3
            t0 = time.perf_counter()
            df = leaf_frame(spark, leaf, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            wall = time.perf_counter() - t0
            jit1, gc1 = jvm_seconds(spark)
            spans = tracer.op_spans(op)
            stats = job_stats(spark, group, t0_wall_ms, spans, tracer.epoch, "profile")
            self_s = sorted(self_times(spans).items(), key=lambda kv: -kv[1])
            out[leaf] = {"wall_s": round(wall, 3), **stats,
                         "jit_compile_s": round(jit1 - jit0, 3),
                         "jvm_gc_s": round(gc1 - gc0, 3),
                         "self_s": {k: round(v, 3) for k, v in self_s}}
            if plans_dir is not None:
                mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
                plan = df._jdf.queryExecution().explainString(mode)
                (plans_dir / f"{leaf}.txt").write_text(plan)
            spark.catalog.clearCache()
    finally:
        tracer.uninstall()
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("leaf", help="registry key, minhash_xxhash64, dump, dump_distinct or all")
    ap.add_argument("--plans", action="store_true", help="write plans/<leaf>.txt")
    args = ap.parse_args(argv)
    leaves = BENCH_LEAVES if args.leaf == "all" else [args.leaf]
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
              f"JIT {r['jit_compile_s']:.2f} s, JVM GC {r['jvm_gc_s']:.2f} s")
        for name, s in list(r["self_s"].items())[:8]:
            print(f"    {s:8.3f} s  {name}")
    print(f"wrote {out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
