"""Scaling: throughput of one job at several local[n] levels, same input.

Each level runs in a fresh process and JVM (``get_spark(master=
f"local[{n}]")``): one untimed warm-up, then RUNS timed runs, each a
fresh plan written to a noop sink.  Throughput is items / median wall,
and the job's efficiency between the lowest and highest level is

    eff = (throughput_hi / throughput_lo) / (hi / lo)

Jobs (input: the sf0.1 tables, inflated xK by key-shifted replication
into the temporary directory and reused while it exists):
  dump, dump_distinct  full-mapping fused dump, distinct "auto" / True;
                       lineitem, orders and customer xK
  pipeline             build_kg over documents xK
  sparql               tools/soak_pipeline.py's SPARQL query over its
                       xK tpch input
  ceiling              n concurrent fixed-work CPU processes, no Spark:
                       the efficiency a perfectly parallel job reaches
                       on this machine

Usage: python tools/scaling.py --job JOB [--k K] [--levels 1,<nproc>]
Writes the job's entry of BENCH/scaling.json (the file bench.py
reads), stamped with commit, nproc and date; entries without a stamp
are dropped.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from concurrent.futures import ProcessPoolExecutor
from datetime import datetime, timezone
from functools import reduce
from multiprocessing import get_context
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
if __name__ == "__main__":
    # as a script, this directory would shadow the stdlib ``profile``
    # module that cProfile (imported by pyspark) loads; spawned level
    # processes inherit this path
    sys.path[0] = str(REPO)

from tools.soak_pipeline import SOAK_SPARQL, SRC, build_tpch_input  # noqa: E402

RUNS = 5
JOBS = ["dump", "dump_distinct", "pipeline", "sparql", "ceiling"]
# table -> key columns shifted per replica; the other tables are copied
INFLATE = {
    "dump": {"lineitem": ["l_orderkey"], "orders": ["o_orderkey"], "customer": ["c_custkey"]},
    "pipeline": {"documents": ["doc_id"]},
}
COPY = {
    "dump": ["region", "nation", "supplier", "part"],
    "pipeline": ["customer"],
}


def build_input(kind: str, k: int, dest: str) -> None:
    from pyspark.sql import functions as F

    from ont_d2rq_spark.session import get_spark

    spark = get_spark(app="scaling-input")
    if kind == "sparql":
        build_tpch_input(spark, k=k, dest=dest)
    else:
        for t, keys in INFLATE[kind].items():
            df = spark.read.parquet(f"{SRC}/{t}.parquet")
            reps = [
                df.select(*[(F.col(c).cast("long") + i * 1_000_000_000).alias(c)
                            if c in keys else F.col(c) for c in df.columns])
                for i in range(k)
            ]
            reduce(lambda a, b: a.unionByName(b), reps).write.mode("overwrite").parquet(
                f"{dest}/{t}.parquet")
        for t in COPY[kind]:
            spark.read.parquet(f"{SRC}/{t}.parquet").write.mode("overwrite").parquet(
                f"{dest}/{t}.parquet")
    spark.stop()


def _cpu_task(_) -> float:
    import hashlib

    t0 = time.perf_counter()
    h = b"x" * 4096
    for _ in range(60_000):
        h = hashlib.md5(h).digest() + h[:4080]
    return time.perf_counter() - t0


def measure_ceiling(n: int) -> dict:
    """n concurrent fixed-work processes; the wall of one level is the
    mean per-task wall, so throughput is n / wall."""
    walls = []
    with ProcessPoolExecutor(n, mp_context=get_context("spawn")) as ex:
        list(ex.map(_cpu_task, range(n)))  # start every worker first
        for _ in range(RUNS):
            walls.append(statistics.mean(ex.map(_cpu_task, range(n))))
    return {"items": n, "walls": walls}


def measure_level(job: str, dest: str, n: int) -> dict:
    from ont_d2rq_spark.session import get_spark, ship_package

    spark = get_spark(app=f"scaling-{job}", master=f"local[{n}]")
    ship_package(spark)

    def frame():
        if job in ("dump", "dump_distinct"):
            from ont_d2rq_spark.examples import tpch_mapping
            from ont_d2rq_spark.graph import VirtualGraph

            g = VirtualGraph(tpch_mapping(dest), spark)
            return g.triples(fuse=True, distinct=True if job == "dump_distinct" else "auto")
        if job == "pipeline":
            from ont_d2rq_spark.pipeline.docs import build_kg

            return build_kg(spark, dest, root=None)
        from ont_d2rq_spark.examples import tpch_mapping
        from ont_d2rq_spark.graph import VirtualGraph
        from ont_d2rq_spark.sparql import execute

        return execute(VirtualGraph(tpch_mapping(dest), spark), SOAK_SPARQL)

    def run_once() -> float:
        t0 = time.perf_counter()
        frame().write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    items = frame().count()
    run_once()  # warm-up: JIT, codegen and Python workers
    walls = [run_once() for _ in range(RUNS)]
    spark.stop()
    return {"items": items, "walls": walls}


def run_level(job: str, dest: str, n: int) -> dict:
    if job == "ceiling":
        return measure_ceiling(n)
    with ProcessPoolExecutor(1, mp_context=get_context("spawn")) as ex:
        return ex.submit(measure_level, job, dest, n).result()


def stamp() -> dict:
    try:
        commit = subprocess.run(["git", "-C", str(REPO), "rev-parse", "HEAD"], capture_output=True,
                                text=True, check=True, timeout=30).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {"commit": commit, "nproc": len(os.sched_getaffinity(0)),
            "date": datetime.now(timezone.utc).isoformat(timespec="seconds")}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--job", required=True, choices=JOBS)
    ap.add_argument("--k", type=int, default=4, help="input replication factor")
    ap.add_argument("--levels", default=f"1,{len(os.sched_getaffinity(0))}",
                    help="comma-separated local[n] levels")
    args = ap.parse_args(argv)
    levels = sorted({int(x) for x in args.levels.split(",")})
    if len(levels) < 2:
        ap.error("--levels needs two distinct levels")

    kind = "dump" if args.job == "dump_distinct" else args.job
    dest = os.path.join(tempfile.gettempdir(), f"ont_d2rq_scaling_{kind}_x{args.k}")
    if kind != "ceiling" and not os.path.isdir(dest):
        shutil.rmtree(dest + ".part", ignore_errors=True)
        with ProcessPoolExecutor(1, mp_context=get_context("spawn")) as ex:
            ex.submit(build_input, kind, args.k, dest + ".part").result()
        os.replace(dest + ".part", dest)

    raw = {}
    for n in levels:
        r = run_level(args.job, dest, n)
        med = statistics.median(r["walls"])
        raw[n] = {"items": r["items"], "walls": [round(w, 3) for w in r["walls"]],
                  "median_wall": round(med, 3), "items_per_s": round(r["items"] / med, 1)}
        print(f"{args.job} local[{n}]: median {med:.2f} s, {raw[n]['items_per_s']} items/s",
              flush=True)
    lo, hi = levels[0], levels[-1]
    eff = round(raw[hi]["items_per_s"] / raw[lo]["items_per_s"] / (hi / lo), 3)
    entry = {**stamp(), "eff": eff, "k": args.k, "levels": levels, "runs": RUNS, "raw": raw}

    path = REPO / "BENCH" / "scaling.json"
    old = json.loads(path.read_text()).get("jobs", {}) if path.exists() else {}
    jobs = {j: e for j, e in old.items() if "commit" in e}
    jobs[args.job] = entry
    doc = {"eff": {j: e["eff"] for j, e in jobs.items()}, "jobs": jobs}
    path.write_text(json.dumps(doc, indent=1) + "\n")
    print(f"{args.job}: eff {eff} between local[{lo}] and local[{hi}] -> {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
