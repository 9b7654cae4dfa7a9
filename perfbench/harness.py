"""Benchmark loop: set-up, measurement, correctness gate, metrics.

``run(args)`` returns the result object ``run.py`` prints; artifacts
(every operation's sample, the provenance stamp, and in traced runs the
spans and the per-layer table) go to ``perfbench/_work/out``.
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from datetime import datetime, timezone

import numpy as np

from perfbench import data, oracle, workloads
from perfbench.trace import Tracer, job_stats, self_times

E2E_UNITS = {"setup_s": "s", "round_cpu_s": "s", "peak_rss_mb": "MB"}
SETUP_LAYERS = ["session.start_s", "session.get_spark_s", "session.ship_package_s",
                "session.worker_warmup_s", "mapping.load_s", "compiler.compile_s"]
SLOT_LAYERS = {"wall_s": "s", "cpu_s": "s", "compile_s": "s", "plan_s": "s", "exec_s": "s",
               "jobs": "count", "tasks": "count", "first_job_s": "s", "driver_gap_s": "s", "executor_cpu_s": "s",
               "shuffle_write_bytes": "bytes", "input_rows_per_item": "ratio"}
LAYER_UNITS = {"gc_s": "s", "spill_bytes": "bytes"}
LAYER_UNITS.update({k: "s" for k in SETUP_LAYERS})
LAYER_UNITS.update({f"{s}.{k}": u for s in workloads.SLOTS for k, u in SLOT_LAYERS.items()})


def isolate_scratch(root: str) -> None:
    """Point every temporary file of the driver, the JVM and the Python
    workers into the checkout."""
    import tempfile

    tmp = os.path.join(root, "perfbench", "_work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    tempfile.tempdir = None


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the JVM
    and its Python workers), sampled from /proc.  Each process counts
    with its own high-water mark (VmHWM), so a peak of the long-lived
    driver and JVM between two samples is not missed."""

    def __init__(self, interval: float = 0.5):
        self.interval, self.peak = interval, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _loop(self):
        while not self._stop.wait(self.interval):
            self.peak = max(self.peak, self.sample())

    @staticmethod
    def sample() -> int:
        total = 0
        for pid in tree_pids():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue
        return total


def tree_pids() -> list[int]:
    """This process and all its descendants: the JVM and, below it, the
    Python worker daemon and its workers."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system) the process tree has used so far,
    reaped children included: workers the daemon forked and reaped
    count through its cutime/cstime."""
    ticks = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests, summed over this
    machine's CPUs: time the run waited for a CPU it was not given."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def setup(ctx_args: dict, t_start: float) -> tuple[dict, object, object]:
    """The cold set-up, timed from ``t_start``: imports, session ready
    (JVM launch included), package shipped, Python workers warm, mapping
    loaded and compiled.  Returns (phase seconds, spark, graph)."""
    import pandas as pd

    from ont_d2rq_spark.graph import VirtualGraph
    from ont_d2rq_spark.mapping.ttl import load_mapping_ttl
    from ont_d2rq_spark.session import get_spark, ship_package

    n = nproc()
    phases, t = {}, t_start

    def lap(name):
        nonlocal t
        now = time.perf_counter()
        phases[name] = now - t
        t = now

    lap("session.start_s")
    spark = get_spark(app="perfbench", master=f"local[{n}]")
    lap("session.get_spark_s")
    ship_package(spark)
    lap("session.ship_package_s")
    spark.range(n * 2, numPartitions=n).mapInPandas(
        lambda it: (pd.DataFrame({"id": [0]}) for _ in it), "id long"
    ).count()
    lap("session.worker_warmup_s")
    mapping = load_mapping_ttl(ctx_args["ttl_path"], base_dir=ctx_args["data_dir"])
    lap("mapping.load_s")
    graph = VirtualGraph(mapping, spark)
    lap("compiler.compile_s")
    return phases, spark, graph


def run_op(ctx: workloads.Context, op: workloads.Op, op_id: int, tracer: Tracer | None) -> dict:
    sample = {"op": op_id, "slot": op.slot, "kind": op.kind, "ok": False}
    sc = ctx.spark.sparkContext
    if tracer is not None:
        tracer.op = op_id
        sc.setJobGroup(f"perfbench-{op_id}", op.kind)
    t0_wall = time.time() * 1000
    cpu0, steal0 = tree_cpu_s(), steal_s()
    t0 = time.perf_counter()
    try:
        if op.compile is None:
            tc = t0
            planned = op.plan()
        else:
            compiled = op.compile()
            tc = time.perf_counter()
            planned = op.plan(compiled)
        t1 = time.perf_counter()
        out = op.execute(planned)
        t2 = time.perf_counter()
    except Exception:
        sample["error"] = traceback.format_exc(limit=5)
        return sample
    finally:
        if tracer is not None:
            tracer.op = -1
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
    sample.update(wall_s=t2 - t0, compile_s=tc - t0, plan_s=t1 - tc, exec_s=t2 - t1,
                  cpu_s=tree_cpu_s() - cpu0, steal_s=steal_s() - steal0)
    try:
        sample["ok"] = bool(op.check(out))
        sample["items"] = op.items(out)
    except Exception:
        sample["error"] = traceback.format_exc(limit=5)
    sample["check_s"] = time.perf_counter() - t2
    if tracer is not None:
        spans = tracer.op_spans(op_id)
        top = [s.module for s in spans if s.parent is None]
        stats = job_stats(ctx.spark, f"perfbench-{op_id}", t0_wall, spans, tracer.epoch,
                          top[-1] if top else "benchmark")
        stats["driver_gap_s"] = max(sample["wall_s"] - stats["job_s"], 0.0)
        sample["stats"] = stats
        if op.candidates is not None and sample["ok"]:
            sample["candidates"], sample["kept"] = op.candidates(out), len(out[1])
    try:
        op.cleanup(out)
    except Exception:
        sample["error"] = traceback.format_exc(limit=5)
        sample["ok"] = False
    return sample


def median(xs):
    return statistics.median(xs) if xs else 0.0


def e2e_metrics(phases: dict, samples: list[dict], peak_rss: int) -> dict:
    # the round metrics are the first round only, so that they mean the
    # same work on a tree fast enough to fit further rounds into --seconds
    first = [s for s in samples if s["round"] == 0]
    return {"setup_s": sum(phases.values()),
            "round_cpu_s": sum(s.get("cpu_s", 0.0) for s in first),
            "peak_rss_mb": peak_rss / 2**20,
            "round_s": sum(s.get("wall_s", 0.0) for s in first),
            "round_steal_s": sum(s.get("steal_s", 0.0) for s in first)}


def named_metrics(workload, e2e: dict, samples: list[dict]) -> dict:
    """The end-to-end metrics under their per-operation names (value,
    unit, sample count); printed to stderr and kept in the artifact."""
    out = {k: (e2e[k], "MB" if k == "peak_rss_mb" else "s", 1) for k in e2e}
    out["error_rate"] = (sum(not s["ok"] for s in samples) / max(len(samples), 1), "ratio",
                         len(samples))
    for name, unit, per_item in workload.named:
        ok = [s for s in samples if s["ok"] and s["kind"].split(":")[0] == name]
        walls = sorted(s["wall_s"] for s in ok)
        if per_item:
            rate = sum(s["items"] for s in ok) / sum(walls) if walls else None
            out[f"{name}.{unit.replace('/', '_per_')}"] = (rate, unit, len(walls))
            continue
        scale = 1e3 if unit == "ms" else 1.0
        out[f"{name}.p50_{unit}"] = (median(walls) * scale if walls else None, unit, len(walls))
        # p90 needs at least ten samples beyond it
        p90 = walls[int(0.9 * len(walls))] * scale if len(walls) >= 100 else None
        out[f"{name}.p90_{unit}"] = (p90, unit, len(walls))
    return out


def layer_metrics(phases: dict, samples: list[dict]) -> dict:
    out = dict(phases)
    traced = [s for s in samples if s["ok"] and "stats" in s]
    for slot in workloads.SLOTS:
        mine = [s for s in traced if s["slot"] == slot]
        for key in SLOT_LAYERS:
            if key in ("wall_s", "cpu_s", "compile_s", "plan_s", "exec_s"):
                vals = [s[key] for s in mine]
            elif key == "input_rows_per_item":
                vals = [s["stats"]["input_rows"] / max(s["items"], 1) for s in mine]
            else:
                vals = [s["stats"][key] for s in mine]
            out[f"{slot}.{key}"] = median(vals)
    out["gc_s"] = sum(s["stats"]["gc_s"] for s in traced)
    out["spill_bytes"] = sum(s["stats"]["spill_bytes"] for s in traced)
    return out


def layer_table(samples: list[dict], tracer: Tracer) -> dict:
    """Per-operation-kind table for the trace artifact: span self times
    per module function, job counts and job time per program module, and
    candidate precision where an operator reports candidates."""
    table: dict[str, dict] = {}
    for s in samples:
        if "stats" not in s:
            continue
        row = table.setdefault(s["kind"], {"n": 0, "self_s": {}, "module_jobs": {},
                                            "module_job_s": {}, "stats": {}})
        row["n"] += 1
        for k, v in self_times(tracer.op_spans(s["op"])).items():
            row["self_s"][k] = row["self_s"].get(k, 0.0) + v
        for k in ("module_jobs", "module_job_s"):
            for m, v in s["stats"][k].items():
                row[k][m] = row[k].get(m, 0) + v
        for k, v in s["stats"].items():
            if not isinstance(v, dict):
                row["stats"][k] = row["stats"].get(k, 0) + v
        for k in ("compile_s", "plan_s", "exec_s", "wall_s", "cpu_s", "items", "candidates", "kept"):
            if k in s:
                row["stats"][k] = row["stats"].get(k, 0) + s[k]
    for row in table.values():  # sums → per-operation means
        n = row["n"]
        for part in ("self_s", "module_jobs", "module_job_s", "stats"):
            row[part] = {k: v / n for k, v in row[part].items()}
        st = row["stats"]
        if st.get("candidates"):
            st["candidate_precision"] = st["kept"] / st["candidates"]
        st["input_rows_per_item"] = st["input_rows"] / max(st.get("items", 0), 1)
    return table


def provenance(spark, seed: int, root: str) -> dict:
    import subprocess

    import pyarrow

    stamp = {"seed": seed, "date": datetime.now(timezone.utc).isoformat(timespec="seconds"),
             "nproc": nproc(), "spark": spark.version, "pyarrow": pyarrow.__version__,
             "spark.driver.memory": spark.conf.get("spark.driver.memory", None)}
    with open("/proc/meminfo") as f:
        stamp["ram_mb"] = int(f.readline().split()[1]) // 1024
    stamp["commit"] = stamp["dirty"] = None
    if os.path.exists(os.path.join(root, ".git")):  # a plain checkout has only source_md5

        def git(*cmd):
            return subprocess.run(["git", "-C", root, *cmd], capture_output=True, text=True,
                                  check=True, timeout=30).stdout.strip()

        try:
            stamp["commit"] = git("rev-parse", "HEAD")
            stamp["dirty"] = bool(git("status", "--porcelain"))
        except (OSError, subprocess.SubprocessError):
            pass
    stamp["source_md5"] = _source_hash(root)
    return stamp


def _source_hash(root: str) -> str:
    """Content hash of the program and benchmark sources, for checkouts
    that are not git repositories."""
    import hashlib

    paths = []
    for top in ("ont_d2rq_spark", "perfbench"):
        for dirpath, dirs, files in os.walk(os.path.join(root, top)):
            # pruned in place, so the walk skips _work and caches
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            paths += [os.path.join(dirpath, fn) for fn in files if fn.endswith((".py", ".json"))]
    h = hashlib.md5()
    for path in sorted(paths):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def untraced_medians(out_dir: str, workload: str, scale: float, source_md5: str) -> dict:
    """Medians of the untraced runs of this workload, data scale and
    source tree that had no failed operation."""
    vals: dict[str, list] = {}
    for fn in os.listdir(out_dir):
        if fn.startswith(f"run-{workload}-") and fn.endswith("-trace0.json"):
            with open(os.path.join(out_dir, fn)) as f:
                a = json.load(f)
            if (a["scale"] == scale and a.get("failed") == 0
                    and a["provenance"]["source_md5"] == source_md5):
                for k, v in a["metrics"].items():
                    vals.setdefault(k, []).append(v)
    return {k: statistics.median(v) for k, v in vals.items()}


def write_mapping_ttl(data_dir: str, out_dir: str) -> str:
    """The tpch mapping as a d2rq Turtle file, the input ``dump-rdf``
    reads.  Turtle carries no inline translation pairs, so the segment
    translation table goes to a CSV file it references by d2rq:href."""
    import csv

    from ont_d2rq_spark.examples import tpch_mapping
    from ont_d2rq_spark.mapping.model import TranslationTable
    from ont_d2rq_spark.mapping.serialize import to_ttl

    os.makedirs(out_dir, exist_ok=True)
    mapping = tpch_mapping(data_dir)
    for name, tt in list(mapping.translation_tables.items()):
        path = os.path.join(out_dir, f"{name}.csv")
        with open(path, "w", newline="") as f:
            csv.writer(f).writerows(tt.load_pairs().items())
        mapping.translation_tables[name] = TranslationTable(name=name, href=path)
    ttl_path = os.path.join(out_dir, "tpch.ttl")
    with open(ttl_path, "w") as f:
        f.write(to_ttl(mapping))
    return ttl_path


def run(args, root: str, t_start: float) -> tuple[dict, int]:
    work = os.path.join(root, "perfbench", "_work")
    out_dir = os.path.join(work, "out")
    os.makedirs(out_dir, exist_ok=True)
    workload = workloads.WORKLOADS[args.workload]()
    scale = args.scale or workload.scale
    # the benchmark's own preparation is left out of the set-up time
    t_prep = time.perf_counter()
    data_dir = data.ensure(os.path.join(work, "data"), scale)
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    ttl_path = write_mapping_ttl(data_dir, run_dir)
    ctx_args = {"ttl_path": ttl_path, "data_dir": data_dir}
    tracer = Tracer() if args.trace else None
    if tracer is not None:
        tracer.install()
    prep_s = time.perf_counter() - t_prep
    rng = np.random.default_rng(args.seed)
    samples: list[dict] = []
    timeline = {}

    def mark(name):
        timeline[name] = time.perf_counter() - t_begin

    t_begin = t_start
    with RssSampler() as rss:
        phases, spark, graph = setup(ctx_args, t_start + prep_s)
        mark("setup")
        ctx = workloads.Context(spark, graph, data_dir, run_dir, ttl_path,
                                oracle.Oracle(data_dir), oracle.load_expected(scale))
        try:
            workload.prepare(ctx, rng)
            mark("prepare")
            t0 = time.perf_counter()
            n_round = 0
            while not samples or time.perf_counter() - t0 < args.seconds:
                for op in workload.round(ctx, rng):
                    if args.corrupt and not samples:
                        op = _corrupted(op)
                    samples.append(run_op(ctx, op, len(samples), tracer) | {"round": n_round})
                n_round += 1
            mark("measure")
            stamp = provenance(spark, args.seed, root)
        finally:
            ctx.oracle.close()
            spark.stop()
            _stop_jvm()
            shutil.rmtree(run_dir, ignore_errors=True)
            mark("stop")
    if tracer is not None:
        tracer.uninstall()
    e2e = e2e_metrics(phases, samples, rss.peak)
    named = named_metrics(workload, e2e, samples)
    for name, (value, unit, n) in named.items():
        shown = "n/a" if value is None else f"{value:.6g}"
        print(f"perfbench: {args.workload}: {name} = {shown} {unit} (n={n})", file=sys.stderr)
    failed = sum(not s["ok"] for s in samples)
    tag = f"{args.workload}-seed{args.seed}-{int(time.time())}-trace{int(args.trace)}"
    artifact = {"provenance": stamp, "workload": args.workload, "slots": workload.slots,
                "scale": scale, "setup": phases, "prep_s": prep_s, "timeline": timeline,
                "metrics": e2e, "failed": failed, "named": named, "samples": samples}
    if tracer is not None:
        layers = layer_metrics(phases, samples)
        base = untraced_medians(out_dir, args.workload, scale, stamp["source_md5"])
        overhead = {k: {"traced": v, "untraced_median": base[k], "delta": v - base[k]}
                    for k, v in e2e.items() if k in base}
        for k, o in overhead.items():
            print(f"perfbench: tracing overhead {k}: {o['delta']:+.4g} "
                  f"({o['traced']:.4g} traced vs {o['untraced_median']:.4g} untraced median)",
                  file=sys.stderr)
        if not overhead:
            print("perfbench: tracing overhead: no untraced run of this tree", file=sys.stderr)
        artifact.update(layers=layers, overhead=overhead or "no untraced run of this tree",
                        layer_table=layer_table(samples, tracer),
                        spans=[vars(s) for s in tracer.spans])
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    with open(os.path.join(out_dir, f"run-{tag}.json"), "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    result = {"correct": failed == 0, "attempted": len(samples), "failed": failed,
              "metrics": metrics}
    return result, (0 if failed == 0 else 1)


def _stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM to exit: it reads
    its standard input until end of file, so closing the pipe ends it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _corrupted(op: workloads.Op) -> workloads.Op:
    """Self-test hook: the same operation with one result row removed
    (or one bogus line added to a dump) before the check sees it."""

    def execute(planned):
        out = op.execute(planned)
        if isinstance(out, str):
            with open(os.path.join(out, "part-99999-corrupt"), "w") as f:
                f.write("<x:s> <x:p> <x:o> .\n")
            return out
        if isinstance(out, list):  # lookup: two (columns, rows) results
            (c1, r1), second = out
            return [(c1, r1[:-1] if r1 else [("corrupt",) * len(c1)]), second]
        cols, rows = out
        return cols, rows[:-1] if rows else [("corrupt",) * len(cols)]

    return dataclasses.replace(op, execute=execute)
