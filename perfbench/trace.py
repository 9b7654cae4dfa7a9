"""Traced-run instrumentation: spans around the program's public calls and
per-operation Spark job statistics from the status store.

Spans are kept in memory and written out when the run ends.  A span is
recorded around each call into a wrapped public function of
``ont_d2rq_spark``; every span of one benchmark operation carries that
operation's id.  Jobs are found through the job group the harness sets
per operation and attributed to the ``ont_d2rq_spark`` module at their
call site when PySpark recorded one (it names RDD actions after the
first frame outside pyspark), else to the innermost span open when the
job was submitted; jobs of an action the benchmark itself issues on a
returned DataFrame count for the module that returned it.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import re
import time
from dataclasses import dataclass, field

# (module, attribute) of every wrapped public entry point.  "Class.method"
# attributes wrap the method on the class.
WRAPPED = [
    ("ont_d2rq_spark.session", "get_spark"),
    ("ont_d2rq_spark.session", "ship_package"),
    ("ont_d2rq_spark.mapping.ttl", "load_mapping_ttl"),
    ("ont_d2rq_spark.compiler.relation", "MappingCompiler.compile"),
    ("ont_d2rq_spark.compiler.relation", "MappingCompiler.fused_df"),
    ("ont_d2rq_spark.compiler.relation", "MappingCompiler.bridge_df"),
    ("ont_d2rq_spark.compiler.relation", "MappingCompiler.prefetch_tables"),
    ("ont_d2rq_spark.sources.tables", "balanced_read"),
    ("ont_d2rq_spark.graph", "VirtualGraph.__init__"),
    ("ont_d2rq_spark.graph", "VirtualGraph.triples"),
    ("ont_d2rq_spark.graph", "VirtualGraph.find"),
    ("ont_d2rq_spark.graph", "VirtualGraph.bgp"),
    ("ont_d2rq_spark.graph", "VirtualGraph.dump_nt"),
    ("ont_d2rq_spark.sparql", "parse"),
    ("ont_d2rq_spark.sparql", "execute"),
    ("ont_d2rq_spark.pipeline.docs", "build_kg"),
    ("ont_d2rq_spark.pipeline.docs", "synthesize_interleaved"),
    ("ont_d2rq_spark.pipeline.docs", "detect_mentions"),
    ("ont_d2rq_spark.pipeline.docs", "link_entities"),
    ("ont_d2rq_spark.operators.cc", "connected_components"),
    ("ont_d2rq_spark.operators.cc", "canonicalize_sameas"),
    ("ont_d2rq_spark.operators.dedup", "minhash_prep"),
    ("ont_d2rq_spark.operators.dedup", "minhash_dedup"),
    ("ont_d2rq_spark.operators.similarity", "lsh_near_dup_pairs"),
]
PKG = "ont_d2rq_spark"
_CALL_SITE = re.compile(r"ont_d2rq_spark/([\w/]+)\.py:\d+")
_DURATION = re.compile(r"^([\d.,]+) (ms|s|m|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


@dataclass
class Span:
    idx: int
    op: int
    name: str
    module: str
    start: float
    end: float = 0.0
    parent: int | None = None


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    op: int = -1
    # time.time() - time.perf_counter(): maps span times to job timestamps
    epoch: float = field(default_factory=lambda: time.time() - time.perf_counter())
    _stack: list[int] = field(default_factory=list)
    _undo: list = field(default_factory=list)

    def install(self) -> None:
        """Wrap every entry of WRAPPED, in its home module and in every
        loaded package module that imported it by name."""
        import sys

        for mod_name, attr in WRAPPED:
            mod = importlib.import_module(mod_name)
            owner, name = mod, attr
            if "." in attr:
                cls_name, name = attr.split(".")
                owner = getattr(mod, cls_name)
            orig = inspect.getattr_static(owner, name)
            wrapped = self._wrap(orig, mod_name[len(PKG) + 1 :], attr)
            setattr(owner, name, wrapped)
            self._undo.append((owner, name, orig))
            if owner is mod:
                for other in list(sys.modules.values()):
                    if (
                        other is not mod
                        and getattr(other, "__name__", "").startswith(PKG)
                        and other.__dict__.get(name) is orig
                    ):
                        setattr(other, name, wrapped)
                        self._undo.append((other, name, orig))

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._undo):
            setattr(owner, name, orig)
        self._undo.clear()

    def _wrap(self, fn, module: str, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name, module):
                return fn(*args, **kwargs)

        return traced

    @contextlib.contextmanager
    def span(self, name: str, module: str):
        s = Span(len(self.spans), self.op, name, module, time.perf_counter(),
                 parent=self._stack[-1] if self._stack else None)
        self.spans.append(s)
        self._stack.append(s.idx)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def op_spans(self, op: int) -> list[Span]:
        return [s for s in self.spans if s.op == op]


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds per "module.function", minus the part of each span's
    interval that its child spans cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered = union_length([(c.start, c.end) for c in children.get(s.idx, [])])
        key = f"{s.module}.{s.name}"
        out[key] = out.get(key, 0.0) + max(s.end - s.start - covered, 0.0)
    return out


def union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _opt(o):
    return o.get() if o.isDefined() else None


def _seconds(text: str) -> float:
    """Total of a formatted SQL timing metric ('10.0 s (min, med, max…)',
    or 'total (min, med, max …)\\n74 ms (…)')."""
    last = text.strip().split("\n")[-1]
    m = _DURATION.match(last)
    return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)] if m else 0.0


def _module_at(t: float, spans: list[Span], default: str) -> str:
    """Module of the innermost span open at perf-counter time ``t``."""
    open_spans = [s for s in spans if s.start <= t <= s.end]
    return max(open_spans, key=lambda s: s.start).module if open_spans else default


def job_stats(spark, group: str, t0_wall_ms: float, spans: list[Span], epoch: float,
              default_module: str) -> dict:
    """Statistics of every job in ``group``: counts, engine times, and the
    per-module split of job time."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jobs, stage_ids = [], set()
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        jd = store.job(jid)
        sub, done = _opt(jd.submissionTime()), _opt(jd.completionTime())
        if sub is None or done is None:
            continue
        m = _CALL_SITE.search(jd.name() or "")
        module = (m.group(1).replace("/", ".") if m
                  else _module_at(sub.getTime() / 1e3 - epoch, spans, default_module))
        jobs.append((sub.getTime(), done.getTime(), module))
        sids = jd.stageIds()
        stage_ids.update(sids.apply(i) for i in range(sids.size()))
    out = {
        "jobs": len(jobs),
        "tasks": 0,
        "executor_cpu_s": 0.0,
        "gc_s": 0.0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
        "input_rows": 0,
    }
    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:  # stage evicted from the status store
            continue
        if str(sd.status()) == "SKIPPED":
            continue
        out["tasks"] += sd.numCompleteTasks()
        out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
        out["gc_s"] += sd.jvmGcTime() / 1e3
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        out["input_rows"] += sd.inputRecords()
    intervals = [(s / 1e3, e / 1e3) for s, e, _ in jobs]
    out["job_s"] = union_length(intervals)
    out["first_job_s"] = (min(s for s, _ in intervals) - t0_wall_ms / 1e3) if jobs else 0.0
    modules: dict[str, list] = {}
    for s, e, mod in jobs:
        modules.setdefault(mod, []).append((s / 1e3, e / 1e3))
    out["module_jobs"] = {m: len(iv) for m, iv in modules.items()}
    out["module_job_s"] = {m: union_length(iv) for m, iv in modules.items()}
    out["python_udf_s"] = _python_udf_s(spark, group)
    return out


def _python_udf_s(spark, group: str) -> float:
    """'time to run Python workers' summed over the Python plan nodes of
    every SQL execution whose jobs belong to ``group``."""
    sc = spark.sparkContext
    job_ids = set(sc.statusTracker().getJobIdsForGroup(group))
    if not job_ids:
        return 0.0
    ss = spark._jsparkSession.sharedState().statusStore()
    total = 0.0
    execs = ss.executionsList()
    for i in range(execs.size()):
        ex = execs.apply(i)
        ex_jobs = ex.jobs().keySet().toList()
        if not any(ex_jobs.apply(k) in job_ids for k in range(ex_jobs.size())):
            continue
        values = ss.executionMetrics(ex.executionId())
        nodes = ss.planGraph(ex.executionId()).allNodes()
        for k in range(nodes.size()):
            node = nodes.apply(k)
            metrics = node.metrics()
            for j in range(metrics.size()):
                mt = metrics.apply(j)
                if mt.name() == "time to run Python workers":
                    v = values.get(mt.accumulatorId())
                    if v.isDefined():
                        total += _seconds(v.get())
    return total
