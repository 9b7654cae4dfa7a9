"""The two workloads and their operations.

Each workload runs rounds of operations in a closed loop with one client:
an operation is issued only after the previous one returned.  Every
operation fills one of four result slots, ``a``–``d``; the per-layer
metrics are reported per slot, so both workloads print the same metric
names (README.md maps each slot to its operation).

An operation is split in up to three timed parts: ``compile`` (dumps
only: load the mapping and construct a ``VirtualGraph``), ``plan`` (the
program builds its DataFrame; for some operators this already runs jobs)
and ``execute`` (the action that materialises the result).  ``check``
compares the result with an expected value fixed before timing started
and runs untimed, as does ``cleanup``.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Any, Callable

from perfbench import oracle

SLOTS = ("a", "b", "c", "d")
EX = oracle.EX
# The registry's SPARQL shapes, less sparql_path_star and sparql_graph:
# those two take 12 of the 21 seconds a pass over all ten needs here,
# more than a run can spend (README.md, "Time budget").
SPARQL_SHAPES = [
    "sparql_select",
    "sparql_agg",
    "sparql_filter_lang",
    "sparql_path",
    "sparql_construct",
    "sparql_exists",
    "sparql_values_undef",
    "sparql_nested_optional",
]
LOOKUPS_PER_ROUND = 2
MINHASH = dict(threshold=0.5, num_hashes=64, bands=16, shingle_n=3)


@dataclass
class Op:
    slot: str
    kind: str
    plan: Callable[[], Any]
    execute: Callable[[Any], Any]
    check: Callable[[Any], bool]
    items: Callable[[Any], int]
    cleanup: Callable[[Any], None] = lambda out: None
    # traced runs only: candidate pairs behind the result, counted untimed
    candidates: Callable[[Any], int] | None = None
    # timed before plan, which then receives its result
    compile: Callable[[], Any] | None = None


@dataclass
class Context:
    spark: Any
    graph: Any  # the long-lived VirtualGraph compiled during set-up
    data_dir: str
    work_dir: str
    ttl_path: str
    oracle: oracle.Oracle
    expected: dict


def _collect(df):
    return df.columns, df.collect()


def _rows_match(expected):
    return lambda out: oracle.rowset(*out) == expected


class GraphWorkload:
    """Mapping → triples: ``dump-rdf`` dumps (write path) and interactive
    ``find``/SPARQL over one long-lived graph (read path)."""

    name = "graph"
    scale = 1.0
    # (operation kind, unit, rate per item?) of the per-operation metrics
    named = [("dump", "triples/s", True), ("dump_distinct", "triples/s", True),
             ("lookup", "ms", False), ("sparql", "s", False)]
    slots = {
        "a": "dump: fresh VirtualGraph from the TTL mapping, dump_nt, distinct='auto'",
        "b": "dump_distinct: the same with distinct=True (the dump-rdf default)",
        "c": "lookup: find(s=customer/k) then find(p=inNation, o=nation/n)",
        "d": "sparql: one registry SPARQL shape through sparql.execute",
    }

    def prepare(self, ctx: Context, rng) -> None:
        from ont_d2rq_spark import queries, sparql

        n_cust = ctx.oracle.con.sql("SELECT count(*) FROM customer").fetchone()[0]
        self.keys = [(int(rng.integers(0, n_cust)), int(rng.integers(0, 25)))
                     for _ in range(LOOKUPS_PER_ROUND * 8)]
        self.expected_lookup = {}
        for k, n in self.keys:
            self.expected_lookup[("s", k)] = ctx.oracle.rows(oracle.find_subject_sql(k))
            self.expected_lookup[("n", n)] = ctx.oracle.rows(oracle.find_by_nation_sql(n))
        # the registry functions build a graph and call sparql.execute;
        # capture their query text instead, to run it on the shared graph
        self.sparql_text, captured = {}, []
        real_graph, real_execute = queries._graph, sparql.execute
        queries._graph, sparql.execute = (lambda spark, d: None), (lambda g, q: captured.append(q))
        try:
            for shape in SPARQL_SHAPES:
                queries.QUERIES[shape](ctx.spark, ctx.data_dir)
                self.sparql_text[shape] = captured.pop()
        finally:
            queries._graph, sparql.execute = real_graph, real_execute
        sql = queries.oracles()
        self.expected_sparql = {s: ctx.oracle.rows(sql[s]) for s in SPARQL_SHAPES}
        self.dump = ctx.expected["dump"]
        self.lookups_done = 0

    def _dump_op(self, ctx: Context, slot: str, distinct) -> Op:
        from ont_d2rq_spark.graph import VirtualGraph
        from ont_d2rq_spark.mapping.ttl import load_mapping_ttl

        out_dir = os.path.join(ctx.work_dir, "dump")

        def compile():
            return VirtualGraph(load_mapping_ttl(ctx.ttl_path, base_dir=ctx.data_dir), ctx.spark)

        def plan(g):
            return g, g.triples(fuse=True, distinct=distinct)

        def execute(planned):
            g, triples = planned
            g.dump_nt(out_dir, triples)
            return out_dir

        def check(path):
            return list(oracle.checksum(oracle.read_text_dir(path))) == self.dump

        return Op(slot, "dump" if slot == "a" else "dump_distinct", plan, execute, check,
                  items=lambda path: self.dump[0],
                  cleanup=lambda path: shutil.rmtree(path, ignore_errors=True), compile=compile)

    def _lookup_op(self, ctx: Context) -> Op:
        k, n = self.keys[self.lookups_done % len(self.keys)]
        self.lookups_done += 1
        g = ctx.graph

        def plan():
            return g.find(s=f"{EX}customer/{k}"), g.find(p=f"{EX}inNation", o=f"{EX}nation/{n}")

        def check(out):
            (c1, r1), (c2, r2) = out
            return (oracle.rowset(c1, r1) == self.expected_lookup[("s", k)]
                    and oracle.rowset(c2, r2) == self.expected_lookup[("n", n)])

        return Op("c", "lookup", plan, lambda dfs: [_collect(df) for df in dfs], check,
                  items=lambda out: len(out[0][1]) + len(out[1][1]))

    def _sparql_op(self, ctx: Context, shape: str) -> Op:
        from ont_d2rq_spark.sparql import execute

        return Op("d", f"sparql:{shape}",
                  lambda: execute(ctx.graph, self.sparql_text[shape]), _collect,
                  _rows_match(self.expected_sparql[shape]), items=lambda out: len(out[1]))

    def round(self, ctx: Context, rng) -> list[Op]:
        # The dumps open each round in a fixed order: the first one pays
        # the JIT warm-up of the fused plan, as a one-shot dump-rdf does.
        queries = [self._lookup_op(ctx) for _ in range(LOOKUPS_PER_ROUND)]
        queries += [self._sparql_op(ctx, s) for s in SPARQL_SHAPES]
        order = rng.permutation(len(queries))
        return [self._dump_op(ctx, "a", "auto"), self._dump_op(ctx, "b", True)] + [
            queries[i] for i in order
        ]


class KgWorkload:
    """Doc → KG pipeline and the near-dup operators: the Arrow Python
    kernels, iterative connected components and LSH self-joins."""

    name = "kg_build"
    scale = 1.0
    named = [("kg", "triples/s", True), ("minhash", "docs/s", True),
             ("minhash_md5", "docs/s", True), ("lsh", "vectors/s", True)]
    slots = {
        "a": "kg: build_kg(root=None), collected",
        "b": "minhash: minhash_dedup, xxhash64 family",
        "c": "minhash_md5: minhash_dedup, md5 family",
        "d": "lsh: embedding_near_dup_lsh (lsh_near_dup_pairs with stats)",
    }

    def prepare(self, ctx: Context, rng) -> None:
        from ont_d2rq_spark import queries

        sql = queries.oracles()
        self.expected_rows = {
            k: ctx.oracle.rows(sql[k])
            for k in ("pipeline_kg", "minhash_dedup", "embedding_near_dup_lsh")
        }
        self.minhash_xx = ctx.expected["minhash_xxhash64"]
        count = "SELECT count(*) FROM {}"
        self.n_docs = ctx.oracle.con.sql(count.format("documents")).fetchone()[0]
        self.n_vecs = ctx.oracle.con.sql(count.format("embeddings")).fetchone()[0]

    def _kg_op(self, ctx: Context) -> Op:
        from ont_d2rq_spark.pipeline.docs import build_kg

        return Op("a", "kg", lambda: build_kg(ctx.spark, ctx.data_dir, root=None), _collect,
                  _rows_match(self.expected_rows["pipeline_kg"]),
                  items=lambda out: len(out[1]),
                  # build_kg leaves its stage caches persisted
                  cleanup=lambda out: ctx.spark.catalog.clearCache())

    def _minhash_op(self, ctx: Context, family: str) -> Op:
        from ont_d2rq_spark.operators.dedup import minhash_dedup
        from ont_d2rq_spark.sources.tables import balanced_read

        def plan():
            docs = balanced_read(ctx.spark, f"{ctx.data_dir}/documents.parquet")
            return minhash_dedup(docs, hash_family=family, **MINHASH)

        if family == "md5":
            check = _rows_match(self.expected_rows["minhash_dedup"])
        else:
            def check(out):
                return list(oracle.checksum(oracle.rows_as_lines(*out))) == self.minhash_xx

        return Op("b" if family == "xxhash64" else "c",
                  "minhash" if family == "xxhash64" else "minhash_md5",
                  plan, _collect, check, items=lambda out: self.n_docs,
                  candidates=lambda out: minhash_candidates(ctx.spark, ctx.data_dir, family))

    def _lsh_op(self, ctx: Context) -> Op:
        from ont_d2rq_spark.queries import QUERIES

        def candidates(out):
            cols, rows = out
            return rows[0][cols.index("n_candidates")] if rows else 0

        return Op("d", "lsh", lambda: QUERIES["embedding_near_dup_lsh"](ctx.spark, ctx.data_dir),
                  _collect, _rows_match(self.expected_rows["embedding_near_dup_lsh"]),
                  items=lambda out: self.n_vecs, candidates=candidates)

    def round(self, ctx: Context, rng) -> list[Op]:
        # Fixed order: a run measures about one round, and the first
        # operation pays the one-time costs (JIT, kernel imports in the
        # Python workers); a seeded order would move them between slots.
        return [self._kg_op(ctx), self._minhash_op(ctx, "xxhash64"),
                self._minhash_op(ctx, "md5"), self._lsh_op(ctx)]


WORKLOADS = {w.name: w for w in (GraphWorkload, KgWorkload)}


def minhash_candidates(spark, data_dir: str, family: str) -> int:
    """Candidate pairs the MinHash banding emits before verification
    (untimed, traced runs only): the denominator of candidate precision."""
    from pyspark.sql import functions as F

    from ont_d2rq_spark.operators.dedup import minhash_prep
    from ont_d2rq_spark.sources.tables import balanced_read

    docs = balanced_read(spark, f"{data_dir}/documents.parquet")
    prep = minhash_prep(docs, "text", "doc_id", MINHASH["num_hashes"], MINHASH["bands"],
                        MINHASH["shingle_n"], family)
    banded = prep.select("id", F.posexplode("buckets").alias("band", "bucket"))
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.id") < F.col("b.id")))
        .select("a.id", "b.id").distinct().count()
    )
