"""Transitive closure over an edge DataFrame — the engine behind the
SPARQL `p+` property path (reference: ARQ evaluates property paths in
memory after D2RQ's BGP translation; here the closure is a distributed
iterated-squaring join).

Iterated squaring: after round i the result holds every path of length
≤ 2^i, so rounds = ⌈log2(diameter)⌉ — 20 rounds cover diameter 1M.
Each round is one self-join + distinct (shuffle on the join key),
stored (checkpoint.stored) to truncate lineage as in operators/cc.py;
the convergence count reads the stored blocks.

Scale: the result can be quadratic in the worst case (dense DAG);
for the sparse hierarchies property paths traverse (type trees,
part-of chains) it stays near-linear.  AQE handles skewed hub nodes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ont_d2rq_spark.checkpoint import stored


def transitive_closure(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 20,
    broadcast_rows: int = 100_000,
) -> DataFrame:
    """→ all (src, dst) connected by a directed path of length ≥ 1
    (a node on a cycle reaches itself, per SPARQL `p+` semantics).

    The result is a stored (checkpointed) RDD, which carries NO Catalyst
    stats — a small closure (the common type-tree / geo-hierarchy
    case) would silently lose broadcast eligibility and drag a
    low-cardinality SortMergeJoin over whatever joins it.  The
    convergence loop knows the exact row count, so a result under
    ``broadcast_rows`` self-hints broadcast."""
    e = stored(edges.select(src, dst).distinct())
    n = e.count()
    result = e
    for _ in range(max_iterations):
        step = (
            result.alias("a")
            .join(result.alias("b"), F.col(f"a.{dst}") == F.col(f"b.{src}"))
            .select(F.col(f"a.{src}").alias(src), F.col(f"b.{dst}").alias(dst))
        )
        grown = stored(result.unionByName(step).distinct())
        n2 = grown.count()
        result = grown
        if n2 == n:
            break
        n = n2
    return F.broadcast(result) if n <= broadcast_rows else result


def closure_from(
    edges: DataFrame,
    seed: str,
    src: str = "src",
    dst: str = "dst",
    reverse: bool = False,
    max_rounds: int = 64,
    broadcast_rows: int = 100_000,
) -> DataFrame | None:
    """Seeded reachability — all (seed, x) with a directed path
    seed →+ x.  The scale path for a property-path pattern with a BOUND
    endpoint (`<n> p+ ?x`, `?x p+ <n>` via ``reverse``): a frontier BFS
    touches only the seed's reachable subgraph, where the global
    iterated-squaring closure would materialize every node's
    reachability set (quadratic on dense graphs) just to filter one
    row group out of it.

    Each round is one frontier-sized hash join + anti-join against the
    reached set — the frontier is broadcast-sized in the common
    hierarchy case, so rounds cost near-nothing beside the edge scan.
    Rounds equal the reachable subgraph's DEPTH (not log-diameter);
    ``max_rounds`` bounds the job count, and a frontier still alive at
    the cap returns None — the caller falls back to the global
    closure, which covers diameter 2^20 in 20 rounds.  A node on a
    cycle through the seed re-enters the reached set once (anti-join),
    so `p+` cycle semantics hold."""
    a, b = (dst, src) if reverse else (src, dst)
    e = stored(edges.select(F.col(a).alias("src"), F.col(b).alias("dst")).distinct())
    frontier = stored(
        e.filter(F.col("src") == F.lit(seed)).select(F.col("dst").alias("n")).distinct()
    )
    n_reached = frontier.count()
    if n_reached == 0:
        return frontier.select(F.lit(seed).alias("src"), F.col("n").alias("dst"))
    reached = frontier
    for _ in range(max_rounds):
        new = stored(
            frontier.join(e, frontier["n"] == e["src"])
            .select(F.col("dst").alias("n"))
            .distinct()
            .join(reached, "n", "left_anti")
        )
        n_new = new.count()
        if n_new == 0:
            out = reached.select(F.lit(seed).alias("src"), F.col("n").alias("dst"))
            if reverse:
                out = out.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            # The reach set is point-lookup sized for hierarchies, but a
            # hub seed on a dense graph can reach millions of nodes well
            # inside the depth cap — an unconditional broadcast hint
            # would bypass autoBroadcastJoinThreshold and OOM the
            # driver.  Hint only under the same row cap
            # transitive_closure uses; the exact count is already paid
            # for by the per-round convergence checks (ADVICE r6).
            return F.broadcast(out) if n_reached <= broadcast_rows else out
        reached = stored(reached.unionByName(new))
        n_reached += n_new
        frontier = new
    return None  # depth exceeds the cap: caller uses the global closure
