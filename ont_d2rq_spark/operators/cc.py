"""Connected components via alternating large-star / small-star.

The canonicalization step of the north-star pipeline (SURVEY.md §7.4 ④):
candidate owl:sameAs edges → equivalence classes → canonical member.

Algorithm (Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC'14 — public literature; no Spark built-in exists):

  large-star: for each edge (u,v) attach every neighbor larger than u
              to u's current minimum neighbor;
  small-star: re-orient edges toward each node's minimum neighbor.

Both rounds are groupBy-aggregate + re-emission — pure shuffles on the
node id, no driver-side state.  The loop stops at the algorithm's end
state, every component a star on its minimum node, which one aggregate
over the current iterate tests (_stars); the test runs before every
round, so an input that is already stars (the pipeline's alias graph)
runs no round at all.  Convergence in O(log^2 n) rounds (in practice a
handful); each iterate is stored (checkpoint.stored) to truncate
lineage (hard part #3: without truncation the plan doubles per round
and Catalyst analysis time explodes at scale), and the star test reads
the stored blocks.

Skew: power-law degree (hub entities) is handled by AQE skew-join plus
the fact that both stars only carry (node, min_neighbor) pairs —
the reduce is a min() aggregate, which Spark executes with map-side
partial aggregation, so a hub's fan-in is combined per-partition
before the shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window
from pyspark.sql import functions as F

from ont_d2rq_spark.checkpoint import stored


def _canon_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected → canonical directed (large id → small id), no loops."""
    u, v = F.col(src), F.col(dst)
    return (
        edges.select(
            F.greatest(u, v).alias("u"), F.least(u, v).alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """Attach all neighbors > u to min(neighbors ∪ {u})."""
    nbrs = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = nbrs.groupBy("u").agg(F.min("v").alias("mn"))
    m = m.select("u", F.least("mn", F.col("u")).alias("mn"))
    return (
        nbrs.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("mn").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Re-orient: every neighbor ≤ u (plus u itself) links to the min.

    The output is already canonically oriented, so no greatest/least
    re-canonicalization (and its extra distinct EXCHANGE) is needed
    (r7): with input rows u > v, mn = min over u's neighbors satisfies
    mn ≤ v for the (v, mn) branch — equality removed by the u ≠ v
    filter — and mn < u strictly for the (u, mn) branch; every emitted
    row therefore has u > v already.  (Both star steps preserve the
    orientation invariant: _large_star emits (v', mn) with
    v' > orig_u ≥ mn.)  Pinned by test_small_star_orientation."""
    nbrs = e.select("u", "v")  # already u > v
    m = nbrs.groupBy("u").agg(F.min("v").alias("mn"))
    return (
        nbrs.join(m, "u")
        .select(F.col("v").alias("u"), F.col("mn").alias("v"))
        .unionByName(m.select(F.col("u"), F.col("mn").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _stars(e: DataFrame) -> bool:
    """True when the canonical edge set is a set of stars, each on its
    minimum node: no u has two edges and no v is also a u.  Then every
    edge (u, v) already names u's component v.  One aggregate over the
    node ends of every edge."""
    ends = e.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("n"), F.lit(1).alias("out"), F.lit(0).alias("in")),
                F.struct(F.col("v").alias("n"), F.lit(0).alias("out"), F.lit(1).alias("in")),
            )
        ).alias("x")
    ).select("x.*")
    out, inn = F.sum("out"), F.sum("in")
    bad = (out > 1) | ((out > 0) & (inn > 0))
    return ends.groupBy("n").agg(bad.alias("bad")).filter("bad").isEmpty()


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 20,
) -> DataFrame:
    """→ DataFrame(node, component) — component = min node id reachable.

    Nodes are whatever orderable type the edge columns carry (string
    URIs or longs).  Isolated nodes don't appear (no edges → themselves
    canonical); callers union them back if needed.  Raises RuntimeError
    when the edges are not stars after ``max_iterations`` rounds.  A
    star input, such as the pipeline's alias→entity graph, costs the
    one test and no round.
    """
    e = stored(_canon_edges(edges, src, dst))
    for i in range(max_iterations + 1):
        if _stars(e):
            break
        if i == max_iterations:
            raise RuntimeError(
                f"connected components: not stars after {max_iterations} rounds"
            )
        e = stored(_small_star(_large_star(e)))
    # stars: every leaf → its center, every center → itself
    comp = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = e.select(F.col("v").alias("node")).distinct()
    return comp.unionByName(roots.select("node", F.col("node").alias("component")))


def canonicalize_sameas(
    triples_or_edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 20,
    alias_prefix: str = None,
) -> DataFrame:
    """sameAs edge list → (uri, canonical_uri) mapping, including the
    canonical member mapping to itself.  Apply with a broadcast or
    shuffle join over subj/obj to rewrite a triple table.

    ``alias_prefix``: URIs starting with it (mention-alias nodes) are
    demoted when electing the component representative, so the canonical
    id is a real entity URI whenever one is in the component.  The
    election is a window over the component, so a component's rows meet
    in one task; the pipeline's alias graph bounds that to ≤ 2 nodes
    (one surface form, one entity) per component."""
    cc = connected_components(triples_or_edges, src, dst, max_iterations)
    if alias_prefix is None:
        return cc.select(
            F.col("node").alias("uri"), F.col("component").alias("canonical_uri")
        )
    rank = F.when(F.col("node").startswith(alias_prefix), F.lit(1)).otherwise(F.lit(0))
    # representative = min (rank, uri) over the component: one shuffle
    rep = F.min(F.struct(rank.alias("r"), F.col("node").alias("n"))).over(
        Window.partitionBy("component")
    )
    return cc.select(F.col("node").alias("uri"), rep["n"].alias("canonical_uri"))


def rewrite_triples_canonical(triples: DataFrame, mapping: DataFrame) -> DataFrame:
    """Rewrite subj/obj through the canonical mapping (left joins keep
    URIs that were never merged).

    Both joins broadcast the mapping: it is the CC output — an
    ITERATIVE subplan whose size Catalyst cannot estimate, so without
    the hint it picks SortMergeJoin and the full triple table shuffles
    TWICE (measured: 30k-row map vs 27M triples chose SMJ).  An
    alias→canonical map is bounded by distinct surface forms, far below
    the triple count."""
    m_s = F.broadcast(mapping.withColumnsRenamed({"uri": "subj", "canonical_uri": "_cs"}))
    m_o = F.broadcast(mapping.withColumnsRenamed({"uri": "obj", "canonical_uri": "_co"}))
    out = (
        triples.join(m_s, "subj", "left")
        .join(m_o, "obj", "left")
        .withColumn("subj", F.coalesce("_cs", "subj"))
        .withColumn(
            "obj",
            F.when(~F.col("is_literal"), F.coalesce("_co", "obj")).otherwise(F.col("obj")),
        )
        .drop("_cs", "_co")
    )
    return out.select("subj", "pred", "obj", "obj_datatype", "obj_lang", "is_literal")
