"""Similarity search over embedding columns (array<float>).

Baseline: exact brute-force cosine top-k (one broadcast of the query
side, JVM-only arithmetic via zip_with/aggregate).
Scale path: random-hyperplane LSH bucketing (signed projections →
bit signature → candidates share a bucket in any table) — at 100 TB
the cross product is infeasible; LSH bounds each probe to its bucket.

The hyperplanes are RADEMACHER (±1 entries) derived deterministically
from md5 of (salt, table, plane, dim) — no RNG, identical planes on
every executor, every run, AND in the DuckDB oracle, which replays the
exact bucketing.  Sign projections against a ±1 matrix are a standard
SimHash-family LSH for cosine distance (Charikar 2002).  Embeddings
are quantized to integers (round(x·10⁶)) before the projection so the
bucket decision is exact integer arithmetic — bit-identical across
engines regardless of float summation order.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def _as_double(vec_col):
    return F.transform(vec_col, lambda x: x.cast("double"))


def cosine_arrow(a, b):
    """Cosine similarity of two array<double> columns, one Arrow batch
    at a time.

    Accumulates dimension by dimension in a left fold (acc = acc + x·y,
    IEEE doubles); callers round the score with F.round JVM-side.  The
    oracle rows pin the values: DuckDB recomputes the rounded scores
    of similarity_topk, ann_lsh_topk, ann_ivf_topk and
    embedding_near_dup_lsh."""
    @F.pandas_udf("double")
    def _cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        if len(va) == 0:
            return pd.Series([], dtype="float64")
        A = np.stack(va.to_numpy()).astype(np.float64)
        B = np.stack(vb.to_numpy()).astype(np.float64)
        acc = np.zeros(len(A))
        na = np.zeros(len(A))
        nb = np.zeros(len(A))
        for d in range(A.shape[1]):
            x, y = A[:, d], B[:, d]
            acc = acc + x * y
            na = na + x * x
            nb = nb + y * y
        return pd.Series(acc / (np.sqrt(na) * np.sqrt(nb)))

    # pure function; non-deterministic marking only forbids the
    # optimizer duplicating the ArrowEvalPython node around pushed
    # filters (guide §4.4)
    return _cos.asNondeterministic()(a, b)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k neighbors per query vector.  Query side is
    broadcast (queries ≪ corpus); ranking via window row_number with a
    deterministic tiebreak."""
    c = corpus.select(F.col(id_col).alias("id"), _as_double(vec_col).alias("v"))
    q = queries.select(F.col(q_id_col).alias("q_id"), _as_double(vec_col).alias("qv"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("id") != F.col("q_id"))
        .select(
            "q_id",
            "id",
            F.round(cosine_arrow(F.col("v"), F.col("qv")), 6).alias("cosine"),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def rademacher_planes(dim: int, planes: int, tables: int, salt: str = "ann") -> list:
    """±1 hyperplane entries, pure function of (salt, table, plane, dim
    index) via md5 — reproducible anywhere (incl. the DuckDB oracle).
    Returns mats[table][plane] = list[±1] of length dim."""
    mats = []
    for t in range(tables):
        tp = []
        for p in range(planes):
            signs = [
                1
                if int(hashlib.md5(f"{salt}:{t}:{p}:{d}".encode()).hexdigest()[0], 16) % 2 == 0
                else -1
                for d in range(dim)
            ]
            tp.append(signs)
        mats.append(tp)
    return mats


def quantized(vec_col):
    """round(x·10⁶) as bigint — the exact-integer view of the embedding
    used for bucket decisions (float dot products can differ across
    engines by summation order; integer sums cannot)."""
    return F.transform(
        vec_col, lambda x: F.round(x.cast("double") * 1000000, 0).cast("long")
    )


def lsh_banded(
    df: DataFrame,
    idn: str,
    mats: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """→ (idn, t, bucket): one row per (vector, table) with the
    signature bucket for that table.

    One Arrow-batched pandas UDF does the whole (batch×dim) @
    (dim×tables·planes) projection as a single numpy int64 matmul
    (a Catalyst formulation needs tables×planes `aggregate(zip_with)`
    dot products, which are CodegenFallback — interpreted per element —
    and made the projection ~5× the rest of the join combined at
    planes=8/tables=32).  Vectors are quantized with
    round-half-away-from-zero to exact int64, the same integer
    arithmetic the DuckDB oracle replays.  Caveat: numpy's
    floor(x·1e6 + 0.5) and the engines' decimal HALF_UP agree except
    when x·1e6 lands within half an ulp of k+0.5 for integer k —
    possible in principle for arbitrary doubles, never observed on the
    float32-derived fixtures; the oracle-checked query pins the
    agreement on real data each round."""
    tables, planes = len(mats), len(mats[0])
    P = np.array(mats, dtype=np.int64).reshape(tables * planes, -1)  # (t·p, dim)
    weights = 1 << np.arange(planes, dtype=np.int64)

    @F.pandas_udf("array<long>")
    def _buckets(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        M = np.stack(vecs.to_numpy()).astype(np.float64)  # (n, dim)
        # round half away from zero == Spark/DuckDB round(x, 0)
        S = M * 1e6
        Q = np.where(S >= 0, np.floor(S + 0.5), np.ceil(S - 0.5)).astype(np.int64)
        bits = (Q @ P.T > 0).astype(np.int64).reshape(len(M), tables, planes)
        B = (bits * weights).sum(axis=2)  # (n, tables)
        return pd.Series(list(B))

    return (
        df.select(F.col(id_col).alias(idn), _buckets(F.col(vec_col)).alias("_b"))
        .select(idn, F.posexplode("_b").alias("t", "bucket"))
        .select(idn, F.col("t").cast("int").alias("t"), "bucket")
    )


def _rerank(
    cand: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Exact cosine top-k over (q_id, id) candidate pairs: re-join the
    full vectors (the wide arrays never ride the candidate shuffle),
    score, and rank per query with a deterministic tiebreak."""
    cv = corpus.select(F.col(id_col).alias("id"), _as_double(vec_col).alias("id_v"))
    qv = F.broadcast(
        queries.select(F.col(id_col).alias("q_id"), _as_double(vec_col).alias("q_v"))
    )
    scored = (
        cand.join(cv, "id")
        .join(qv, "q_id")
        .select(
            "q_id",
            "id",
            F.round(cosine_arrow(F.col("id_v"), F.col("q_v")), 6).alias("cosine"),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    planes: int = 8,
    tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "ann",
) -> DataFrame:
    """ANN: multi-table random-hyperplane LSH.  Candidates = vectors
    sharing a bucket in ANY of `tables` signature tables; exact cosine
    ranks within the candidate set.  Recall ≈ 1-(1-p^planes)^tables.

    Physical shape (scale-correct): signatures are one codegen'd
    projection, explode to (id, table, bucket), broadcast equi-join on
    (table, bucket) against the small banded query side, DEDUP the
    candidate ids first, and only then re-join the full vectors for the
    exact cosine re-rank — the wide arrays never ride the candidate
    shuffle, and the volume is bounded by bucket sizes, never the
    corpus×query cross product."""
    mats = rademacher_planes(dim, planes, tables, salt)
    c = lsh_banded(corpus, "id", mats, id_col, vec_col)
    q = F.broadcast(lsh_banded(queries, "q_id", mats, id_col, vec_col))
    cand = (
        c.join(q, ["t", "bucket"])
        .filter(F.col("id") != F.col("q_id"))
        .select("q_id", "id")
        .distinct()
    )
    return _rerank(cand, corpus, queries, k, id_col, vec_col)


def ivf_centroids(
    dim: int, n_centroids: int, salt: str = "ivf", scale: int = 250_000
) -> list:
    """Deterministic integer centroids (md5-derived components in
    {-3..3}·scale, matching the round(x·10⁶) embedding quantization).
    In production the centroids come from an offline k-means over a
    sample; these fixtures keep the partition reproducible anywhere —
    including the DuckDB oracle.  IVF correctness never depends on
    centroid quality, only recall does."""
    cents = []
    for c in range(n_centroids):
        comps = []
        for d in range(dim):
            h = int(hashlib.md5(f"{salt}:{c}:{d}".encode()).hexdigest()[:4], 16)
            comps.append((h % 7 - 3) * scale)
        cents.append(comps)
    return cents


def _cell_dists(qcol, cents):
    """array<struct<dist, idx>> of squared-L2 distances to every
    centroid — exact integer arithmetic (≤ (4·10⁶)²·64 < 2⁶³)."""
    entries = []
    for i, comps in enumerate(cents):
        cvec = F.array(*[F.lit(x).cast("long") for x in comps])
        dist = F.aggregate(
            F.zip_with(qcol, cvec, lambda a, c: (a - c) * (a - c)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        entries.append(F.struct(dist.alias("dist"), F.lit(i).alias("idx")))
    return F.array(*entries)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list = None,
) -> DataFrame:
    """IVF ANN: corpus vectors partition into their NEAREST centroid's
    cell (one integer argmin per vector, codegen'd); each query probes
    its ``n_probe`` nearest cells; exact cosine re-ranks the union of
    those cells.  Recall/cost knob: n_probe/n_centroids.

    100 TB shape: the cell id is a partitioning key — the corpus can be
    written bucketed by cell so a query probe reads only its cells'
    files; the join here is the in-memory equivalent.  Pass k-means
    ``centroids`` (list of int lists, same 10⁶ quantization) in
    production."""
    cents = centroids if centroids is not None else ivf_centroids(dim, n_centroids)
    nearest = lambda q: F.array_min(_cell_dists(q, cents))["idx"]
    c_cells = corpus.select(
        F.col(id_col).alias("id"), nearest(quantized(F.col(vec_col))).alias("cell")
    )
    probes = queries.select(
        F.col(id_col).alias("q_id"),
        F.explode(
            F.transform(
                F.slice(F.array_sort(_cell_dists(quantized(F.col(vec_col)), cents)), 1, n_probe),
                lambda s: s["idx"],
            )
        ).alias("cell"),
    )
    cand = (
        c_cells.join(F.broadcast(probes), "cell")
        .filter(F.col("id") != F.col("q_id"))
        .select("q_id", "id")
        .distinct()
    )
    return _rerank(cand, corpus, queries, k, id_col, vec_col)


# Verification-join broadcast guard (lsh_near_dup_pairs): estimated
# bytes per candidate id-pair row, and the cap under which the
# exact-counted candidate frame may be broadcast.  8 MiB is MEASURED,
# not guessed: at sf0.1 (267k candidate pairs ≈ 34 MB estimate) the
# broadcast build+ship costs 8.0 s vs 3.3 s for the sort-merge join —
# the candidate side is the LARGE side of the verification join, so
# broadcasting only pays while it is genuinely small (sf0.01: 16.8k
# pairs ≈ 2 MB, plan-asserted BroadcastHashJoin).  At 100× the set is
# GBs and the guard keeps the join hash-partitioned.
CAND_ROW_BYTES = 128
CAND_BROADCAST_CAP = 8 << 20  # 8 MiB


def lsh_near_dup_pairs(
    emb: DataFrame,
    dim: int,
    threshold: float = 0.4,
    planes: int = 8,
    tables: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "neardup",
    with_stats: bool = False,
) -> DataFrame:
    """Bucketed embedding near-dup: candidate pairs share an LSH bucket
    in any table (self-join on (t, bucket), id_a < id_b), then the
    exact cosine filters at `threshold`.  This is the 100 TB path — the
    all-pairs O(n²) variant in operators/dedup.py is the sf0.01-only
    exactness baseline.

    Parameter point: candidate volume ≈ n²·tables/2^(planes+1) when
    buckets are balanced, so planes is THE scale lever — the planes=8
    default gives 256 buckets/table (n²/32 per-table work at tables=32,
    vs ~n² at the old planes=3).  recall ≈ 1-(1-p^planes)^tables with
    p = 1-θ/π: ≈0.999 at cosine 0.9 (the regime a production near-dup
    pass runs in), ≈0.55 at the synthetic fixture's cosine 0.4 planted
    dups (measured in tests/test_dedup_similarity.py).  Tune planes up
    with corpus size, tables up for recall.

    ``with_stats`` appends the measured global candidate-pair count as
    an ``n_candidates`` column (one tiny broadcast cross join), so an
    oracle row certifies the bucketing reduction — candidates ≪ n² —
    not just the final answer."""
    mats = rademacher_planes(dim, planes, tables, salt)
    banded = lsh_banded(emb, "id", mats, id_col, vec_col)
    # the self-join's two sides are a shuffle exchange and a broadcast
    # exchange over the same subplan — reuse cannot unify them, so the
    # Arrow projection UDF would run twice; materialize (id, t, bucket)
    # once (narrow rows, tables× the corpus row count)
    banded = banded.localCheckpoint(eager=True)
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    n_candidates = None
    if with_stats:
        # the stats count and the verification join both consume `cand`;
        # without materialization the projection (planes×tables dot
        # products per row) and the banding self-join would run TWICE —
        # measured 2.7× wall on the sf0.1 bench.  Lazy localCheckpoint
        # + one count = ONE job that both materializes the blocks (the
        # verification join then reads them) and yields the stats
        # number; blocks are freed by the ContextCleaner when the
        # caller drops the frame — no session-lifetime persist leak.
        cand = cand.localCheckpoint(eager=False)
        n_candidates = cand.count()
    v = emb.select(F.col(id_col).alias("id"), _as_double(vec_col).alias("v"))
    cjoin = cand
    if n_candidates is not None and (
        n_candidates * CAND_ROW_BYTES <= CAND_BROADCAST_CAP
    ):
        # The checkpointed candidate frame is a LogicalRDD with NO
        # stats (defaultSizeInBytes = huge), so Catalyst falls back to
        # a sort-merge join for the verification step.  The stats path
        # already paid for the EXACT row count — use it as the
        # broadcast decision, cap-guarded: id-pair rows are ~2 short
        # strings (~128 B estimated), broadcast only while the
        # estimate fits well under the broadcast limit.  At 100×
        # corpus scale the candidate set blows past the cap and the
        # join stays hash-partitioned — never force-broadcast an
        # unbounded side.
        cjoin = F.broadcast(cand)
    out = (
        cjoin.join(v.withColumnsRenamed({"id": "id_a", "v": "va"}), "id_a")
        .join(v.withColumnsRenamed({"id": "id_b", "v": "vb"}), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(cosine_arrow(F.col("va"), F.col("vb")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
    if with_stats:
        out = out.withColumn("n_candidates", F.lit(n_candidates).cast("long"))
    return out
