"""Deduplication operators for large-scale training-data pipelines.

Not in the d2rq reference (its DISTINCT is SURVEY §2.7 U2); these are
the scale extensions the task brief names.

Scale notes (100 TB):
  * exact_dedup: one shuffle on a 16-byte digest; map-side partial agg.
  * minhash (r7): shingle set, signature and LSH band buckets are one
    vectorized Arrow pass PER ROW (`minhash_prep`) — zero shuffles
    before the candidate join; the Python hash kernels (hashlib.md5,
    pure-Python xxh64) are test-pinned bit-exact twins of the JVM
    functions, so the md5 family stays end-to-end replayable by the
    DuckDB oracle.  Banding rows are (id, band, bucket) only; the
    candidate self-join reads an eagerly checkpointed copy so the prep
    never runs once per join side.  Verification re-joins only
    bucket-mates.
  * simhash: same per-row Arrow shape (md5 family); candidates block
    on signature quarters (pigeonhole) and verify full hamming.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def normalize_text(col):
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


def spread(df: DataFrame) -> DataFrame:
    """Repartition up to default parallelism when the source is
    under-split.  The shingle/token explosion below multiplies each
    input row into hundreds of CPU-heavy rows, so a poorly-split source
    (single-row-group parquet, one small file) would serialize the
    WHOLE operator onto one core no matter the cluster size — the
    repartition shuffles only the (id, text) projection, which is
    trivially cheap next to the work it unlocks.  (balanced_read's
    size-based repair intentionally skips small files because small
    DIMENSION tables shouldn't shuffle; a dedup corpus is the opposite
    case: bytes small, per-byte CPU huge.)"""
    sc = df.sparkSession.sparkContext
    try:
        n = df.rdd.getNumPartitions()
    except Exception:
        return df
    p = sc.defaultParallelism
    return df.repartition(p) if n < p else df


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """→ (fp, representative, n_dups): groups of byte-identical
    (normalized) documents; representative = min id (deterministic)."""
    return (
        df.select(F.col(id_col), F.md5(normalize_text(F.col(text_col))).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("representative"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


# Mersenne prime 2^31-1: keeps every product a_j*h below 2^62, so the
# permutation arithmetic stays exact in 64-bit integers on BOTH engines
# (Spark BIGINT and DuckDB BIGINT compute bit-identical results).
MINHASH_PRIME = 2147483647


# ---------------------------------------------------------------------------
# Pure-Python XXH64 (public algorithm, Collet 2012; same constants as
# Spark's XxHash64Function) — lets the Arrow-vectorized minhash prep
# compute the xxhash64 hash family per row without the JVM k-min
# aggregate.  Bit-equality with F.xxhash64 is pinned by
# tests/test_dedup_similarity.py over corpus shingles + edge strings.
# ---------------------------------------------------------------------------

_XP1 = 0x9E3779B185EBCA87
_XP2 = 0xC2B2AE3D27D4EB4F
_XP3 = 0x165667B19E3779F9
_XP4 = 0x85EBCA77C2B2AE63
_XP5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def xxh64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` — returns the SIGNED 64-bit value Spark's
    ``F.xxhash64`` produces (seed default 42 matches Spark's)."""
    rotl = lambda x, r: ((x << r) | (x >> (64 - r))) & _M64
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _XP1 + _XP2) & _M64
        v2 = (seed + _XP2) & _M64
        v3 = seed & _M64
        v4 = (seed - _XP1) & _M64
        while i + 32 <= n:
            v1 = (rotl((v1 + int.from_bytes(data[i : i + 8], "little") * _XP2) & _M64, 31) * _XP1) & _M64
            v2 = (rotl((v2 + int.from_bytes(data[i + 8 : i + 16], "little") * _XP2) & _M64, 31) * _XP1) & _M64
            v3 = (rotl((v3 + int.from_bytes(data[i + 16 : i + 24], "little") * _XP2) & _M64, 31) * _XP1) & _M64
            v4 = (rotl((v4 + int.from_bytes(data[i + 24 : i + 32], "little") * _XP2) & _M64, 31) * _XP1) & _M64
            i += 32
        h = (rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h ^= (rotl((v * _XP2) & _M64, 31) * _XP1) & _M64
            h = (h * _XP1 + _XP4) & _M64
    else:
        h = (seed + _XP5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        k = (rotl((int.from_bytes(data[i : i + 8], "little") * _XP2) & _M64, 31) * _XP1) & _M64
        h = (rotl(h ^ k, 27) * _XP1 + _XP4) & _M64
        i += 8
    if i + 4 <= n:
        h = (rotl(h ^ ((int.from_bytes(data[i : i + 4], "little") * _XP1) & _M64), 23) * _XP2 + _XP3) & _M64
        i += 4
    while i < n:
        h = (rotl(h ^ ((data[i] * _XP5) & _M64), 11) * _XP1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _XP2) & _M64
    h ^= h >> 29
    h = (h * _XP3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def minhash_perm_coeffs(num_hashes: int, salt: str = "minhash") -> list:
    """Deterministic (a_j, b_j) pairs for the Broder 2-universal
    permutation family g_j(x) = (a_j·h1 + b_j·h2) mod p.  Derived from
    md5 of the salt+index so Spark and the DuckDB oracle share the
    identical constants without any runtime randomness."""
    import hashlib

    out = []
    for j in range(num_hashes):
        a = int(hashlib.md5(f"{salt}:{j}:a".encode()).hexdigest(), 16) % (MINHASH_PRIME - 1) + 1
        b = int(hashlib.md5(f"{salt}:{j}:b".encode()).hexdigest(), 16) % MINHASH_PRIME
        out.append((a, b))
    return out


def minhash_prep(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """→ (id, sh: array<string>, buckets: array<…>) — shingle set,
    minhash signature and LSH band buckets computed in ONE Arrow pass,
    per row, with zero shuffles.

    Why: every shingle of a document already lives in one row, so the
    explode → groupBy(id) k-min aggregate only re-groups what was never
    apart — and its k-wide generated aggregate costs ~6 s of
    codegen+JIT per session before the first row flows (measured on a
    10-row input).  Here the per-row k mins are one numpy
    (k × n_shingles) matmul-mod, and the hash families are bit-exact
    twins of the JVM/oracle functions: hashlib.md5 ≡ F.md5 ≡ DuckDB
    md5, and :func:`xxh64` ≡ F.xxhash64 (pinned by tests).  buckets[b]
    is F.md5 (md5 family, hex string) or F.xxhash64 (long) of the
    band's signature values joined with commas — the banding
    ``sql_minhash_dedup`` replays in DuckDB."""
    import numpy as np

    rows_per_band = num_hashes // bands
    assert bands * rows_per_band == num_hashes
    coeffs = minhash_perm_coeffs(num_hashes)
    A = np.array([a for a, _ in coeffs], dtype=np.int64)[:, None]
    B = np.array([b for _, b in coeffs], dtype=np.int64)[:, None]
    p = MINHASH_PRIME
    n = shingle_n
    md5_family = hash_family == "md5"
    id_type = dict(
        (f.name, f.dataType.simpleString()) for f in df.schema.fields
    )[id_col]
    bucket_type = "string" if md5_family else "bigint"
    schema = f"id {id_type}, sh array<string>, buckets array<{bucket_type}>"

    def gen(batches):
        import hashlib

        seed1 = (1).to_bytes(4, "little")
        seed2 = (2).to_bytes(4, "little")

        def hash_pair(g: str):
            if md5_family:
                m = hashlib.md5(g.encode("utf-8")).hexdigest()
                return int(m[0:15], 16) % p, int(m[16:31], 16) % p
            base = xxh64(g.encode("utf-8"), 42) & _M64
            return xxh64(seed1, base) % p, xxh64(seed2, base) % p

        def bucket(key: str):
            if md5_family:
                return hashlib.md5(key.encode("utf-8")).hexdigest()
            return xxh64(key.encode("utf-8"), 42)

        for pdf in batches:
            shs, bks = [], []
            for s in pdf["nt"]:
                if s is None:
                    shs.append(None)
                    bks.append(None)
                    continue
                toks = s.split(" ")
                m = max(len(toks) - n, 0) + 1
                g = list(
                    dict.fromkeys(" ".join(toks[i : i + n]) for i in range(m))
                )
                pairs = [hash_pair(x) for x in g]
                H1 = np.array([h1 for h1, _ in pairs], dtype=np.int64)
                H2 = np.array([h2 for _, h2 in pairs], dtype=np.int64)
                sig = ((A * H1 + B * H2) % p).min(axis=1)
                bks.append(
                    [
                        bucket(
                            ",".join(
                                str(x)
                                for x in sig[b * rows_per_band : (b + 1) * rows_per_band]
                            )
                        )
                        for b in range(bands)
                    ]
                )
                shs.append(g)
            import pandas as _pd

            yield _pd.DataFrame(
                {"id": pdf["id"], "sh": shs, "buckets": bks}
            )

    base = spread(
        df.select(
            F.col(id_col).alias("id"), normalize_text(F.col(text_col)).alias("nt")
        )
    )
    return base.mapInPandas(gen, schema)


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    shingle_n: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Full near-dup pipeline: signatures → LSH candidates → exact
    Jaccard verification over shingle sets → (id_a, id_b, jaccard).
    Verification joins the shingle arrays back only for candidates.

    Shape (r7): shingles + signature + band buckets come from ONE
    Arrow pass (:func:`minhash_prep` — per-row numpy k-mins, bit-exact
    hash twins), eagerly localCheckpointed so the banding self-join's
    two sides and BOTH verification join sides read stored blocks
    instead of re-running the pipeline (the old explode → k-min-agg →
    self-join plan evaluated the whole signature chain once per join
    side plus once per verification side, and its k-wide generated
    aggregate cost ~6 s of codegen/JIT per session)."""
    prep = minhash_prep(
        df, text_col, id_col, num_hashes, bands, shingle_n, hash_family
    ).localCheckpoint(eager=True)
    banded = prep.select("id", F.posexplode("buckets").alias("band", "bucket"))
    a, b = banded.alias("a"), banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sh = prep.select("id", "sh")
    joined = (
        cands.join(sh.withColumnsRenamed({"id": "id_a", "sh": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({"id": "id_b", "sh": "sh_b"}), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        joined.select(
            "id_a",
            "id_b",
            F.round(inter / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash_signatures_md5(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 60
) -> DataFrame:
    """Cross-engine-replayable SimHash: the per-token 60-bit hash is
    the first 15 hex chars of md5 (both Spark and DuckDB compute the
    identical value — `conv(hex,16,10)` here, `'0x…'::BIGINT` there),
    so the driver oracle replays the signature bit-for-bit.

    Shape (r7): ONE Arrow pass, per row — every distinct token of a
    document already lives in its row, so the old explode →
    groupBy(id) with `bits` conditional ±1 sums only re-grouped
    per-row data, and its 60-wide generated aggregate carried the same
    multi-second codegen/JIT constant the minhash aggregate did.
    hashlib.md5 is the bit-exact twin of F.md5/conv (pinned by the
    simhash_near_dup oracle row and test_simhash_md5_prep_parity);
    the per-bit majority is one numpy (n_tokens × bits) reduction."""
    assert bits <= 60
    import numpy as np

    id_type = dict(
        (f.name, f.dataType.simpleString()) for f in df.schema.fields
    )[id_col]

    def gen(batches):
        import hashlib

        shifts = np.arange(bits, dtype=np.int64)
        for pdf in batches:
            sigs = []
            for s in pdf["nt"]:
                if s is None:
                    sigs.append(None)
                    continue
                toks = list(dict.fromkeys(s.split(" ")))
                H = np.array(
                    [
                        int(hashlib.md5(w.encode("utf-8")).hexdigest()[:15], 16)
                        for w in toks
                    ],
                    dtype=np.int64,
                )
                votes = (((H[:, None] >> shifts) & 1) * 2 - 1).sum(axis=0)
                sigs.append(int(((votes > 0).astype(np.int64) << shifts).sum()))
            import pandas as _pd

            yield _pd.DataFrame({"id": pdf["id"], "simhash": sigs})

    base = spread(
        df.select(
            F.col(id_col).alias("id"), normalize_text(F.col(text_col)).alias("nt")
        )
    )
    # null text produced no exploded token rows (no signature) in the
    # aggregate formulation — drop it here too
    return base.mapInPandas(gen, f"id {id_type}, simhash bigint").filter(
        F.col("simhash").isNotNull()
    )


def hamming_distance(a, b):
    return F.bit_count(a.bitwiseXOR(b))


def simhash_candidates(sigs: DataFrame, max_hamming: int = 3, bits: int = 64) -> DataFrame:
    """Near-dup candidates by SimHash: block on bit quarters (a pair
    within hamming ≤ 3 shares at least one identical quarter —
    pigeonhole; larger max_hamming keeps the same blocking as a
    recall-bounded candidate generator), then verify the full distance."""
    width = bits // 4
    mask = (1 << width) - 1
    parts = sigs.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(q).alias("q"),
                        F.shiftrightunsigned("simhash", q * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("part"),
                    )
                    for q in range(4)
                ]
            )
        ).alias("p"),
    ).select("id", "simhash", "p.q", "p.part")
    # materialize once: the self-join's shuffle + broadcast sides would
    # otherwise evaluate the signature subplan twice (exchange reuse
    # cannot unify the two exchange kinds)
    parts = parts.localCheckpoint(eager=True)
    a, b = parts.alias("a"), parts.alias("b")
    return (
        a.join(
            b,
            (F.col("a.q") == F.col("b.q"))
            & (F.col("a.part") == F.col("b.part"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming_distance(F.col("a.simhash"), F.col("b.simhash")).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def embedding_near_dup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.98,
) -> DataFrame:
    """Embedding-cosine near-dup pairs ≥ threshold.  Exact (all-pairs);
    for the bucketed scale path see operators/similarity.py."""
    e = emb.select(
        F.col(id_col).alias("id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("v"),
    )
    dot = F.aggregate(
        F.zip_with("a.v", "b.v", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    norm = lambda c: F.sqrt(
        F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(dot / (norm(F.col("a.v")) * norm(F.col("b.v"))), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
