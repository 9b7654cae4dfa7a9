"""Dedup family (exact / MinHash-LSH / SimHash / embedding) and
similarity search (brute-force + LSH ANN)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ont_d2rq_spark.operators import dedup as D
from ont_d2rq_spark.operators import similarity as S
from ont_d2rq_spark.operators import text as TX


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    near = "the quick brown fox jumps over the lazy dog and runs far away now"
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, near),  # near dup of 1
        (4, "completely different text about spark shuffles and partitions here"),
        (5, "  THE quick   brown fox jumps over the lazy dog and runs far away today "),  # normalized dup of 1
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_exact_dedup(docs):
    got = {r["representative"]: r["n_dups"] for r in D.exact_dedup(docs).collect()}
    assert got[1] == 3  # 1, 2, 5 normalize identically
    assert got[3] == 1 and got[4] == 1


def test_minhash_dedup_finds_near_dup(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.minhash_dedup(docs, threshold=0.5).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and 0.5 <= pairs[(1, 3)] < 1.0
    assert not any(4 in p for p in pairs)


def test_minhash_signature_properties(docs):
    """Identical (after normalization) texts get identical band
    buckets; a near dup shares many bands, unrelated text fewer."""
    rows = {
        r["id"]: r["buckets"]
        for r in D.minhash_prep(docs, num_hashes=32, bands=16).collect()
    }
    assert rows[1] == rows[2] == rows[5]
    shared = lambda a, b: sum(x == y for x, y in zip(rows[a], rows[b])) / 16
    assert shared(1, 3) > 0.4
    assert shared(1, 4) < shared(1, 3)


def test_simhash(docs, spark):
    """md5-family SimHash at its default width: identical texts sign
    identically, a near dup lies closer than unrelated text, null text
    gets no signature, and the default 64-bit quarter blocking finds
    the identical pair."""
    null_doc = spark.createDataFrame([(6, None)], "doc_id bigint, text string")
    sigs = D.simhash_signatures_md5(docs.unionByName(null_doc))
    rows = {r["id"]: r["simhash"] for r in sigs.collect()}
    assert 6 not in rows
    assert rows[1] == rows[2]
    ham13 = bin(rows[1] ^ rows[3]).count("1")
    ham14 = bin(rows[1] ^ rows[4]).count("1")
    assert ham13 < ham14
    cands = {(r["id_a"], r["id_b"]) for r in D.simhash_candidates(sigs, max_hamming=8).collect()}
    assert (1, 2) in cands


@pytest.fixture(scope="module")
def emb(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.99, 0.1, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.0, 1.0, 0.0]),
        (5, [1.0, 0.02, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_spread_repairs_single_partition(spark):
    """spread(): an under-split source fans out to default parallelism
    before the CPU-explosive stages; an already-split source is
    untouched (no gratuitous shuffle)."""
    one = spark.range(100).coalesce(1).selectExpr(
        "id as doc_id", "'a b c d e f' as text"
    )
    assert one.rdd.getNumPartitions() == 1
    out = D.spread(one)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    wide = spark.range(100).repartition(spark.sparkContext.defaultParallelism)
    assert D.spread(wide) is wide


def test_embedding_near_dup(emb):
    pairs = {(r["id_a"], r["id_b"]) for r in D.embedding_near_dup(emb, threshold=0.99).collect()}
    assert (1, 5) in pairs
    assert (1, 3) not in pairs


def test_brute_force_topk(emb):
    got = S.brute_force_topk(emb, emb.filter(F.col("vec_id") == 1), k=2)
    rows = [(r["id"], r["rank"]) for r in got.orderBy("rank").collect()]
    assert rows == [(5, 1), (2, 2)]


def test_lsh_topk_recall_on_real_embeddings(spark):
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 5)
    exact = S.brute_force_topk(e, q, k=5)
    approx = S.lsh_topk(e, q, dim=64, k=5, planes=6, tables=12)
    ex = {(r["q_id"], r["id"]) for r in exact.collect()}
    ap = {(r["q_id"], r["id"]) for r in approx.collect()}
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.4  # random vectors: multi-table probing required
    # deterministic across runs (fixed-seed hyperplanes)
    ap2 = {
        (r["q_id"], r["id"])
        for r in S.lsh_topk(e, q, dim=64, k=5, planes=6, tables=12).collect()
    }
    assert ap == ap2


def test_minhash_md5_family_matches_xxhash_semantics(docs):
    """The md5 hash family (the DuckDB-replayable one the driver oracle
    checks) finds the same near-dups as the xxhash64 fast path — same
    algorithm, different hash family."""
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.minhash_dedup(docs, threshold=0.5, hash_family="md5").collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs
    assert not any(4 in p for p in pairs)


def test_simhash_md5(docs):
    sigs = D.simhash_signatures_md5(docs, bits=60)
    rows = {r["id"]: r["simhash"] for r in sigs.collect()}
    assert rows[1] == rows[2] == rows[5]
    ham13 = bin(rows[1] ^ rows[3]).count("1")
    ham14 = bin(rows[1] ^ rows[4]).count("1")
    assert ham13 < ham14
    cands = {
        (r["id_a"], r["id_b"])
        for r in D.simhash_candidates(sigs, max_hamming=8, bits=60).collect()
    }
    assert (1, 2) in cands


def test_ivf_topk(spark):
    """IVF ANN: results ⊆ brute-force scores, deterministic, and recall
    above the nprobe/ncentroids floor on real embeddings."""
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 5)
    exact = {(r["q_id"], r["id"]) for r in S.brute_force_topk(e, q, k=5).collect()}
    a1 = S.ivf_topk(e, q, dim=64, k=5, n_centroids=16, n_probe=4)
    got1 = {(r["q_id"], r["id"], r["cosine"]) for r in a1.collect()}
    got2 = {
        (r["q_id"], r["id"], r["cosine"])
        for r in S.ivf_topk(e, q, dim=64, k=5, n_centroids=16, n_probe=4).collect()
    }
    assert got1 == got2  # deterministic centroids → same partition
    pairs = {(a, b) for a, b, _ in got1}
    recall = len(exact & pairs) / len(exact)
    assert recall >= 0.2  # random fixture centroids; nprobe=4/16 floor
    # probing ALL cells must recover brute force exactly
    full = {
        (r["q_id"], r["id"])
        for r in S.ivf_topk(e, q, dim=64, k=5, n_centroids=16, n_probe=16).collect()
    }
    assert full == exact


def test_lsh_near_dup_recall(spark):
    """Bucketed near-dup (the 100 TB path) is a verified subset of the
    exact all-pairs result with high recall."""
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {
        (r["id_a"], r["id_b"])
        for r in D.embedding_near_dup(e, threshold=0.3).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in S.lsh_near_dup_pairs(e, dim=64, threshold=0.3, planes=3, tables=16).collect()
    }
    assert lsh <= exact  # cosine-verified candidates can never be false positives
    assert exact, "fixture must contain near-dup pairs"
    assert len(lsh) / len(exact) >= 0.8  # recall ≈ 1-(1-p^3)^16 ≈ 0.94+ at cos≥0.3


def test_lsh_near_dup_scale_point_candidate_reduction(spark):
    """The default (scale-true) operating point — planes=8, tables=32 —
    must keep candidate volume well under all-pairs and stay a verified
    subset of the exact result.  n_candidates is the certified global
    candidate-pair count (with_stats=True)."""
    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    n = e.count()
    rows = S.lsh_near_dup_pairs(e, dim=64, with_stats=True).collect()
    assert rows, "scale-point run must be non-vacuous"
    n_cand = rows[0]["n_candidates"]
    all_pairs = n * (n - 1) // 2
    assert n_cand < all_pairs / 5  # measured: 16,821 vs 124,750 (7.4x)
    exact = {
        (r["id_a"], r["id_b"])
        for r in D.embedding_near_dup(e, threshold=0.4).collect()
    }
    lsh = {(r["id_a"], r["id_b"]) for r in rows}
    assert lsh <= exact  # precision 1.0 (exact cosine verify)
    # at the fixture's cosine≈0.4 planted dups recall is ~0.52 (the
    # production regime is cosine≥0.9 where 1-(1-p^8)^32 ≈ 0.999)
    assert len(lsh) / len(exact) >= 0.4


def test_winnow_fingerprints(spark):
    """Winnowing guarantee: any shared substring of length ≥ k+w−1
    yields at least one shared fingerprint; disjoint alphabets share
    none; identical docs share everything."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "a totally different prefix BUT the quick brown fox appears here"),
        (3, "zzzz yyyy xxxx wwww vvvv uuuu"),  # disjoint content
        (4, "the quick brown fox jumps over the lazy dog"),  # == doc 1
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    fps = {}
    for r in TX.winnow_fingerprints(df, k=8, window=4).collect():
        fps.setdefault(r["doc_id"], set()).add(r["fp"])
    assert fps[1] == fps[4]  # identical docs → identical fingerprint sets
    assert fps[1] & fps[2]  # shared 'the quick brown fox' window survives
    assert not (fps[1] & fps[3])  # disjoint content → no shared fp
    # far fewer fingerprints than k-grams (that's the point of winnowing)
    assert len(fps[1]) < len(rows[0][1]) - 8 + 1


def test_text_analysis(docs):
    q = {r["doc_id"]: r for r in TX.quality_score(docs).collect()}
    assert 0 <= q[1]["quality"] <= 1
    lang = {r["doc_id"]: r["lang_guess"] for r in TX.language_id(docs).collect()}
    assert lang[1] == "en"
    fp = {r["doc_id"]: r["fingerprint"] for r in TX.fingerprint(docs).collect()}
    assert fp[1] == fp[5]  # whitespace/case normalization
    assert fp[1] != fp[3]


def test_lsh_verify_join_broadcast_cap_guarded(spark):
    """r5: the stats path reuses its exact candidate count as a
    cap-guarded broadcast decision for the verification join (the
    checkpointed candidate frame has no stats, so Catalyst would
    otherwise sort-merge).  Under the cap → BroadcastHashJoin; with the
    cap forced to 0 the hint must NOT appear (at 100x the candidate
    set exceeds any broadcast budget and must stay partitioned)."""
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = S.lsh_near_dup_pairs(e, dim=64, with_stats=True)
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p
    old = S.CAND_BROADCAST_CAP
    S.CAND_BROADCAST_CAP = 0
    try:
        out2 = S.lsh_near_dup_pairs(e, dim=64, with_stats=True)
        lp = out2._jdf.queryExecution().optimizedPlan().toString()
        assert "ResolvedHint" not in lp and "broadcast" not in lp.lower()
    finally:
        S.CAND_BROADCAST_CAP = old


def test_xxh64_python_matches_spark(spark):
    """r7: the pure-Python XXH64 used by minhash_prep must be
    bit-identical to F.xxhash64 — both the direct string hash (seed 42)
    and the chained (string, int-literal) form the xxhash64 minhash
    family uses."""
    cases = [
        "", "a", "abc", "hello world", "x" * 7, "y" * 8, "z" * 9,
        "q" * 31, "w" * 32, "e" * 33, "r" * 100, "üñïçödé ê",
        "tab\tnl\n", "the quick brown", "0123456789abcdef" * 3,
    ]
    df = spark.createDataFrame([(c,) for c in cases], "s string")
    rows = df.select(
        "s",
        F.xxhash64("s").alias("h42"),
        F.xxhash64("s", F.lit(1)).alias("h1"),
        F.xxhash64("s", F.lit(2)).alias("h2"),
    ).collect()
    for r in rows:
        b = r["s"].encode("utf-8")
        base = D.xxh64(b, 42)
        assert base == r["h42"]
        assert D.xxh64((1).to_bytes(4, "little"), base & D._M64) == r["h1"]
        assert D.xxh64((2).to_bytes(4, "little"), base & D._M64) == r["h2"]


@pytest.mark.parametrize("fam", ["xxhash64", "md5"])
def test_minhash_prep_matches_jvm_banding(spark, fam):
    """minhash_prep's Python hash kernels, Broder permutations and band
    keys must equal the JVM functions, for both hash families.  On a
    one-shingle document every signature entry is that shingle's
    permutation value, so the JVM side needs no k-min aggregate (the
    multi-shingle min is replayed end to end by the minhash_dedup
    oracle).  Shingle sets are the distinct word trigrams of the
    normalized text, in order of first appearance."""
    docs = spark.createDataFrame(
        [(10, "Alpha  beta GAMMA "), (11, "x"), (12, "üñï çödé"), (13, "a b c a b c")],
        "doc_id bigint, text string",
    )
    prep = {r["id"]: r for r in D.minhash_prep(docs, hash_family=fam).collect()}
    assert prep[10]["sh"] == ["alpha beta gamma"] and prep[11]["sh"] == ["x"]
    assert prep[13]["sh"] == ["a b c", "b c a", "c a b"]

    s, p = D.normalize_text(F.col("text")), F.lit(D.MINHASH_PRIME)
    if fam == "md5":
        m = F.md5(s)
        h1 = F.conv(F.substring(m, 1, 15), 16, 10).cast("long") % p
        h2 = F.conv(F.substring(m, 17, 15), 16, 10).cast("long") % p
        bucket_fn = F.md5
    else:
        h1 = F.pmod(F.xxhash64(s, F.lit(1)), p)
        h2 = F.pmod(F.xxhash64(s, F.lit(2)), p)
        bucket_fn = F.xxhash64
    sig = [(F.lit(a) * h1 + F.lit(b) * h2) % p for a, b in D.minhash_perm_coeffs(64)]
    buckets = F.array(
        *[bucket_fn(F.concat_ws(",", *[x.cast("string") for x in sig[4 * b : 4 * b + 4]]))
          for b in range(16)]
    )
    jvm = docs.filter(F.col("doc_id") < 13).select("doc_id", buckets.alias("b")).collect()
    assert len(jvm) == 3
    for r in jvm:
        assert prep[r["doc_id"]]["buckets"] == r["b"]


def test_simhash_md5_prep_parity(docs, spark):
    """r7: the per-row Arrow simhash signature must equal the former
    explode -> 60-sum aggregate formulation bit-for-bit."""
    got = {r["id"]: r["simhash"] for r in D.simhash_signatures_md5(docs).collect()}
    bits = 60
    ex = (
        docs.select(
            F.col("doc_id").alias("id"),
            F.explode(
                F.array_distinct(F.split(D.normalize_text(F.col("text")), " "))
            ).alias("w"),
        )
        .select("id", F.conv(F.substring(F.md5("w"), 1, 15), 16, 10).cast("long").alias("h"))
    )
    sums = ex.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"s{i}")
            for i in range(bits)
        ]
    )
    sig = None
    for i in range(bits):
        term = F.when(F.col(f"s{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = term if sig is None else sig + term
    want = {r["id"]: r["simhash"] for r in sums.select("id", sig.alias("simhash")).collect()}
    assert got == want


def test_winnow_prep_parity(spark):
    """r7: the Arrow winnowing pass must reproduce the former Catalyst
    transform-chain fingerprints exactly."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    k, window = 8, 4
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    base = docs.select(F.col("doc_id"), norm.alias("nt")).filter(
        F.length("nt") >= k + window - 1
    )
    hashes = F.expr(
        f"transform(sequence(0, length(nt) - {k}), "
        f"i -> cast(conv(substr(md5(substring(nt, i + 1, {k})), 1, 15), 16, 10) as bigint))"
    )
    mins = F.expr(
        f"transform(sequence(0, size(hs) - {window}), "
        f"j -> array_min(slice(hs, j + 1, {window})))"
    )
    old = (
        base.withColumn("hs", hashes)
        .select("doc_id", F.explode(F.array_distinct(mins)).alias("fp"))
    )
    new = TX.winnow_fingerprints(docs, k=k, window=window)
    assert old.exceptAll(new).count() == 0 and new.exceptAll(old).count() == 0
