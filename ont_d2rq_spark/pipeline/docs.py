"""North-star pipeline: interleaved text+media documents → knowledge graph.

Implements BASELINE.json's north rule over the authoritative input shape
(input_hint): ``docs_interleaved(doc_id: string, spans: array<struct<
kind, text, media_ref, offset>>)``.

Stages (SURVEY.md §7.4):
  ① span integrity     — per-row span-sequence invariant (kind, text,
                          media_ref, order) + strictly-increasing offsets
  ② mention detection  — JVM regexes (regexp_extract_all) over span
                          text: customer surface forms + closed topic
                          dictionary; no Python
  ③ entity linking     — broadcast join against the entity dictionary
                          (the d2rq TranslationTable idea at KG scale) with
                          a JVM-side similarity score (levenshtein)
  ④ canonicalization   — owl:sameAs candidate edges → connected components
                          (large-star/small-star, operators/cc.py)
  ⑤ materialize        — dedup (subj,pred,obj), repartition by (pred, salt)
                          for high-degree skew, write partitioned by pred
  ⑥ checkpoints        — every stage through checkpoint.run_stage (lineage
                          manifests + metrics, resumable)

The synthetic generator below is DETERMINISTIC pure-Catalyst column
arithmetic over the driver's ``documents`` + ``customer`` tables (no
randomness, no external data) so expected outputs are computable
exactly — including ~1% "hub" documents with 120 extra entity mentions
to exercise skew handling.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ont_d2rq_spark.compiler.relation import distinct_triples

EX = "http://example.org/"
OWL_SAMEAS = "http://www.w3.org/2002/07/owl#sameAs"

SPAN_SCHEMA = (
    "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)

# closed topic dictionary (terms present in the driver documents vocab)
TOPIC_TERMS = ["spark", "join", "window", "filter", "vector", "stream"]

CHUNK = 8  # tokens per synthetic span
HUB_EVERY = 97  # doc_id % 97 == 0 → hub doc (~1%)
HUB_EXTRA = 120  # extra mention spans per hub


# ---------------------------------------------------------------------------
# ⓪ deterministic synthesis of the interleaved table (FIXTURES.md §2)
# ---------------------------------------------------------------------------

def synthesize_interleaved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents(doc_id,text) → docs_interleaved(doc_id, spans).

    Pure column expressions — the same rows are produced on every run
    and at every parallelism level.  Entity mentions reference REAL
    customer keys (`Customer#%09d` for key = f(doc_id, span)) so
    entity linking has an exact oracle."""
    from ont_d2rq_spark.sources.tables import balanced_read, parquet_rows

    # rename the numeric key up front: the output column is also called
    # doc_id (a string) and lambda closures resolve by name lazily
    docs = balanced_read(
        spark, f"{sf_dir}/documents.parquet", min_split_bytes=64 << 10
    ).select(F.col("doc_id").alias("_did"), "text")
    n_cust = parquet_rows(spark, f"{sf_dir}/customer.parquet")

    toks = F.split(F.col("text"), " ")
    n_chunks = F.greatest(F.ceil(F.size(toks) / CHUNK).cast("int"), F.lit(1))
    d = F.col("_did")

    def chunk_struct(i):
        bucket = F.pmod(d * 31 + i * 7, F.lit(20))
        kind = (
            F.when(bucket < 14, "text")
            .when(bucket < 17, "image")
            .when(bucket < 19, "table")
            .otherwise("code")
        )
        base_text = F.concat_ws(" ", F.slice(toks, i * CHUNK + 1, CHUNK))
        mention = F.format_string(
            " Customer#%09d", F.pmod(d * 13 + i * 11, F.lit(n_cust))
        )
        with_mention = F.when(
            F.pmod(d + i, F.lit(3)) == 0, F.concat(base_text, mention)
        ).otherwise(base_text)
        is_media = kind.isin("image", "table")
        return F.struct(
            kind.alias("kind"),
            F.when(~is_media, with_mention).alias("text"),
            F.when(
                is_media, F.format_string("media://doc%d/%d", d, i)
            ).alias("media_ref"),
        )

    main = F.transform(F.sequence(F.lit(0), n_chunks - 1), chunk_struct)
    hub = F.when(
        F.pmod(d, F.lit(HUB_EVERY)) == 0,
        F.transform(
            F.sequence(F.lit(0), F.lit(HUB_EXTRA - 1)),
            lambda j: F.struct(
                F.lit("text").alias("kind"),
                F.format_string(
                    "hub mention Customer#%09d", F.pmod(d + j, F.lit(n_cust))
                ).alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<kind:string,text:string,media_ref:string>>"))

    spans = F.transform(
        F.concat(main, hub),
        lambda s, i: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    return docs.select(
        F.format_string("doc%06d", d).alias("doc_id"), spans.alias("spans")
    )


# ---------------------------------------------------------------------------
# ① span integrity — the per-row invariant from BASELINE.json input_hint
# ---------------------------------------------------------------------------

def _offsets_strictly_increasing():
    """True when each span's offset is greater than the one before it."""
    offsets = F.transform(F.col("spans"), lambda s: s["offset"])
    return F.forall(
        F.zip_with(
            offsets,
            F.slice(F.concat(offsets, F.array(F.lit(None).cast("int"))), 2, 1000000),
            lambda a, b: b.isNull() | (b > a),
        ),
        lambda x: x,
    )


def span_integrity(docs: DataFrame) -> DataFrame:
    """→ (doc_id, n_spans, offsets_strictly_increasing, sequence_equal).

    sequence_equal re-sorts spans by offset and compares the full
    (kind,text,media_ref,order) sequence to the stored one — the exact
    per-row equality the north rule requires at every stage."""
    sorted_spans = F.array_sort(
        F.col("spans"),
        lambda a, b: F.when(a["offset"] < b["offset"], -1)
        .when(a["offset"] > b["offset"], 1)
        .otherwise(0),
    )
    return docs.select(
        "doc_id",
        F.size("spans").alias("n_spans"),
        _offsets_strictly_increasing().alias("offsets_strictly_increasing"),
        (F.col("spans") == sorted_spans).alias("sequence_equal"),
    )


def assert_span_integrity(docs: DataFrame) -> None:
    # Equivalent to filtering ¬strictly_inc ∨ ¬sequence_equal: when the
    # offsets are strictly increasing, the stable offset-sort is the
    # identity, so sequence_equal is implied (no ties to reorder); when
    # they are not, the first disjunct already fires.  Evaluating only
    # the offsets check drops the interpreted array_sort-with-comparator
    # pass over every span (r7; span_integrity itself still reports
    # both columns for callers that want them).
    n = docs.filter(~_offsets_strictly_increasing()).count()
    if n:
        raise AssertionError(f"span-sequence invariant violated for {n} docs")


# ---------------------------------------------------------------------------
# ② mention detection — JVM regexes (X2 surface)
# ---------------------------------------------------------------------------

_MENTION_RE = r"Customer#\d{9}"
_TOPIC_RE = r"\b(" + "|".join(TOPIC_TERMS) + r")\b"


def detect_mentions(docs: DataFrame) -> DataFrame:
    """→ (doc_id, offset, mention) — one row per mention occurrence:
    customer surface forms, then topic terms, in text order each.  Java
    regex semantics: digits are ASCII only."""
    spans = docs.select(
        "doc_id", F.explode("spans").alias("s")
    ).select(
        "doc_id", F.col("s.offset").alias("offset"), F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
    )
    text_spans = spans.filter((F.col("kind") == "text") & F.col("text").isNotNull())
    return (
        text_spans.withColumn(
            "mentions",
            F.concat(
                F.regexp_extract_all("text", F.lit(_MENTION_RE), 0),
                F.regexp_extract_all("text", F.lit(_TOPIC_RE), 1),
            ),
        ).select("doc_id", "offset", F.explode("mentions").alias("mention"))
    )


# ---------------------------------------------------------------------------
# ③ entity linking — broadcast dictionary join + JVM similarity score
# ---------------------------------------------------------------------------

def link_entities(
    mentions: DataFrame, spark: SparkSession, sf_dir: str, min_score: float = 0.9
) -> DataFrame:
    """→ (doc_id, offset, mention, entity_uri, score).

    Customer mentions: parse the key, broadcast-join the customer dim to
    verify existence, score = normalized levenshtein similarity between
    the surface form and the canonical name (all JVM-side).
    Topic mentions: direct dictionary map."""
    cust = F.broadcast(
        spark.read.parquet(f"{sf_dir}/customer.parquet").select("c_custkey", "c_name")
    )
    is_cust = F.col("mention").rlike("^" + _MENTION_RE + "$")
    topic_map = F.create_map(
        *[x for t in TOPIC_TERMS for x in (F.lit(t), F.lit(EX + "topic/" + t))]
    )
    # ONE pass over mentions (was: two filtered branches + union, which
    # doubled the scan of the mention cache and the downstream partition
    # count).  The broadcast dim joins on the parsed key (NULL for topic
    # mentions, so topic rows pass through the left join unmatched);
    # customer-mention semantics stay inner-join via the entity_uri
    # NULL filter.  Row set is identical to the old union.
    m = mentions.withColumn(
        "k",
        F.when(is_cust, F.regexp_extract("mention", r"(\d{9})$", 1).cast("bigint")),
    ).join(cust, F.col("k") == F.col("c_custkey"), "left")
    entity_uri = F.when(
        is_cust,
        F.when(
            F.col("c_custkey").isNotNull(),
            F.concat(F.lit(EX + "customer/"), F.col("c_custkey")),
        ),
    ).otherwise(F.element_at(topic_map, F.col("mention")))
    score = F.when(
        is_cust,
        F.round(
            1
            - F.levenshtein("mention", "c_name")
            / F.greatest(F.length("mention"), F.length("c_name")),
            6,
        ),
    ).otherwise(F.lit(1.0))
    return (
        m.select(
            "doc_id",
            "offset",
            "mention",
            entity_uri.alias("entity_uri"),
            score.alias("score"),
        )
        .filter(F.col("entity_uri").isNotNull())
        .filter(F.col("score") >= min_score)
    )


def mention_triples(links: DataFrame) -> DataFrame:
    """Linked mentions → triples:
       doc --ex:mentions--> alias-URI  plus  alias-URI owl:sameAs entity-URI.
    The alias URI (minted from the surface form) is what canonicalization
    collapses onto the entity URI via connected components."""
    doc_uri = F.concat(F.lit(EX + "doc/"), F.col("doc_id"))
    alias_uri = F.concat(
        F.lit(EX + "entity/"),
        F.url_encode(F.col("mention")),
    )
    nul = F.lit(None).cast("string")
    # ONE pass: each link row explodes into its two triples (was: two
    # projections + union = two scans of the links cache and double the
    # output partition count)
    pair = F.array(
        F.struct(
            doc_uri.alias("subj"),
            F.lit(EX + "mentions").alias("pred"),
            alias_uri.alias("obj"),
            nul.alias("obj_datatype"),
            nul.alias("obj_lang"),
            F.lit(False).alias("is_literal"),
        ),
        F.struct(
            alias_uri.alias("subj"),
            F.lit(OWL_SAMEAS).alias("pred"),
            F.col("entity_uri").alias("obj"),
            nul.alias("obj_datatype"),
            nul.alias("obj_lang"),
            F.lit(False).alias("is_literal"),
        ),
    )
    return links.select(F.explode(pair).alias("t")).select("t.*")


# ---------------------------------------------------------------------------
# ⑤ materialize with skew-aware layout
# ---------------------------------------------------------------------------

def materialize_triples(
    triples: DataFrame, path: str, salt_buckets: int = 16
) -> None:
    """Dedup + write partitioned by predicate.  The physical shuffle key
    is (pred, salt(subj)) so a hub entity's triples spread over
    `salt_buckets` tasks instead of one straggler — the salted
    repartitioning the north rule names."""
    out = (
        distinct_triples(triples)
        .withColumn("salt", F.pmod(F.xxhash64("subj"), F.lit(salt_buckets)))
        .repartition(F.col("pred"), F.col("salt"))
        .drop("salt")
    )
    # Spark escapes URI characters in partition dir names automatically
    out.write.mode("overwrite").partitionBy("pred").parquet(path)


# ---------------------------------------------------------------------------
# ⑥ full pipeline with checkpoints
# ---------------------------------------------------------------------------

def build_kg(
    spark: SparkSession,
    sf_dir: str,
    root: Optional[str] = None,
    force: bool = False,
) -> DataFrame:
    """Run all stages; returns the final triple DataFrame.  With `root`
    set, every stage checkpoints (resumable, with lineage + metrics)."""
    from ont_d2rq_spark.checkpoint import run_stage, triple_count_metrics
    from ont_d2rq_spark.operators.cc import (
        canonicalize_sameas,
        rewrite_triples_canonical,
    )

    # Uncheckpointed, only stages with two consumers keep their rows, by
    # localCheckpoint: the blocks belong to the RDD, so the ContextCleaner
    # frees them once the caller drops the result.  docs (integrity count,
    # mentions) fills at that count; raw (sameAs edges, rewrite) at CC's
    # first star test; canon at once, because its two rewrite
    # broadcasts build in parallel threads and would race to fill it.
    # `reused` maps each such stage to whether it fills at once.
    reused = {"docs_interleaved": False, "raw_triples": False, "canonical_map": True}

    def stage(name, compute):
        if root is not None:
            return run_stage(spark, root, name, compute, force=force)
        out = compute()
        return out.localCheckpoint(eager=reused[name]) if name in reused else out

    docs = stage("docs_interleaved", lambda: synthesize_interleaved(spark, sf_dir))
    assert_span_integrity(docs)
    mentions = stage("mentions", lambda: detect_mentions(docs))
    links = stage("entity_links", lambda: link_entities(mentions, spark, sf_dir))
    raw = stage("raw_triples", lambda: mention_triples(links))

    def compute_canon():
        sameas = raw.filter(F.col("pred") == OWL_SAMEAS).select(
            F.col("subj").alias("src"), F.col("obj").alias("dst")
        )
        return canonicalize_sameas(sameas, alias_prefix=EX + "entity/")

    canon = stage("canonical_map", compute_canon)
    final = distinct_triples(
        rewrite_triples_canonical(raw.filter(F.col("pred") != OWL_SAMEAS), canon)
    )
    if root is not None:
        final = run_stage(
            spark,
            root,
            "kg_triples",
            lambda: final,
            metrics=triple_count_metrics,
            force=force,
        )
    return final
