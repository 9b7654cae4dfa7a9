"""North-star interleaved-document pipeline (SURVEY §7.4)."""

import pytest
from pyspark.sql import functions as F

from ont_d2rq_spark.pipeline import docs as P

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def interleaved(spark):
    df = P.synthesize_interleaved(spark, SF).cache()
    yield df
    df.unpersist()


def test_shape_matches_input_hint(interleaved):
    s = dict(interleaved.dtypes)
    assert s["doc_id"] == "string"
    assert (
        s["spans"]
        == "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    )


def test_span_integrity_holds(interleaved):
    P.assert_span_integrity(interleaved)


def test_span_integrity_catches_violation(spark, interleaved):
    # reverse offsets in one doc → violation detected
    broken = interleaved.withColumn(
        "spans",
        F.transform(
            "spans",
            lambda s: F.struct(
                s["kind"].alias("kind"),
                s["text"].alias("text"),
                s["media_ref"].alias("media_ref"),
                (-s["offset"]).alias("offset"),
            ),
        ),
    )
    with pytest.raises(AssertionError):
        P.assert_span_integrity(broken)


def test_media_spans_null_text(interleaved):
    spans = interleaved.select(F.explode("spans").alias("s")).select("s.*")
    assert spans.filter((F.col("kind") == "image") & F.col("text").isNotNull()).count() == 0
    assert spans.filter((F.col("kind") == "text") & F.col("media_ref").isNotNull()).count() == 0
    assert spans.filter((F.col("kind") == "image") & F.col("media_ref").isNull()).count() == 0


def test_hub_docs_exist(interleaved):
    sizes = interleaved.select(F.size("spans").alias("n"))
    assert sizes.filter(F.col("n") >= P.HUB_EXTRA).count() >= 5  # ~1% of 500


def test_mentions_deterministic_and_linked(spark, interleaved):
    mentions = P.detect_mentions(interleaved)
    m1 = mentions.count()
    assert m1 > 0
    # every customer mention parses to an existing customer → all link
    links = P.link_entities(mentions, spark, SF)
    cust_mentions = mentions.filter(F.col("mention").startswith("Customer#")).count()
    cust_links = links.filter(F.col("entity_uri").contains("/customer/")).count()
    assert cust_mentions == cust_links
    assert links.filter(F.col("score") < 0.9).count() == 0


def test_synthesis_counts_partitioned_customer_dir(spark, tmp_path, interleaved):
    """A Hive-partitioned, nested customer/ directory yields the exact
    customer count, so synthesis over it reproduces the single-file
    rows (a top-level *.parquet listing counted 0 and broke the mention
    modulus)."""
    import shutil

    shutil.copy(f"{SF}/documents.parquet", tmp_path / "documents.parquet")
    cust = str(tmp_path / "customer.parquet")
    spark.read.parquet(f"{SF}/customer.parquet").write.partitionBy(
        "c_mktsegment", "c_nationkey"
    ).parquet(cust)
    got = P.synthesize_interleaved(spark, str(tmp_path))
    assert sorted(got.collect()) == sorted(interleaved.collect())
    from ont_d2rq_spark.sources.tables import parquet_rows

    assert parquet_rows(spark, cust) == parquet_rows(spark, f"{SF}/customer.parquet") == 150


def test_build_kg_checkpointed_and_resumable(spark, tmp_path):
    root = str(tmp_path / "kg")
    kg1 = P.build_kg(spark, SF, root=root)
    n1 = kg1.count()
    assert n1 > 0
    # aliases were canonicalized: no entity/ alias URIs survive as objects
    # of ex:mentions for customer mentions
    objs = {r[0] for r in kg1.select("obj").distinct().collect()}
    assert not any("entity/Customer%23" in o for o in objs)
    assert any("/customer/" in o for o in objs)
    # resume path: identical output without recompute
    kg2 = P.build_kg(spark, SF, root=root)
    assert kg2.count() == n1
    # lineage + metrics exist for every stage
    from ont_d2rq_spark.checkpoint import read_lineage, read_metrics

    for stage in ["docs_interleaved", "mentions", "entity_links", "raw_triples", "kg_triples"]:
        assert read_lineage(spark, root, stage).count() > 0
    m = read_metrics(spark, root, "kg_triples")
    assert m.filter(F.col("pred").contains("mentions")).count() == 1


def test_materialize_partitioned_by_pred(spark, tmp_path, interleaved):
    mentions = P.detect_mentions(interleaved)
    links = P.link_entities(mentions, spark, SF)
    triples = P.mention_triples(links)
    out = str(tmp_path / "mat")
    P.materialize_triples(triples, out)
    back = spark.read.parquet(out)
    assert set(back.columns) == {"subj", "pred", "obj", "obj_datatype", "obj_lang", "is_literal"}
    import os

    parts = [d for d in os.listdir(out) if d.startswith("pred=")]
    assert len(parts) >= 2  # mentions + sameAs
    # dedup happened
    assert back.count() == back.dropDuplicates(["subj", "pred", "obj"]).count()


@pytest.mark.parametrize(
    "text,expected",
    [
        ("x#spark", ["spark"]),
        ("#join#", ["join"]),
        ("naïve window", ["window"]),
        ("Ωstream", []),
        ("filter2", []),
        ("Customer#0000000012", ["Customer#000000001"]),
        # Java's \d is ASCII: Arabic-Indic digits are no customer key,
        # as the pipeline oracle's Customer#[0-9]{9} says
        ("Customer#١٢٣٤٥٦٧٨٩", []),
        ("join spark Customer#000000007 stream", ["Customer#000000007", "join", "spark", "stream"]),
    ],
)
def test_detect_mentions_regex_edges(spark, text, expected):
    docs = spark.createDataFrame(
        [("d", [("text", text, None, 0)])], "doc_id string, spans " + P.SPAN_SCHEMA
    )
    assert [r["mention"] for r in P.detect_mentions(docs).collect()] == expected
