"""Metamorphic FindTest (reference: find/FindTest.java discipline,
generalized): for ANY triple in the dump, find() with every combination
of its terms bound must return exactly the dump rows matching that
pattern.  This pins the node-binding inversion (P3), typed pushdown,
relation pruning, and limit-free evaluation against the ground truth —
whatever bridge mix produced the triple."""

import pytest
from pyspark.sql import functions as F

from ont_d2rq_spark.examples import tpch_mapping
from ont_d2rq_spark.graph import VirtualGraph

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def graph(spark):
    return VirtualGraph(tpch_mapping(SF), spark)


@pytest.fixture(scope="module")
def dump(graph):
    df = graph.triples(fuse=True, distinct=False).cache()
    yield df
    df.unpersist()


def rows(df):
    return {tuple(r) for r in df.collect()}


def test_find_matches_dump_for_sampled_triples(graph, dump):
    # deterministic sample: one triple per predicate (orderBy pins it)
    sample = (
        dump.groupBy("pred")
        .agg(F.min(F.struct("subj", "obj", "is_literal")).alias("t"))
        .select("pred", "t.subj", "t.obj", "t.is_literal")
        .collect()
    )
    assert len(sample) >= 8
    for r in sample:
        s, p, o = r["subj"], r["pred"], r["obj"]
        for bound in [(s, None, None), (None, p, None), (s, p, None), (s, p, o)]:
            bs, bp, bo = bound
            got = rows(graph.find(s=bs, p=bp, o=bo))
            cond = F.lit(True)
            if bs is not None:
                cond = cond & (F.col("subj") == bs)
            if bp is not None:
                cond = cond & (F.col("pred") == bp)
            if bo is not None:
                cond = cond & (F.col("obj") == bo)
            want = rows(dump.filter(cond))
            assert got == want, f"find({bound}) mismatch for pred {p}"


def test_find_bound_object_every_kind(graph, dump):
    """Object binding across node kinds: URI object, typed literal,
    lang literal, bnode label, translated URI."""
    preds = {
        "http://example.org/inNation": None,       # URI object (join)
        "http://example.org/acctbal": None,        # xsd:double literal
        "http://example.org/name": None,           # @en literal (customer)
        "http://example.org/quantity": None,       # bnode-subject bridge
        "http://example.org/marketSegment": None,  # translated URI
    }
    for p in preds:
        o = dump.filter(F.col("pred") == p).select("obj").first()["obj"]
        got = rows(graph.find(p=p, o=o))
        want = rows(dump.filter((F.col("pred") == p) & (F.col("obj") == o)))
        assert got == want and got, p


def test_find_nonexistent_prunes_everything(graph):
    assert graph.find(s="http://example.org/nosuch/1").count() == 0
    assert graph.find(p="http://example.org/nosuchpred").count() == 0
    assert graph.find(o="@@no-such-value@@").count() == 0
