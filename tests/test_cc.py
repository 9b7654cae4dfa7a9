"""Connected-components (large-star/small-star) correctness."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from conftest import assert_filled
from ont_d2rq_spark.operators.cc import (
    canonicalize_sameas,
    connected_components,
    rewrite_triples_canonical,
)


def cc_dict(df):
    return {r["node"]: r["component"] for r in df.collect()}


def test_two_components(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "src bigint, dst bigint"
    )
    got = cc_dict(connected_components(edges))
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_chain_and_star(spark):
    # long chain exercises multiple iterations; star exercises hubs
    chain = [(i, i + 1) for i in range(0, 30)]
    star = [(100, 100 + i) for i in range(1, 50)]
    edges = spark.createDataFrame(chain + star, "src bigint, dst bigint")
    comp = connected_components(edges)
    assert_filled(comp)
    got = cc_dict(comp)
    assert all(got[i] == 0 for i in range(31))
    assert all(got[100 + i] == 100 for i in range(50))


def test_direction_and_self_loops_ignored(spark):
    edges = spark.createDataFrame(
        [(2, 1), (1, 2), (3, 3), (3, 2)], "src bigint, dst bigint"
    )
    got = cc_dict(connected_components(edges))
    assert got == {1: 1, 2: 1, 3: 1}


def test_string_nodes_and_alias_preference(spark):
    edges = spark.createDataFrame(
        [
            ("http://x/entity/A", "http://x/customer/5"),
            ("http://x/entity/B", "http://x/customer/5"),
            ("http://x/entity/C", "http://x/entity/D"),
        ],
        "src string, dst string",
    )
    m = {
        r["uri"]: r["canonical_uri"]
        for r in canonicalize_sameas(edges, alias_prefix="http://x/entity/").collect()
    }
    # all aliases of customer/5 collapse onto the REAL entity uri
    assert m["http://x/entity/A"] == "http://x/customer/5"
    assert m["http://x/entity/B"] == "http://x/customer/5"
    assert m["http://x/customer/5"] == "http://x/customer/5"
    # pure-alias component: representative is the min alias
    assert m["http://x/entity/D"] == "http://x/entity/C"


def test_rewrite_triples(spark):
    triples = spark.createDataFrame(
        pd.DataFrame(
            {
                "subj": ["a", "b"],
                "pred": ["p", "p"],
                "obj": ["b", "lit"],
                "obj_datatype": [None, None],
                "obj_lang": [None, None],
                "is_literal": [False, True],
            }
        )
    )
    mapping = spark.createDataFrame(
        [("a", "A"), ("b", "A")], "uri string, canonical_uri string"
    )
    got = {tuple(r) for r in rewrite_triples_canonical(triples, mapping).collect()}
    # subj a,b → A; uri object b → A; literal 'lit' untouched even though
    # a node named 'lit' could exist
    assert got == {
        ("A", "p", "A", None, None, False),
        ("A", "p", "lit", None, None, True),
    }


def test_small_star_orientation_and_equivalence(spark):
    """r7: _small_star output rows are already canonically oriented
    (u > v), so the former greatest/least re-canonicalization pass was
    an identity — assert both the invariant and set-equality with the
    old formulation on a random-ish graph."""
    import random

    from pyspark.sql import functions as F

    from ont_d2rq_spark.operators.cc import _canon_edges, _large_star, _small_star

    rnd = random.Random(7)
    rows = [(rnd.randrange(60), rnd.randrange(60)) for _ in range(300)]
    e = _canon_edges(
        spark.createDataFrame(rows, "src bigint, dst bigint"), "src", "dst"
    )
    for step in (e, _large_star(e)):
        out = _small_star(step)
        assert out.filter(F.col("u") <= F.col("v")).count() == 0
        old = out.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        assert out.exceptAll(old).count() == 0 and old.exceptAll(out).count() == 0


def _union_find(rows):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # nodes with only self-loops have no edge, so no row
    nodes = {x for a, b in rows if a != b for x in (a, b)}
    return {x: find(x) for x in nodes}


def _random_graph(seed, nodes=60, edges=300):
    import random

    rnd = random.Random(seed)
    return [(rnd.randrange(nodes), rnd.randrange(nodes)) for _ in range(edges)]


@pytest.mark.parametrize(
    "rows",
    [_random_graph(seed) for seed in range(5)]
    + [[(i, i + 1) for i in range(0, 30)] + [(100, 100 + i) for i in range(1, 50)]],
    ids=[f"random{seed}" for seed in range(5)] + ["chain_and_star"],
)
def test_matches_union_find(spark, rows):
    edges = spark.createDataFrame(rows, "src bigint, dst bigint")
    assert cc_dict(connected_components(edges)) == _union_find(rows)


def test_star_input_runs_no_round(spark, monkeypatch):
    """Alias→entity pairs are already stars on their minimum node: the
    star test holds before the first round, so no round runs."""
    from ont_d2rq_spark.operators import cc

    calls = []
    large_star = cc._large_star
    monkeypatch.setattr(cc, "_large_star", lambda e: calls.append(1) or large_star(e))
    rows = [
        (f"http://x/entity/{a}{c}", f"http://x/customer/{c}")
        for c in range(5)
        for a in "ABC"
    ]
    edges = spark.createDataFrame(rows, "src string, dst string")
    got = cc_dict(cc.connected_components(edges))
    assert calls == []
    assert got == _union_find(rows)


def test_not_stars_after_max_iterations_raises(spark):
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "src bigint, dst bigint"
    )
    with pytest.raises(RuntimeError, match="not stars"):
        connected_components(edges, max_iterations=1)
