"""SPARQL rewrite, OPTIONAL, typed-literal and as-of join edge cases, pinned.

1. _rewrite_builtins must not rewrite inside quoted string constants.
2. A query with only OPTIONAL groups (no basic patterns) returns the
   optional bindings, not one empty row.
3. OPTIONAL with disjoint variable domains preserves left solutions
   when the right side is empty (SPARQL leftjoin).
4. asof_join breaks (by, on) ties deterministically.
5. RDF 1.1 plain-literal ≡ xsd:string in typed unification.
"""

import pytest

from ont_d2rq_spark.examples import tpch_mapping
from ont_d2rq_spark.graph import VirtualGraph
from ont_d2rq_spark.sparql import _rewrite_builtins, execute

SF = "/root/testdata/sf0.001"
XSD = "http://www.w3.org/2001/XMLSchema#"


@pytest.fixture(scope="module")
def graph(spark):
    return VirtualGraph(tpch_mapping(SF), spark)


# ---- 1: string constants survive the builtin/operator rewrites ----------


def test_rewrite_keeps_operators_inside_strings():
    out = _rewrite_builtins("name = 'Tom&&Jerry'")
    assert "'Tom&&Jerry'" in out and "AND" not in out
    out = _rewrite_builtins('name != "Hello!World" && flag')
    assert '"Hello!World"' in out and " AND " in out and "NOT" not in out.split('"')[2 - 1]
    # builtin-shaped text inside a literal is untouched
    out = _rewrite_builtins("x = 'lang(y)' || bound(z)")
    assert "'lang(y)'" in out and "(z IS NOT NULL)" in out and " OR " in out


def test_rewrite_regex_flags_and_masked_pattern():
    out = _rewrite_builtins("regex(name, 'a&&b', 'i')")
    assert out == "regexp_like(name, '(?i)a&&b')"
    out = _rewrite_builtins("regex(name, \"^Cust\")")
    assert out == 'regexp_like(name, "^Cust")'


def test_filter_with_operator_chars_in_literal(graph):
    # equality against a literal containing && / ! must compare the
    # literal verbatim (a corrupted rewrite would compare 'x AND y')
    df = execute(
        graph,
        """PREFIX ex: <http://example.org/>
        SELECT ?name WHERE {
            ?n a ex:Nation . ?n ex:name ?name .
            FILTER (?name != "NO&&SUCH!NATION")
        }""",
    )
    assert df.count() == 25


# ---- 2: OPTIONAL-only query --------------------------------------------


def test_optional_only_query_returns_bindings(graph):
    df = execute(
        graph,
        """PREFIX ex: <http://example.org/>
        SELECT * WHERE { OPTIONAL { ?r a ex:Region . ?r ex:name ?rn } }""",
    )
    rows = df.collect()
    assert len(rows) == 5 and all(r["rn"] is not None for r in rows)


# ---- 3: disjoint-domain OPTIONAL with empty right side ------------------


def test_optional_disjoint_empty_right_preserves_left(graph):
    base = execute(
        graph,
        """PREFIX ex: <http://example.org/>
        SELECT ?rn WHERE { ?r a ex:Region . ?r ex:name ?rn }""",
    )
    kept = execute(
        graph,
        """PREFIX ex: <http://example.org/>
        SELECT ?rn WHERE {
            ?r a ex:Region . ?r ex:name ?rn .
            OPTIONAL { ?x ex:noSuchPredicate ?y }
        }""",
    )
    assert kept.count() == base.count() == 5


# ---- 4: asof tie determinism --------------------------------------------


def test_asof_tie_deterministic(spark):
    from ont_d2rq_spark.operators.asof import asof_join

    left = spark.createDataFrame([("k", 10)], "by string, on int")
    payloads = [("k", 10, f"p{i}") for i in range(8)]
    right = spark.createDataFrame(payloads, "by string, on int, v string")
    picks = set()
    for parts in (1, 4, 8):
        out = asof_join(
            left, right.repartition(parts), on="on", by="by", right_cols=["v"]
        ).collect()
        assert len(out) == 1
        picks.add(out[0]["v_asof"])
    assert len(picks) == 1  # same winner under every partitioning


# ---- 5: plain literal ≡ xsd:string --------------------------------------


def test_xsd_string_matches_plain_literal(graph):
    # nation names are plain string literals (no lang tag)
    assert graph.find(o="NATION_2", o_datatype=XSD + "string").count() >= 1
    hit = execute(
        graph,
        """PREFIX ex: <http://example.org/>
        PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        ASK WHERE { ?n ex:name "NATION_2"^^xsd:string . }""",
    ).first()["ask"]
    assert hit
