"""One BGP evaluator over two sources: the mapping (VirtualGraph.bgp)
and a materialized triple frame (bgp_over_triples over the same graph's
triples) must give the same solutions for every pattern kind, and
SELECT * lists the variables in order of first appearance whichever
source answers."""

from collections import Counter

import pytest

from ont_d2rq_spark.examples import tpch_mapping
from ont_d2rq_spark.graph import (
    Lit,
    NegatedSet,
    PathGroup,
    PathPlus,
    VirtualGraph,
    _is_companion,
    bgp_over_triples,
)
from ont_d2rq_spark.sparql import RDF_TYPE, execute

SF = "/root/testdata/sf0.001"
EX = "http://example.org/"
XSD_DATE = "http://www.w3.org/2001/XMLSchema#date"
NATION = ("?n", RDF_TYPE, EX + "Nation")


@pytest.fixture(scope="module")
def graph(spark):
    return VirtualGraph(tpch_mapping(SF), spark)


@pytest.fixture(scope="module")
def tdf(graph):
    t = graph.triples().cache()
    t.count()
    yield t
    t.unpersist()


def _rows(df, cols):
    return Counter(tuple(r) for r in df.select(*cols).collect())


def _order_date(graph):
    return graph.find(p=EX + "orderDate").first()["obj"]


PATTERNS = {
    "plain": lambda g: [("?c", EX + "inNation", "?n")],
    "repeated_var": lambda g: [("?x", "?p", "?x")],
    "alternation": lambda g: [("?s", (EX + "inNation", EX + "inRegion"), "?o")],
    "typed_literal": lambda g: [
        ("?o", EX + "orderDate", Lit(_order_date(g), datatype=XSD_DATE))
    ],
    "negated": lambda g: [NATION, ("?n", NegatedSet(fwd=(EX + "name", RDF_TYPE)), "?x")],
    "negated_inverse": lambda g: [
        NATION, ("?n", NegatedSet(inv=(EX + "name",)), "?x")
    ],
    "negated_mixed": lambda g: [
        NATION, ("?n", NegatedSet(fwd=(EX + "name", RDF_TYPE), inv=(EX + "name",)), "?x")
    ],
    "sequence": lambda g: [
        ("?c", EX + "inNation", "?__s0"), ("?__s0", EX + "inRegion", "?r")
    ],
}
for _mod in "+*?":
    PATTERNS[f"path{_mod}_var_var"] = lambda g, m=_mod: [
        ("?n", PathPlus(EX + "inRegion", m), "?r")
    ]
    PATTERNS[f"path{_mod}_const_var"] = lambda g, m=_mod: [
        (EX + "nation/3", PathPlus(EX + "inRegion", m), "?r")
    ]
# `(ex:inNation|ex:inRegion)+` as the parser builds it: customer → nation → region
PATTERNS["path_group_const_var"] = lambda g: [
    (EX + "customer/1",
     PathPlus(PathGroup([("?__cs", (EX + "inNation", EX + "inRegion"), "?__co")]), "+"),
     "?b")
]


@pytest.mark.parametrize("kind", sorted(PATTERNS))
def test_mapping_and_triple_frame_agree(graph, tdf, kind):
    pats = PATTERNS[kind](graph)
    a = graph.bgp(pats)
    b = bgp_over_triples(tdf, pats)
    shared = sorted(c for c in a.columns if c in b.columns)
    assert [c for c in shared if not _is_companion(c)], (a.columns, b.columns)
    got_a, got_b = _rows(a, shared), _rows(b, shared)
    assert got_a == got_b
    if kind != "repeated_var":  # no triple of the TPC-H mapping loops to itself
        assert got_a, f"{kind} matched nothing; the comparison would be vacuous"


SELECT_STAR = f"""PREFIX ex: <{EX}>
SELECT * {{FROM}} WHERE {{
  ?c ex:name ?name . ?c ex:inNation ?n . ?n ex:inRegion <{EX}region/1> }}"""


def test_select_star_lists_variables_in_order_of_first_appearance(graph):
    """The data graph and a two-graph FROM merge (the triple-frame path)
    join in different orders, but SELECT * follows the query text."""
    data = execute(graph, SELECT_STAR.replace("{FROM}", ""))
    merged = execute(
        graph,
        SELECT_STAR.replace(
            "{FROM}", f"FROM <{graph.data_graph_iri}> FROM <{graph.vocabulary_graph_iri}>"
        ),
    )
    assert data.columns == ["c", "name", "n"]
    assert merged.columns == ["c", "name", "n"]
    assert Counter(map(tuple, data.collect())) == Counter(map(tuple, merged.collect()))


@pytest.mark.parametrize(
    "query",
    [
        f"PREFIX ex: <{EX}> SELECT ?s ?o WHERE {{ ?s ex:nothere ?o }}",
        f"PREFIX ex: <{EX}> SELECT * WHERE {{ ?s ex:nothere ?o }}",
    ],
)
def test_pattern_without_candidate_binds_its_variables(graph, query):
    df = execute(graph, query)
    assert df.columns == ["s", "o"]
    assert df.count() == 0


def test_path_without_candidate_binds_its_endpoints(graph):
    df = graph.bgp([("?a", PathPlus(EX + "nothere", "+"), "?b")])
    assert [c for c in df.columns if not _is_companion(c)] == ["a", "b"]
    assert df.count() == 0
