"""SPARQL groups as one algebra tree (SPARQL 1.1 §18.2.2): elements
apply in the order written, FROM composes with nested groups, and the
mapping answers every query the way a plain triple frame of its own dump
does."""

from collections import Counter

import pytest

from conftest import SF_SMALL as SF
from conftest import triples_dataset
from ont_d2rq_spark import queries
from ont_d2rq_spark.compiler.relation import TRIPLE_SCHEMA
from ont_d2rq_spark.examples import tpch_mapping
from ont_d2rq_spark.graph import VirtualGraph
from ont_d2rq_spark.sparql import execute

EX = "http://example.org/"
OWL = "http://www.w3.org/2002/07/owl#"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"
PFX = f"PREFIX ex: <{EX}> PREFIX : <http://e/> "


def _rows(df) -> Counter:
    return Counter(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def graph(spark):
    return VirtualGraph(tpch_mapping(SF), spark)


# ---------------------------------------------------------------------------
# the written order decides: a triple block after OPTIONAL or BIND joins
# the group so far, and a projected variable nothing binds is unbound
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "where, want",
    [
        # Join(LeftJoin(…), BGP): ?c = c1 from the OPTIONAL cannot join c2
        ("?a :p ?b OPTIONAL { ?b :q ?c } ?c :r ?d", []),
        # Join(Extend(BGP, ?x, :zz), BGP): ?x = :zz has no :r edge
        ("?s :p ?o BIND(:zz AS ?x) ?x :r ?y", []),
        # control: the same patterns before the OPTIONAL
        ("?a :p ?b ?c :r ?d OPTIONAL { ?b :q ?c }",
         [("http://e/a", "http://e/b1", "http://e/c2", "http://e/d2")]),
        # the group's FILTER applies after the OPTIONAL written after it
        ("?a :p ?b FILTER(!BOUND(?c)) OPTIONAL { ?b :q ?c }", []),
    ],
)
def test_group_elements_apply_in_written_order(spark, where, want):
    rows = [
        ("http://e/a", "http://e/p", "http://e/b1", None, None, False),
        ("http://e/b1", "http://e/q", "http://e/c1", None, None, False),
        ("http://e/c2", "http://e/r", "http://e/d2", None, None, False),
    ]
    g = triples_dataset(spark.createDataFrame(rows, TRIPLE_SCHEMA))
    got = execute(g, PFX + f"SELECT ?a ?b ?c ?d WHERE {{ {where} }}").collect()
    assert [tuple(r) for r in got] == want


def test_projected_variable_nothing_binds_is_unbound(graph):
    got = execute(graph, "SELECT ?x ?y WHERE { BIND(1 AS ?x) }").collect()
    assert [tuple(r) for r in got] == [(1, None)]


# ---------------------------------------------------------------------------
# FROM: the dataset view takes the same BGP call as the graph
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "where",
    [
        f"?n a ex:Nation OPTIONAL {{ ?n ex:inRegion ?r FILTER(?r = <{EX}region/1>) }}",
        f"?n a ex:Nation MINUS {{ ?n ex:inRegion <{EX}region/1> }}",
        "?n a ex:Nation { ?n ex:inRegion ?r } UNION { ?n ex:name ?r }",
    ],
    ids=["optional", "minus", "union"],
)
def test_from_data_graph_with_nested_group(graph, where):
    plain = execute(graph, PFX + f"SELECT * WHERE {{ {where} }}")
    scoped = execute(
        graph, PFX + f"SELECT * FROM <{graph.data_graph_iri}> WHERE {{ {where} }}"
    )
    assert _rows(scoped) == _rows(plain) and plain.count() > 0


# ---------------------------------------------------------------------------
# the mapping agrees with a triple frame of its own dump: candidate
# binding, limitInverse and cross-group pruning exist only on the mapping
# side, so any disagreement is theirs
# ---------------------------------------------------------------------------

REGISTRY = [k for k in queries.QUERIES if k.startswith("sparql_")]

SHAPES = {
    "optional_then_triples": f"""SELECT ?n ?r ?rn WHERE {{
        ?n a ex:Nation
        OPTIONAL {{ ?n ex:inRegion ?r FILTER(?r != <{EX}region/1>) }}
        ?r ex:name ?rn }}""",
    "bind_then_triples": f"""SELECT ?r ?x ?y WHERE {{
        ?r a ex:Region BIND(<{EX}nation/1> AS ?x) ?x ex:inRegion ?y }}""",
    "projected_unbound": "SELECT ?x ?y WHERE { BIND(1 AS ?x) }",
    "filter_before_optional": """SELECT ?n ?rn WHERE {
        ?n ex:inRegion ?r FILTER(!BOUND(?rn))
        OPTIONAL { ?r ex:name ?rn FILTER(?rn = "ASIA") } }""",
    # a left-nullable ?n shared with an OPTIONAL (one-sided decomposition)
    "left_nullable_optional": f"""SELECT ?s ?n ?c WHERE {{
        ?s a ex:Supplier
        OPTIONAL {{ ?s ex:inNation ?n FILTER(?n != <{EX}nation/1>) }}
        OPTIONAL {{ ?c ex:inNation ?n . ?c a ex:Customer }} }}""",
    # a right-nullable ?n from a subquery (symmetric decomposition)
    "right_nullable_subquery": f"""SELECT ?c ?n WHERE {{
        ?c ex:inNation ?n
        {{ SELECT ?c ?n WHERE {{
            ?c a ex:Customer
            OPTIONAL {{ ?c ex:inNation ?n FILTER(?n != <{EX}nation/1>) }} }} }} }}""",
    # the default graph serves the vocabulary (d2rq:serveVocabulary)
    "count_all": "SELECT (COUNT(*) AS ?n) WHERE { ?s ?p ?o }",
    "vocabulary_classes": f"PREFIX owl: <{OWL}> SELECT ?c WHERE {{ ?c a owl:Class }}",
    # vocabulary and bridge candidates pruned against each other on ?p
    "vocabulary_cross_join": f"""PREFIX rdfs: <{RDFS}>
        SELECT ?p ?x ?y WHERE {{ ?p rdfs:domain ex:Nation . ?x ?p ?y }}""",
    "describe_class": f"DESCRIBE <{EX}Customer>",
}


@pytest.fixture(scope="module")
def dump_graph(graph):
    """The mapping's dataset with every graph materialized: each
    source's dump (triples(), distinct='auto') as one triple frame.  The
    dump keeps the multiset the bridges mint — sf0.001 repeats some
    lineitem keys, so a deduplicated dump would count fewer solutions
    than the mapping by design."""
    ds = graph.dataset()
    sources = {None: ds.default, **ds.named}
    frames = {iri: src.triples().cache() for iri, src in sources.items()}
    default = frames.pop(None)
    yield triples_dataset(default, frames)
    for f in [default, *frames.values()]:
        f.unpersist()


def _answer(g, spark, case, monkeypatch):
    if case in SHAPES:
        return _rows(execute(g, PFX + SHAPES[case]))
    monkeypatch.setattr(queries, "_graph", lambda spark, sf_dir: g)
    return _rows(queries.QUERIES[case](spark, SF))


@pytest.mark.parametrize("case", REGISTRY + list(SHAPES))
def test_mapping_agrees_with_its_dump(spark, graph, dump_graph, case, monkeypatch):
    want = _answer(dump_graph, spark, case, monkeypatch)
    assert _answer(graph, spark, case, monkeypatch) == want


# ---------------------------------------------------------------------------
# one dataset for every read: the default graph serves the vocabulary,
# the data graph does not, and FROM / GRAPH read only what they name
# ---------------------------------------------------------------------------

DATA = "urn:x-d2rq:graph:data"
VOCABULARY = "urn:x-d2rq:graph:vocabulary"


def test_vocabulary_is_in_the_default_graph_only(graph):
    from ont_d2rq_spark import RDF_TYPE
    from ont_d2rq_spark.schema_graph import schema_rows

    classes = {r[0] for r in schema_rows(graph.mapping) if r[1:3] == (RDF_TYPE, OWL + "Class")}

    def answer(dataset, where):
        q = f"PREFIX owl: <{OWL}> SELECT ?c {dataset} WHERE {{ {where} }}"
        return sorted(r["c"] for r in execute(graph, q).collect())

    assert classes and answer("", "?c a owl:Class") == sorted(classes)
    assert answer(f"FROM <{DATA}>", "?c a owl:Class") == []
    assert answer(f"FROM <{DATA}> FROM <urn:nope>", "?c a owl:Class") == []
    assert answer("", f"GRAPH <{DATA}> {{ ?c a owl:Class }}") == []


def test_describe_reads_the_from_graph(graph):
    q = f"DESCRIBE <{EX}customer/1>"
    assert execute(graph, q).count() > 0
    assert execute(graph, f"{q} FROM <{VOCABULARY}>").count() == 0


def test_graph_variable_without_named_graphs_is_empty(graph):
    df = execute(graph, f"SELECT * FROM <{DATA}> WHERE {{ GRAPH ?g {{ ?s ?p ?o }} }}")
    assert df.columns == ["g", "s", "p", "o"]
    assert df.count() == 0
