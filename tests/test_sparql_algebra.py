"""SPARQL groups as one algebra tree (SPARQL 1.1 §18.2.2): elements
apply in the order written, FROM composes with nested groups, and the
mapping answers every query the way a plain triple frame of its own dump
does."""

from collections import Counter

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMALL as SF
from conftest import triples_dataset
from ont_d2rq_spark import queries
from ont_d2rq_spark.compiler.relation import (
    TRIPLE_SCHEMA,
    canonical_term,
    distinct_triples,
    term_key,
)
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
# one RDF term identity (RDF 1.1 Concepts §3.3): every operator that
# compares two terms reads the term key, so an IRI is never its lexical
# form as a literal, "1"@en is not "1"@de, and xsd:string is plain
# ---------------------------------------------------------------------------

XSD = "http://www.w3.org/2001/XMLSchema#"
X1 = "http://x/1"
TERMS = [
    ("http://e/a", "http://e/p", X1, None, None, False),
    ("http://e/a", "http://e/p", X1, None, None, True),
    ("http://e/a", "http://e/p", "1", None, "en", True),
    ("http://e/a", "http://e/p", "1", None, "de", True),
    ("http://e/b", "http://e/q", X1, None, None, True),
    ("http://e/c", "http://e/r", "42", XSD + "integer", None, True),
    ("http://e/d", "http://e/t", "42", XSD + "string", None, True),
    ("http://e/e", "http://e/t", "42", None, None, True),
]
PLAIN_42 = [TERMS[6], ("http://e/d", "http://e/t", "42", None, None, True)]


@pytest.mark.parametrize(
    "query, want",
    [
        # distinct_triples of a triple frame
        (TERMS[:5], [("http://e/a", "http://e/p", X1)] * 2
         + [("http://e/a", "http://e/p", "1")] * 2 + [("http://e/b", "http://e/q", X1)]),
        (PLAIN_42, [("http://e/d", "http://e/t", "42")]),
        ("SELECT DISTINCT ?o { ?s :p ?o }", [(X1,), (X1,), ("1",), ("1",)]),
        ("SELECT (COUNT(DISTINCT ?o) AS ?n) { ?s :p ?o }", [(4,)]),
        ("SELECT (SUM(DISTINCT ?o) AS ?n) { { ?s :r ?o } UNION { ?s :t ?o } }", [(84.0,)]),
        ('SELECT (GROUP_CONCAT(DISTINCT ?o; SEPARATOR=",") AS ?all) { ?s :p ?o }',
         [(f"1,1,{X1},{X1}",)]),
        ("SELECT ?o (COUNT(*) AS ?n) { ?s :p ?o } GROUP BY ?o",
         [(X1, 1), (X1, 1), ("1", 1), ("1", 1)]),
        ("SELECT ?s ?o { ?s :p ?o . { SELECT ?o { ?t :q ?o } } }", [("http://e/a", X1)]),
        ("SELECT ?s ?t { { ?s :r ?o } UNION { ?s :r ?o } { ?t :t ?o } UNION { ?t :t ?o } }", []),
        ("SELECT ?s ?t { ?s :r ?o OPTIONAL { ?t :t ?o } }", [("http://e/c", None)]),
        ("SELECT ?s { ?s :r ?o MINUS { ?t :t ?o } }", [("http://e/c",)]),
        ("SELECT ?s { ?s :r ?o FILTER EXISTS { ?t :t ?o } }", []),
        (f"SELECT ?o {{ VALUES ?o {{ <{X1}> }} ?s :p ?o }}", [(X1,)]),
        ('SELECT ?o { VALUES ?o { "1"@en } ?s :p ?o }', [("1",)]),
        (f"SELECT ?o {{ BIND(<{X1}> AS ?o) ?s :p ?o }}", [(X1,)]),
        ("SELECT ?o ?p { ?s :t ?o . ?t :t ?p FILTER(sameTerm(?o, ?p)) }", [("42", "42")] * 4),
    ],
    ids=[
        "distinct_triples_iri_vs_literal", "distinct_triples_xsd_string_is_plain",
        "select_distinct", "count_distinct", "sum_distinct", "group_concat_distinct",
        "group_by", "subquery_join", "join_across_groups", "optional", "minus", "exists",
        "values_iri", "values_lang", "bind", "sameterm",
    ],
)
def test_terms_compare_by_one_identity(spark, query, want):
    """Each operator that compares two terms — DISTINCT, GROUP BY, the
    aggregate DISTINCTs, every join and SAMETERM — decides as the term
    key does, over one 8-row triple frame (distinct_triples over the
    rows given)."""
    if isinstance(query, list):
        got = distinct_triples(spark.createDataFrame(query, TRIPLE_SCHEMA))
        assert _rows(got.select("subj", "pred", "obj")) == Counter(want)
        return
    g = triples_dataset(spark.createDataFrame(TERMS, TRIPLE_SCHEMA))
    assert _rows(execute(g, PFX + query)) == Counter(want)


TYPED = TERMS + [
    ("http://e/f", "http://e/n", "4", XSD + "integer", None, True),
    ("http://e/g", "http://e/n", "true", XSD + "boolean", None, True),
]


@pytest.mark.parametrize(
    "query, want",
    [
        # DISTINCT does not change a MIN, MAX or SAMPLE
        ("SELECT (MIN(DISTINCT ?o) AS ?lo) (MAX(DISTINCT ?o) AS ?hi) "
         "(SAMPLE(DISTINCT ?o) AS ?any) { ?s :p ?o }", [("1", X1, "1")]),
        # a binding whose type is not known joins lexically
        ("SELECT ?s { { SELECT (COUNT(*) AS ?n) { ?a :p ?o } } BIND(?n AS ?m) ?s :n ?m }",
         [("http://e/f",)]),
        # a truth value is an xsd:boolean
        ("SELECT ?s { BIND(true AS ?b) ?s :n ?b }", [("http://e/g",)]),
        ("SELECT ?s { BIND(2 > 1 AS ?b) ?s :n ?b }", [("http://e/g",)]),
        # a number token is typed as the grammar types it
        ("SELECT ?s { BIND(4 AS ?m) ?s :n ?m }", [("http://e/f",)]),
    ],
    ids=["min_max_sample_distinct", "bind_untyped", "bind_true", "bind_comparison",
         "bind_number"],
)
def test_terms_keep_their_known_type(spark, query, want):
    """Where a term's type is known it compares as a term; where it is
    not (an aggregate a subquery projects) it compares lexically, as
    before terms had one identity."""
    g = triples_dataset(spark.createDataFrame(TYPED, TRIPLE_SCHEMA))
    assert _rows(execute(g, PFX + query)) == Counter(want)


def test_term_key_and_canonical_term_fold_alike(spark):
    """Two terms share a term_key exactly when their canonical_term parts
    are equal, and exactly where RDF 1.1 makes them one term."""
    rows = [
        (0, "42", XSD + "string", None, True),  # xsd:string is plain
        (1, "42", None, None, True),
        (2, "42", "", "", True),  # an empty datatype or tag is none
        (3, "1", None, "EN", True),  # tags compare case-insensitively
        (4, "1", None, "en", True),
        (5, "1", None, "de", True),
        (6, X1, None, None, False),  # an IRI is not its lexical form
        (7, X1, None, None, True),
        (8, "5", XSD + "integer", "", True),  # an empty tag drops no datatype
        (9, "5", None, None, True),
    ]
    df = spark.createDataFrame(rows, "i int, v string, dt string, lang string, lit boolean")
    term = [F.col(c) for c in ("v", "dt", "lang", "lit")]
    got = df.select("i", term_key(*term).alias("k"), F.struct(*canonical_term(*term)).alias("c"))

    def classes(col):
        out: dict = {}
        for r in got.collect():
            out.setdefault(r[col], set()).add(r.i)
        return sorted(out.values(), key=min)

    want = [{0, 1, 2}, {3, 4}, {5}, {6}, {7}, {8}, {9}]
    assert classes("k") == want
    assert classes("c") == want


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
