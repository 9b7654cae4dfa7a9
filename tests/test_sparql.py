"""SPARQL front-end over the TPC-H mapping (E2 analogue)."""

import pytest

from ont_d2rq_spark.examples import tpch_mapping
from ont_d2rq_spark.graph import VirtualGraph
from ont_d2rq_spark.sparql import SparqlError, execute, parse

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def graph(spark):
    return VirtualGraph(tpch_mapping(SF), spark)


def test_parse_forms():
    q = parse(
        """
        PREFIX ex: <http://example.org/>
        SELECT DISTINCT ?c ?name WHERE {
            ?c a ex:Customer .
            ?c ex:name ?name .
            FILTER (STRSTARTS(?name, "Customer"))
        } ORDER BY DESC(?name) LIMIT 5
        """
    )
    assert q.form == "SELECT" and q.distinct
    assert q.variables == ["c", "name"]
    (kind, patterns), flt = q.where
    assert kind == "bgp" and len(patterns) == 2 and flt[0] == "filter"
    assert patterns[0][1].endswith("#type")
    assert q.order_by == [(("var", "name"), True)] and q.limit == 5


def test_select_with_join_and_filter(graph):
    df = execute(
        graph,
        """
        PREFIX ex: <http://example.org/>
        SELECT ?name WHERE {
            ?c ex:inNation ?n .
            ?n ex:name "NATION_2" .
            ?c ex:name ?name .
            FILTER (STRSTARTS(?name, "Customer"))
        } ORDER BY ?name LIMIT 3
        """,
    )
    rows = [r["name"] for r in df.collect()]
    assert len(rows) == 3 and rows == sorted(rows)
    assert all(r.startswith("Customer#") for r in rows)


def test_predicate_and_object_lists(graph):
    df = execute(
        graph,
        """
        PREFIX ex: <http://example.org/>
        SELECT ?c ?bal WHERE {
            ?c a ex:Customer ; ex:acctbal ?bal .
        } LIMIT 7
        """,
    )
    assert df.count() == 7 and set(df.columns) == {"c", "bal"}


def test_optional(graph):
    df = execute(
        graph,
        """
        PREFIX ex: <http://example.org/>
        SELECT ?r ?rname WHERE {
            ?r a ex:Region .
            OPTIONAL { ?r ex:name ?rname . }
        }
        """,
    )
    assert df.count() == 5


def test_ask(graph):
    assert execute(
        graph,
        'PREFIX ex: <http://example.org/> ASK WHERE { ?c ex:name "ASIA" . }',
    ).first()["ask"]
    assert not execute(
        graph,
        'PREFIX ex: <http://example.org/> ASK WHERE { ?c ex:name "WAKANDA" . }',
    ).first()["ask"]


def test_union(graph):
    df = execute(
        graph,
        """
        PREFIX ex: <http://example.org/>
        SELECT ?who ?n WHERE {
            { ?who a ex:Customer . ?who ex:inNation ?n . }
            UNION
            { ?who a ex:Supplier . ?who ex:inNation ?n . }
        }
        """,
    )
    rows = df.collect()
    assert len(rows) == 150 + 10  # customers + suppliers at sf0.001
    subjects = {r["who"] for r in rows}
    assert any("/customer/" in s for s in subjects)
    assert any("/supplier/" in s for s in subjects)


def test_unsupported_raises():
    with pytest.raises(SparqlError):
        parse("SELECT ?x WHERE { SERVICE <http://e/sparql> { ?s ?p ?x } }")
    with pytest.raises(SparqlError):  # mixed alternation branches
        parse("PREFIX ex: <http://e/> SELECT ?x WHERE { ?x ex:a/ex:b|ex:c ?y }")


def test_formerly_unsupported_now_parse():
    # round 3: GRAPH and UNDEF graduated from the raise list
    q = parse("SELECT ?x WHERE { GRAPH <urn:g> { ?s ?p ?x } }")
    assert [e[0] for e in q.where] == ["graph"]
    q2 = parse("SELECT ?x WHERE { VALUES ?x { UNDEF } }")
    assert q2.where == [("values", ["x"], [(None,)])]


def test_group_by_aggregates(graph):
    """GROUP BY + COUNT/COUNT DISTINCT + HAVING — the first analytics
    query every real deployment runs (reference: free via ARQ)."""
    df = execute(
        graph,
        """
        PREFIX ex: <http://example.org/>
        SELECT ?n (COUNT(*) AS ?cnt) (COUNT(DISTINCT ?c) AS ?nc) WHERE {
            ?c a ex:Customer .
            ?c ex:inNation ?n .
        } GROUP BY ?n HAVING (?cnt >= 2) ORDER BY ?n
        """,
    )
    rows = df.collect()
    assert rows and set(df.columns) == {"n", "cnt", "nc"}
    assert all(r["cnt"] >= 2 and r["cnt"] == r["nc"] for r in rows)
    assert sum(r["cnt"] for r in rows) <= 150


def test_global_aggregate_sum_avg(graph):
    df = execute(
        graph,
        """
        PREFIX ex: <http://example.org/>
        SELECT (COUNT(*) AS ?n) (SUM(?bal) AS ?total) (AVG(?bal) AS ?mean) WHERE {
            ?c ex:acctbal ?bal .
        }
        """,
    )
    r = df.first()
    assert r["n"] == 150
    assert abs(r["total"] - r["mean"] * r["n"]) < 1e-6


def test_bind_and_values(graph):
    df = execute(
        graph,
        """
        PREFIX ex: <http://example.org/>
        SELECT ?name ?upper WHERE {
            ?n a ex:Nation .
            ?n ex:name ?name .
            BIND (LCASE(?name) AS ?lower)
            BIND (UCASE(?lower) AS ?upper)
            VALUES ?name { "NATION_2" "NATION_5" "NO_SUCH" }
            FILTER (bound(?upper))
        } ORDER BY ?name
        """,
    )
    rows = [(r["name"], r["upper"]) for r in df.collect()]
    assert rows == [("NATION_2", "NATION_2"), ("NATION_5", "NATION_5")]


def test_values_multi_var(graph):
    df = execute(
        graph,
        """
        PREFIX ex: <http://example.org/>
        SELECT ?name ?tag WHERE {
            ?n a ex:Nation . ?n ex:name ?name .
            VALUES (?name ?tag) { ("NATION_1" "a") ("NATION_3" "b") }
        } ORDER BY ?tag
        """,
    )
    assert [(r["name"], r["tag"]) for r in df.collect()] == [
        ("NATION_1", "a"),
        ("NATION_3", "b"),
    ]


def test_minus(graph):
    df = execute(
        graph,
        """
        PREFIX ex: <http://example.org/>
        SELECT ?r WHERE {
            ?r a ex:Region .
            MINUS { ?r ex:name "ASIA" . }
        }
        """,
    )
    assert df.count() == 4  # 5 regions minus ASIA


def test_filter_lang_builtin(graph):
    """lang() needs the typed-literal companions: only customer names
    carry @en in the tpch mapping."""
    en = execute(
        graph,
        """
        PREFIX ex: <http://example.org/>
        SELECT ?s ?name WHERE { ?s ex:name ?name . FILTER (lang(?name) = 'en') }
        """,
    )
    rows = en.collect()
    assert len(rows) == 150
    assert all("/customer/" in r["s"] for r in rows)
    none = execute(
        graph,
        """
        PREFIX ex: <http://example.org/>
        SELECT ?s WHERE { ?s ex:name ?name . FILTER (lang(?name) = '') }
        """,
    )
    assert none.count() > 0 and all("/customer/" not in r["s"] for r in none.collect())


def test_filter_datatype_str_regex(graph):
    df = execute(
        graph,
        """
        PREFIX ex: <http://example.org/>
        PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        SELECT ?c ?bal WHERE {
            ?c ex:acctbal ?bal .
            FILTER (datatype(?bal) = xsd:double)
            FILTER (regex(str(?c), 'customer/[0-9]+$'))
            FILTER (regex(?c, 'CUSTOMER', 'i'))
        }
        """,
    )
    assert df.count() == 150
    empty = execute(
        graph,
        """
        PREFIX ex: <http://example.org/>
        PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        SELECT ?bal WHERE { ?c ex:acctbal ?bal . FILTER (datatype(?bal) = xsd:string) }
        """,
    )
    assert empty.count() == 0


def test_typed_literal_term(graph):
    """"lex"^^dt / "lex"@lang terms unify on datatype/lang, not just the
    lexical form (TypedNodeMaker semantics)."""
    # customer names are @en: a plain-lang match hits, a wrong lang misses
    hit = execute(
        graph,
        'PREFIX ex: <http://example.org/> ASK WHERE { ?c ex:name "Customer#000000001"@en . }',
    ).first()["ask"]
    miss = execute(
        graph,
        'PREFIX ex: <http://example.org/> ASK WHERE { ?c ex:name "Customer#000000001"@fr . }',
    ).first()["ask"]
    assert hit and not miss


def test_typed_find(graph):
    """find() with datatype constraints prunes non-matching bridges."""
    XSD = "http://www.w3.org/2001/XMLSchema#"
    # acctbal literals are xsd:double → integer-typed find can't match
    some = graph.find(p="http://example.org/acctbal").first()
    val = some["obj"]
    as_double = graph.find(o=val, o_datatype=XSD + "double")
    as_int = graph.find(o=val, o_datatype=XSD + "integer")
    assert as_double.count() >= 1
    assert as_int.count() == 0
    # lang-tagged lookup: only the @en name bridge matches
    name = graph.find(p="http://example.org/name").filter("obj_lang = 'en'").first()["obj"]
    assert graph.find(o=name, o_lang="en").count() >= 1
    assert graph.find(o=name, o_lang="de").count() == 0


def test_property_path_sequence_and_inverse(graph):
    seq = execute(
        graph,
        """PREFIX ex: <http://example.org/>
        SELECT ?c ?rname WHERE {
            ?c a ex:Customer .
            ?c ex:inNation/ex:inRegion/ex:name ?rname .
        }""",
    )
    rows = seq.collect()
    assert len(rows) == 150 and all(r["rname"].isupper() for r in rows)
    inv = execute(
        graph,
        """PREFIX ex: <http://example.org/>
        SELECT ?n WHERE { ?r ex:name "ASIA" . ?r ^ex:inRegion/^ex:inNation ?n . FILTER(CONTAINS(?n, "customer")) }""",
    )
    direct = execute(
        graph,
        """PREFIX ex: <http://example.org/>
        SELECT ?n WHERE { ?n ex:inNation/ex:inRegion ?r . ?r ex:name "ASIA" . FILTER(CONTAINS(?n, "customer")) }""",
    )
    assert {r["n"] for r in inv.collect()} == {r["n"] for r in direct.collect()} != set()


def test_property_path_alternation(graph):
    df = execute(
        graph,
        """PREFIX ex: <http://example.org/>
        SELECT ?x ?v WHERE {
            ?x a ex:Region .
            ?x ex:name|ex:comment ?v .
        }""",
    )
    # regions have names; no comment bridge exists → same as plain name
    assert df.count() == 5


def test_property_path_plus_closure(spark):
    """p+ transitive closure on an employee boss chain: 3 → 2 → 1."""
    import pandas as pd

    from ont_d2rq_spark.examples import tpch_mapping  # noqa: F401
    from ont_d2rq_spark.mapping.model import ClassMap, Configuration, Join, Mapping, PropertyBridge
    from ont_d2rq_spark.graph import VirtualGraph

    EX2 = "http://f/"
    emp = {
        "emp": spark.createDataFrame(
            pd.DataFrame({"id": [1, 2, 3], "boss": [None, 1, 2]}).astype(
                {"boss": "Int64"}
            )
        )
    }
    m = Mapping(configuration=Configuration(serve_vocabulary=False))
    m.add_class_map(ClassMap(name="emp", table="emp", uri_pattern=EX2 + "e@@emp.id@@"))
    m.add_bridge(
        PropertyBridge(
            name="emp.boss",
            belongs_to_class_map="emp",
            properties=[EX2 + "boss"],
            uri_pattern=EX2 + "e@@emp.boss@@",
        )
    )
    g = VirtualGraph(m, spark, extra_tables=emp)
    df = execute(
        g,
        f"""PREFIX f: <{EX2}>
        SELECT ?a ?b WHERE {{ ?a f:boss+ ?b . }}""",
    )
    got = {(r["a"], r["b"]) for r in df.collect()}
    e = lambda i: f"{EX2}e{i}"
    assert got == {
        (e(2), e(1)),
        (e(3), e(2)),
        (e(3), e(1)),  # the transitive hop a plain BGP cannot produce
    }


def test_construct(graph):
    df = execute(
        graph,
        """PREFIX ex: <http://example.org/>
        CONSTRUCT {
            ?c ex:locatedIn ?r .
            ?c ex:flag "checked" .
        } WHERE {
            ?c a ex:Customer .
            ?c ex:inNation/ex:inRegion ?r .
        }""",
    )
    rows = df.collect()
    assert set(df.columns) == {
        "subj", "pred", "obj", "obj_datatype", "obj_lang", "is_literal"
    }
    by_pred = {}
    for r in rows:
        by_pred.setdefault(r["pred"], []).append(r)
    assert len(by_pred["http://example.org/locatedIn"]) == 150
    flags = by_pred["http://example.org/flag"]
    assert len(flags) == 150 and all(r["is_literal"] and r["obj"] == "checked" for r in flags)


def test_describe(graph):
    d1 = execute(graph, "DESCRIBE <http://example.org/customer/7>")
    subj = {r["subj"] for r in d1.collect()}
    assert subj == {"http://example.org/customer/7"} and d1.count() >= 5
    d2 = execute(
        graph,
        """PREFIX ex: <http://example.org/>
        DESCRIBE ?r WHERE { ?r a ex:Region . }""",
    )
    assert {r["subj"] for r in d2.collect()} == {
        f"http://example.org/region/{i}" for i in range(5)
    }


def test_urimaker_rule_pruning(graph):
    """URIMakerRule analogue: a pattern pinning ?c to customer URIs must
    prune the supplier arm of ?c ex:inNation ?n AT PLAN TIME — the
    supplier table never reaches the scan."""
    df = execute(
        graph,
        """PREFIX ex: <http://example.org/>
        SELECT ?c ?n WHERE { ?c a ex:Customer . ?c ex:inNation ?n . }""",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "supplier" not in plan
    assert df.count() == 150
    # without the type restriction both arms stay
    both = execute(
        graph,
        """PREFIX ex: <http://example.org/>
        SELECT ?c ?n WHERE { ?c ex:inNation ?n . }""",
    )
    plan2 = both._jdf.queryExecution().executedPlan().toString()
    assert "supplier" in plan2
    assert both.count() == 160  # 150 customers + 10 suppliers


def test_subquery(graph):
    """{ SELECT ... } subquery: inner aggregate joined to the outer
    pattern on the shared variable."""
    df = execute(
        graph,
        """PREFIX ex: <http://example.org/>
        SELECT ?name ?ncust WHERE {
            ?n a ex:Nation . ?n ex:name ?name .
            { SELECT ?n (COUNT(*) AS ?ncust) WHERE {
                ?c a ex:Customer . ?c ex:inNation ?n .
              } GROUP BY ?n }
        } ORDER BY ?name""",
    )
    rows = df.collect()
    assert rows and sum(r["ncust"] for r in rows) == 150
    assert all(r["ncust"] >= 1 for r in rows)


def test_offset_and_distinct(graph):
    all_rows = execute(
        graph,
        """PREFIX ex: <http://example.org/>
        SELECT DISTINCT ?name WHERE { ?n a ex:Nation . ?n ex:name ?name . }
        ORDER BY ?name""",
    ).collect()
    page = execute(
        graph,
        """PREFIX ex: <http://example.org/>
        SELECT DISTINCT ?name WHERE { ?n a ex:Nation . ?n ex:name ?name . }
        ORDER BY ?name LIMIT 5 OFFSET 10""",
    ).collect()
    assert [r["name"] for r in page] == [r["name"] for r in all_rows[10:15]]
