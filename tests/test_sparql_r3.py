"""SPARQL surface: p* / p? path modifiers, UNDEF in VALUES,
GRAPH over named graphs, full-CBD DESCRIBE."""

import pytest
from pyspark.sql import functions as F

from conftest import assert_filled
from ont_d2rq_spark.examples import tpch_mapping
from ont_d2rq_spark.graph import VirtualGraph
from ont_d2rq_spark.sparql import execute

SF = "/root/testdata/sf0.001"
EX = "http://example.org/"


@pytest.fixture(scope="module")
def graph(spark):
    return VirtualGraph(tpch_mapping(SF), spark)


# ---- p* / p? --------------------------------------------------------------


def test_path_star_bound_subject(graph):
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?x WHERE {{ <{EX}nation/3> ex:inRegion* ?x }}""",
    )
    got = {r["x"] for r in df.collect()}
    # zero hops = the nation itself; one hop = its region
    assert f"{EX}nation/3" in got
    assert len(got) == 2 and any(x.startswith(f"{EX}region/") for x in got)


def test_path_star_var_var(graph):
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?n ?x WHERE {{ ?n a ex:Nation . ?n ex:inRegion* ?x }}""",
    )
    rows = [(r["n"], r["x"]) for r in df.collect()]
    assert len(rows) == 50  # 25 identity + 25 region hops
    assert sum(1 for n, x in rows if n == x) == 25


def test_path_opt(graph):
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?n ?x WHERE {{ ?n a ex:Nation . ?n ex:inRegion? ?x }}""",
    )
    # depth-1 hierarchy: ? ≡ * here
    assert df.count() == 50


def test_path_star_closure_depth(spark):
    """p* over a deep chain: closure rows + identity rows."""
    from ont_d2rq_spark.graph import PathPlus, bgp_over_triples  # noqa: F401
    from ont_d2rq_spark.operators.closure import transitive_closure

    edges = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(10)], "src string, dst string"
    )
    clo = transitive_closure(edges)
    assert clo.count() == 10 * 11 // 2  # all (i<j) pairs on a chain


def test_path_star_bound_object(graph):
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?n WHERE {{ ?n ex:inRegion* <{EX}region/1> }}""",
    )
    got = {r["n"] for r in df.collect()}
    assert f"{EX}region/1" in got  # zero-length
    assert all(g.startswith((f"{EX}nation/", f"{EX}region/")) for g in got)
    assert len(got) == 6  # the region itself + its 5 nations


# ---- parenthesized path groups ---------------------------------------------


def test_path_group_splice_equals_sequence(graph):
    grouped = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?c ?r WHERE {{ ?c (ex:inNation/ex:inRegion) ?r .
                              FILTER(CONTAINS(?c, "customer")) }}""",
    )
    plain = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?c ?r WHERE {{ ?c ex:inNation/ex:inRegion ?r .
                              FILTER(CONTAINS(?c, "customer")) }}""",
    )
    assert sorted(map(tuple, grouped.collect())) == sorted(
        map(tuple, plain.collect())
    )
    assert grouped.count() == 150


def test_path_group_closure(graph):
    # (inNation/inRegion)+ — composite edge set customer→region is
    # depth-1 (regions have no outgoing inNation), so + ≡ one hop; the
    # group still compiles through the PathGroup closure machinery
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?c ?r WHERE {{ ?c (ex:inNation/ex:inRegion)+ ?r .
                              FILTER(CONTAINS(?c, "customer")) }}""",
    )
    rows = df.collect()
    assert len(rows) == 150
    assert all(r["r"].startswith(f"{EX}region/") for r in rows)


def test_path_group_inverse(graph):
    fwd = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?c WHERE {{ ?c (ex:inNation/ex:inRegion) <{EX}region/1> .
                           FILTER(CONTAINS(?c, "customer")) }}""",
    )
    inv = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?c WHERE {{ <{EX}region/1> ^(ex:inNation/ex:inRegion) ?c .
                           FILTER(CONTAINS(?c, "customer")) }}""",
    )
    assert {r["c"] for r in fwd.collect()} == {r["c"] for r in inv.collect()}
    assert fwd.count() > 0


def test_path_group_star(graph):
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?x WHERE {{ <{EX}customer/7> (ex:inNation/ex:inRegion)* ?x }}""",
    )
    got = {r["x"] for r in df.collect()}
    assert f"{EX}customer/7" in got  # zero-length identity
    assert len(got) == 2 and any(x.startswith(f"{EX}region/") for x in got)


# ---- UNDEF in VALUES -------------------------------------------------------


def test_values_undef_partial_binding(graph):
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT DISTINCT ?name ?rname WHERE {{
            ?n a ex:Nation . ?n ex:name ?name .
            ?n ex:inRegion ?r . ?r ex:name ?rname .
            VALUES (?name ?rname) {{ ("NATION_2" UNDEF) (UNDEF "ASIA") }}
        }}""",
    )
    rows = {(r["name"], r["rname"]) for r in df.collect()}
    assert any(n == "NATION_2" for n, _ in rows)
    asia = {n for n, r in rows if r == "ASIA"}
    assert len(asia) == 5  # 5 nations per region
    assert all(n == "NATION_2" or r == "ASIA" for n, r in rows)


def test_values_undef_binds_unbound_var(graph):
    # UNDEF row must NOT bind ?tag; the bound row must
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?name ?tag WHERE {{
            ?r a ex:Region . ?r ex:name ?name .
            VALUES (?name ?tag) {{ ("ASIA" "east") ("EUROPE" UNDEF) }}
        }}""",
    )
    rows = {(r["name"], r["tag"]) for r in df.collect()}
    assert rows == {("ASIA", "east"), ("EUROPE", None)}


# ---- GRAPH ------------------------------------------------------------------


def test_graph_vocabulary_scope(graph):
    df = execute(
        graph,
        """PREFIX owl: <http://www.w3.org/2002/07/owl#>
        SELECT ?cls WHERE {
            GRAPH <urn:x-d2rq:graph:vocabulary> { ?cls a owl:Class }
        }""",
    )
    classes = {r["cls"] for r in df.collect()}
    assert EX + "Region" in classes and EX + "Customer" in classes
    # data-graph instances must NOT appear in the vocabulary graph
    assert not any("/region/" in c for c in classes)


def test_graph_variable_binds_graph_name(graph):
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        PREFIX owl: <http://www.w3.org/2002/07/owl#>
        SELECT DISTINCT ?g WHERE {{
            GRAPH ?g {{ ?s a owl:Class }}
        }}""",
    )
    got = {r["g"] for r in df.collect()}
    assert got == {"urn:x-d2rq:graph:vocabulary"}  # no owl:Class in data


def test_graph_unknown_iri_is_empty(graph):
    df = execute(
        graph,
        """SELECT ?s WHERE { GRAPH <urn:x-d2rq:graph:nope> { ?s ?p ?o } }""",
    )
    assert df.count() == 0


def test_graph_cross_graph_join(graph):
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        PREFIX owl: <http://www.w3.org/2002/07/owl#>
        SELECT ?cls ?name WHERE {{
            GRAPH <urn:x-d2rq:graph:vocabulary> {{ ?cls a owl:Class }}
            GRAPH <urn:x-d2rq:graph:data> {{
                ?x a ?cls . ?x ex:name ?name .
                FILTER (STRSTARTS(?name, "NATION"))
            }}
        }}""",
    )
    rows = df.collect()
    assert len(rows) == 25 and all(r["cls"] == EX + "Nation" for r in rows)


# ---- string builtins ---------------------------------------------------------


def test_string_builtins(graph):
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?name WHERE {{
            ?r a ex:Region . ?r ex:name ?name .
            FILTER (STRSTARTS(?name, "A") && STRLEN(?name) = 4 &&
                    CONTAINS(LCASE(?name), "sia"))
        }}""",
    )
    assert [r["name"] for r in df.collect()] == ["ASIA"]


def test_strends_ucase_substr(graph):
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?name WHERE {{
            ?n a ex:Nation . ?n ex:name ?name .
            FILTER (STRENDS(UCASE(?name), "_2") || SUBSTR(?name, 8) = "19")
        }} ORDER BY ?name""",
    )
    assert [r["name"] for r in df.collect()] == ["NATION_19", "NATION_2"]


def test_lang_matches(graph):
    hits = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?name WHERE {{
            ?c a ex:Customer . ?c ex:name ?name .
            FILTER (langMatches(lang(?name), "EN"))
        }}""",
    )
    assert hits.count() == 150  # customer names are @en
    misses = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?name WHERE {{
            ?c a ex:Customer . ?c ex:name ?name .
            FILTER (langMatches(lang(?name), "fr"))
        }}""",
    )
    assert misses.count() == 0
    star = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?name WHERE {{
            ?c a ex:Customer . ?c ex:name ?name .
            FILTER (langMatches(lang(?name), "*"))
        }}""",
    )
    assert star.count() == 150


# ---- FILTER EXISTS / NOT EXISTS ----------------------------------------------


def test_filter_exists_and_not_exists(graph):
    # regions that have at least one nation vs none (all 5 have some)
    has = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?rn WHERE {{
            ?r a ex:Region . ?r ex:name ?rn .
            FILTER EXISTS {{ ?n ex:inRegion ?r }}
        }}""",
    )
    assert has.count() == 5
    none = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?rn WHERE {{
            ?r a ex:Region . ?r ex:name ?rn .
            FILTER NOT EXISTS {{ ?n ex:inRegion ?r }}
        }}""",
    )
    assert none.count() == 0
    # correlated NOT EXISTS that actually prunes: nations named NATION_2
    pruned = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?name WHERE {{
            ?n a ex:Nation . ?n ex:name ?name .
            FILTER NOT EXISTS {{ ?c ex:inNation ?n }}
        }}""",
    )
    # every nation has customers/suppliers at this sf
    assert pruned.count() == 0
    semi = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?name WHERE {{
            ?n a ex:Nation . ?n ex:name ?name .
            FILTER EXISTS {{ ?c ex:inNation ?n }}
        }}""",
    )
    assert semi.count() == 25


# ---- full-CBD DESCRIBE -------------------------------------------------------


@pytest.fixture(scope="module")
def bnode_graph(spark):
    """customer → bNode(nation detail) → bNode(region detail) → literal:
    a 2-level bNode chain so CBD must iterate to a fixpoint."""
    from ont_d2rq_spark.mapping.model import (
        ClassMap,
        Database,
        Join,
        Mapping,
        PropertyBridge,
    )

    m = Mapping(database=Database(base_dir=SF), base_iri=EX)
    m.add_class_map(
        ClassMap(
            name="cust",
            table="customer",
            uri_pattern=EX + "customer/@@customer.c_custkey@@",
            classes=[EX + "Customer"],
        )
    )
    m.add_class_map(
        ClassMap(
            name="natB",
            table="nation",
            bnode_id_columns=["nation.n_nationkey"],
            classes=[EX + "NationDetail"],
        )
    )
    m.add_class_map(
        ClassMap(
            name="regB",
            table="region",
            bnode_id_columns=["region.r_regionkey"],
            classes=[EX + "RegionDetail"],
        )
    )
    m.add_bridge(
        PropertyBridge(
            name="cust.natDetail",
            belongs_to_class_map="cust",
            properties=[EX + "natDetail"],
            refers_to_class_map="natB",
            join=[Join("customer.c_nationkey", "nation.n_nationkey", "=>")],
        )
    )
    m.add_bridge(
        PropertyBridge(
            name="natB.label",
            belongs_to_class_map="natB",
            properties=[EX + "label"],
            column="nation.n_name",
        )
    )
    m.add_bridge(
        PropertyBridge(
            name="natB.regDetail",
            belongs_to_class_map="natB",
            properties=[EX + "regDetail"],
            refers_to_class_map="regB",
            join=[Join("nation.n_regionkey", "region.r_regionkey", "=>")],
        )
    )
    m.add_bridge(
        PropertyBridge(
            name="regB.label",
            belongs_to_class_map="regB",
            properties=[EX + "label"],
            column="region.r_name",
        )
    )
    return VirtualGraph(m, spark)


def test_describe_full_cbd(bnode_graph):
    df = execute(bnode_graph, f"DESCRIBE <{EX}customer/7>")
    rows = df.collect()
    subjects = {r["subj"] for r in rows}
    # level 0: the customer; level 1: its nation bNode; level 2: region bNode
    assert f"{EX}customer/7" in subjects
    bnodes = {s for s in subjects if s.startswith("_:")}
    assert len(bnodes) == 2, f"CBD must chase bNodes 2 levels, got {subjects}"
    labels = {r["obj"] for r in rows if r["pred"] == EX + "label"}
    assert len(labels) == 2  # one nation name + one region name


def test_describe_cbd_wide_bnode_fanout(spark):
    """CBD with a ~1.5k-bNode frontier in one round: the distributed
    fixpoint (anti-join frontier, no driver collect) must chase every
    customer bNode reached from the 25 described nations."""
    from ont_d2rq_spark.mapping.model import (
        ClassMap,
        Database,
        Join,
        Mapping,
        PropertyBridge,
    )

    m = Mapping(database=Database(base_dir=SF), base_iri=EX)
    m.add_class_map(
        ClassMap(
            name="nat",
            table="nation",
            uri_pattern=EX + "nation/@@nation.n_nationkey@@",
            classes=[EX + "Nation"],
        )
    )
    m.add_class_map(
        ClassMap(
            name="custB",
            table="customer",
            bnode_id_columns=["customer.c_custkey"],
            classes=[EX + "CustomerDetail"],
        )
    )
    m.add_bridge(
        PropertyBridge(
            name="nat.member",
            belongs_to_class_map="nat",
            properties=[EX + "member"],
            refers_to_class_map="custB",
            join=[Join("nation.n_nationkey", "customer.c_nationkey", "=>")],
        )
    )
    m.add_bridge(
        PropertyBridge(
            name="custB.label",
            belongs_to_class_map="custB",
            properties=[EX + "label"],
            column="customer.c_name",
        )
    )
    g = VirtualGraph(m, spark)
    n_cust = spark.read.parquet(f"{SF}/customer.parquet").count()
    df = execute(
        g, f"PREFIX ex: <{EX}> DESCRIBE ?n WHERE {{ ?n a ex:Nation }}"
    )
    assert_filled(df)
    bnode_subjects = df.filter(F.col("subj").startswith("_:")).select("subj").distinct()
    assert bnode_subjects.count() == n_cust
    labels = df.filter(F.col("pred") == EX + "label")
    assert labels.count() == n_cust


# ---- negated property sets ---------------------------------------------------


def test_negated_single(graph):
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?x WHERE {{ ?n a ex:Nation . ?n !ex:inRegion ?x }}""",
    )
    got = [r["x"] for r in df.collect()]
    # per nation: the rdf:type edge + the name literal remain
    assert len(got) == 50
    assert sum(1 for x in got if x == EX + "Nation") == 25


def test_negated_list_and_a(graph):
    only_type = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?x WHERE {{ ?n a ex:Nation . ?n !(ex:name|ex:inRegion) ?x }}""",
    )
    assert {r["x"] for r in only_type.collect()} == {EX + "Nation"}
    not_type = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?x WHERE {{ ?n a ex:Nation . ?n !a ?x }}""",
    )
    assert not_type.count() == 50  # name + inRegion edges


def test_negated_inverse_only(graph):
    # !(^p) from ?r to ?n matches an edge ?n --pred--> ?r, pred != p:
    # the 25 nation->region inRegion arcs
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?n WHERE {{ ?r a ex:Region . ?r !(^ex:name) ?n }}""",
    )
    rows = [r["n"] for r in df.collect()]
    assert len(rows) == 25 and all(n.startswith(EX + "nation/") for n in rows)
    # forward reading of the same shape: edges FROM a region that are
    # not ex:name — only the rdf:type arc remains
    fwd = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?x WHERE {{ ?r a ex:Region . ?r !(ex:name) ?x }}""",
    )
    assert {r["x"] for r in fwd.collect()} == {EX + "Region"}


def test_negated_in_sequence(graph):
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?rn WHERE {{ ?n a ex:Nation . ?n !(ex:name|a)/ex:name ?rn }}""",
    )
    # !(name|type) from a nation = inRegion only; then region name
    assert df.count() == 25
    assert all(r["rn"].startswith("REGION_") or r["rn"] for r in df.collect())


def test_negated_mixed_directions(graph):
    # !(p|^q) = forward edges with pred != p UNION inverse edges with
    # pred != q.  From a nation: forward = rdf:type + inRegion (name
    # excluded) = 50; inverse = customer/supplier inNation arcs
    # (inRegion arcs point at regions, not nations) = 150 + 10
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?n ?x WHERE {{ ?n a ex:Nation .
                              ?n !(ex:name|^ex:inRegion) ?x }}""",
    )
    rows = df.collect()
    assert len(rows) == 50 + 160
    xs = [r["x"] for r in rows]
    assert sum(1 for x in xs if x == EX + "Nation") == 25
    assert sum(1 for x in xs if x.startswith(EX + "customer/")) == 150
    assert sum(1 for x in xs if x.startswith(EX + "supplier/")) == 10


def test_select_star_hides_path_internals(graph):
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT * WHERE {{ ?n a ex:Nation . ?n ex:inRegion/ex:name ?rn }}""",
    )
    assert set(df.columns) == {"n", "rn"}
    assert df.count() == 25


# ---- GROUP_CONCAT / SAMPLE ---------------------------------------------------


def test_group_concat(graph):
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?rn (GROUP_CONCAT(?nn; SEPARATOR=", ") AS ?nations)
        WHERE {{
            ?n a ex:Nation . ?n ex:name ?nn .
            ?n ex:inRegion ?r . ?r ex:name ?rn .
        }} GROUP BY ?rn ORDER BY ?rn""",
    )
    rows = {r["rn"]: r["nations"] for r in df.collect()}
    assert len(rows) == 5
    # members are sorted lexically (deterministic GROUP_CONCAT)
    for v in rows.values():
        parts = v.split(", ")
        assert parts == sorted(parts) and len(parts) == 5


def test_group_concat_distinct(graph):
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT (GROUP_CONCAT(DISTINCT ?rn; SEPARATOR="|") AS ?all) WHERE {{
            ?n a ex:Nation . ?n ex:inRegion ?r . ?r ex:name ?rn .
        }}""",
    )
    [row] = df.collect()
    parts = row["all"].split("|")
    assert parts == sorted(parts) and len(parts) == 5  # deduped across 25 nations


def test_sample(graph):
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?rn (SAMPLE(?nn) AS ?one) WHERE {{
            ?n a ex:Nation . ?n ex:name ?nn .
            ?n ex:inRegion ?r . ?r ex:name ?rn .
        }} GROUP BY ?rn""",
    )
    rows = df.collect()
    assert len(rows) == 5 and all(r["one"].startswith("NATION_") for r in rows)


# ---- new scalar builtins -----------------------------------------------------


def test_strbefore_strafter(graph):
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?name (STRBEFORE(?name, "_") AS ?pre)
                     (STRAFTER(?name, "_") AS ?post)
                     (STRBEFORE(?name, "zzz") AS ?none)
        WHERE {{ ?n a ex:Nation . ?n ex:name ?name .
                 FILTER (STRAFTER(?name, "_") = "7") }}""",
    )
    [row] = df.collect()
    assert row["name"] == "NATION_7" and row["pre"] == "NATION"
    assert row["post"] == "7" and row["none"] == ""


def test_replace_is_regex_and_hashes(graph):
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT (REPLACE(?name, "[0-9]+", "#") AS ?masked)
               (MD5(?name) AS ?h)
        WHERE {{ ?n a ex:Nation . ?n ex:name ?name .
                 FILTER (?name = "NATION_12") }}""",
    )
    [row] = df.collect()
    assert row["masked"] == "NATION_#"
    import hashlib

    assert row["h"] == hashlib.md5(b"NATION_12").hexdigest()


def test_encode_for_uri_and_iri(graph):
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT (ENCODE_FOR_URI("a b/c") AS ?enc) (IRI(?n) AS ?same)
        WHERE {{ ?n a ex:Region }} LIMIT 1""",
    )
    [row] = df.collect()
    assert row["enc"] == "a%20b%2Fc"
    assert row["same"].startswith(EX + "region/")


def test_order_by_expression(graph):
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?name WHERE {{ ?r a ex:Region . ?r ex:name ?name }}
        ORDER BY DESC(STRLEN(?name)) ?name""",
    )
    names = [r["name"] for r in df.collect()]
    assert names == sorted(names, key=lambda n: (-len(n), n))


# ---- FILTER scoped inside OPTIONAL (SPARQL leftjoin) -------------------------


def test_optional_filter_unbinds_instead_of_dropping(graph):
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?name ?rn WHERE {{
            ?n a ex:Nation . ?n ex:name ?name .
            OPTIONAL {{ ?n ex:inRegion ?r . ?r ex:name ?rn .
                        FILTER (?rn = "ASIA") }}
        }}""",
    )
    rows = df.collect()
    # every nation survives; only ASIA nations carry a bound ?rn
    assert len(rows) == 25
    bound = [r for r in rows if r["rn"] is not None]
    assert len(bound) == 5 and all(r["rn"] == "ASIA" for r in bound)


def test_optional_filter_referencing_outer_var(graph):
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?name ?rn WHERE {{
            ?n a ex:Nation . ?n ex:name ?name .
            OPTIONAL {{ ?n ex:inRegion ?r . ?r ex:name ?rn .
                        FILTER (STRLEN(?rn) < STRLEN(?name)) }}
        }}""",
    )
    rows = df.collect()
    assert len(rows) == 25
    for r in rows:
        if r["rn"] is not None:
            assert len(r["rn"]) < len(r["name"])
    # the long region name gets un-bound, not dropped
    assert any(r["rn"] is None for r in rows)


def test_union_branch_scoped_filter(graph):
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?name WHERE {{
            {{ ?r a ex:Region . ?r ex:name ?name . FILTER (?name = "ASIA") }}
            UNION
            {{ ?n a ex:Nation . ?n ex:name ?name . FILTER (STRENDS(?name, "_3")) }}
        }}""",
    )
    got = sorted(r["name"] for r in df.collect())
    # branch filters must not leak across branches
    assert got == ["ASIA", "NATION_3"]


def test_minus_scoped_filter(graph):
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?name WHERE {{
            ?n a ex:Nation . ?n ex:name ?name .
            MINUS {{ ?n ex:name ?name . FILTER (STRSTARTS(?name, "NATION_1")) }}
        }}""",
    )
    got = {r["name"] for r in df.collect()}
    # NATION_1, NATION_10..19 removed → 14 left; filter must not touch
    # the outer solutions
    assert len(got) == 14 and all(not n.startswith("NATION_1") for n in got)


# ---- STRLANG / STRDT in BIND -------------------------------------------------


def test_strlang_bind(graph):
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?tagged ?lt WHERE {{
            ?r a ex:Region . ?r ex:name ?name .
            BIND (STRLANG(?name, "fr") AS ?tagged)
            BIND (lang(?tagged) AS ?lt)
            FILTER (langMatches(lang(?tagged), "fr"))
        }}""",
    )
    rows = df.collect()
    assert len(rows) == 5 and all(r["lt"] == "fr" for r in rows)


def test_strdt_bind(graph):
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        SELECT ?t WHERE {{
            ?r a ex:Region . ?r ex:name ?name .
            BIND (STRDT(UCASE(?name), xsd:token) AS ?t)
            FILTER (datatype(?t) = "http://www.w3.org/2001/XMLSchema#token")
        }}""",
    )
    assert df.count() == 5


def test_filter_exists_parenthesized(graph):
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?rn WHERE {{
            ?r a ex:Region . ?r ex:name ?rn .
            FILTER (EXISTS {{ ?n ex:inRegion ?r }})
            FILTER (NOT EXISTS {{ ?r ex:name "NOPE" }})
        }}""",
    )
    assert df.count() == 5


def test_having_inline_aggregate(graph):
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?seg (COUNT(*) AS ?n) WHERE {{
            ?c a ex:Customer . ?c ex:marketSegment ?seg .
        }} GROUP BY ?seg HAVING (COUNT(*) > 25) ORDER BY ?seg""",
    )
    rows = df.collect()
    assert rows and all(r["n"] > 25 for r in rows)
    assert set(df.columns) == {"seg", "n"}  # hidden __h cols dropped
    # alias form still works and agrees
    df2 = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?seg (COUNT(*) AS ?n) WHERE {{
            ?c a ex:Customer . ?c ex:marketSegment ?seg .
        }} GROUP BY ?seg HAVING (?n > 25) ORDER BY ?seg""",
    )
    assert [tuple(r) for r in rows] == [tuple(r) for r in df2.collect()]


def test_having_inline_sum_distinct(graph):
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?rn (COUNT(DISTINCT ?n) AS ?nn) WHERE {{
            ?n a ex:Nation . ?n ex:inRegion ?r . ?r ex:name ?rn .
        }} GROUP BY ?rn HAVING (COUNT(DISTINCT ?n) >= 5)""",
    )
    assert df.count() == 5  # every region has exactly 5 nations


def test_select_expression_over_aggregates(graph):
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?rn (ROUND(AVG(?bal)) AS ?avg_bal)
               ((SUM(?bal) / COUNT(*)) AS ?mean2)
        WHERE {{
            ?c a ex:Customer . ?c ex:acctbal ?bal .
            ?c ex:inNation ?n . ?n ex:inRegion ?r . ?r ex:name ?rn .
        }} GROUP BY ?rn ORDER BY ?rn""",
    )
    rows = df.collect()
    assert len(rows) == 5
    assert set(df.columns) == {"rn", "avg_bal", "mean2"}
    for r in rows:
        assert abs(float(r["avg_bal"]) - round(float(r["mean2"]))) <= 1


def test_global_expression_aggregate_no_group(graph):
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ((COUNT(*) * 2) AS ?twice) WHERE {{ ?r a ex:Region }}""",
    )
    [row] = df.collect()
    assert int(row["twice"]) == 10
