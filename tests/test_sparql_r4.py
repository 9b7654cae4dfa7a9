"""SPARQL semantics: solution compatibility over unbound
(NULL) variables in chained OPTIONAL / EXISTS / MINUS — SPARQL treats
an unbound shared variable as compatible with any binding; a
null-rejecting equality join silently drops those solutions."""

import pytest
from pyspark.sql import functions as F

from ont_d2rq_spark.examples import tpch_mapping
from ont_d2rq_spark.graph import VirtualGraph
from ont_d2rq_spark.sparql import execute

SF = "/root/testdata/sf0.001"
EX = "http://example.org/"


@pytest.fixture(scope="module")
def graph(spark):
    return VirtualGraph(tpch_mapping(SF), spark)


def test_exists_over_partially_bound_var(graph):
    """?r is bound only for region-1 nations; EXISTS over ?r must keep
    the unbound rows (unbound is compatible with any binding)."""
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?n ?r WHERE {{
          ?n a ex:Nation .
          OPTIONAL {{ ?n ex:inRegion ?r . FILTER(?r = <{EX}region/1>) }}
          FILTER EXISTS {{ ?x ex:inRegion ?r }}
        }}""",
    )
    rows = df.collect()
    assert len(rows) == 25  # null-rejecting equality would keep only 5
    assert sum(1 for r in rows if r["r"] is not None) == 5


def test_not_exists_over_partially_bound_var(graph):
    """NOT EXISTS with an unbound shared var: every outer row has a
    compatible inner solution, so all rows drop."""
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?n WHERE {{
          ?n a ex:Nation .
          OPTIONAL {{ ?n ex:inRegion ?r . FILTER(?r = <{EX}region/1>) }}
          FILTER NOT EXISTS {{ ?x ex:inRegion ?r }}
        }}""",
    )
    assert df.count() == 0


def test_chained_optional_adopts_binding(graph):
    """A later OPTIONAL sharing a var that an earlier OPTIONAL left
    unbound: the unbound row is compatible with EVERY right solution
    and adopts its binding (SPARQL LeftJoin), instead of matching
    nothing."""
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?n ?r ?rn WHERE {{
          ?n a ex:Nation .
          OPTIONAL {{ ?n ex:inRegion ?r . FILTER(?r = <{EX}region/1>) }}
          OPTIONAL {{ ?r ex:name ?rn . ?r a ex:Region }}
        }}""",
    )
    rows = df.collect()
    bound = [r for r in rows if r["n"] is not None]
    # 5 region-1 nations keep their ?r (1 region name each);
    # 20 unbound nations × 5 adoptable regions = 100
    assert len(bound) == 105
    adopted = [r for r in bound if r["rn"] is not None]
    assert len(adopted) == 105  # every surviving row has a region name


def test_minus_over_partially_bound_var(graph):
    """MINUS with a maybe-unbound shared var: removal additionally
    requires a shared var bound on BOTH sides (dom(μ1)∩dom(μ2)≠∅), so
    unbound rows survive."""
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?n ?r WHERE {{
          ?n a ex:Nation .
          OPTIONAL {{ ?n ex:inRegion ?r . FILTER(?r = <{EX}region/1>) }}
          MINUS {{ ?x ex:inRegion ?r }}
        }}""",
    )
    rows = df.collect()
    # bound rows (?r = region/1) are removed; unbound rows survive
    assert len(rows) == 20
    assert all(r["r"] is None for r in rows)


def test_union_unbound_var_in_exists(graph):
    """A var bound by only one UNION branch is maybe-unbound; EXISTS
    keeps the other branch's rows."""
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?n ?r WHERE {{
          {{ ?n a ex:Nation . ?n ex:inRegion ?r }} UNION {{ ?n a ex:Region }}
          FILTER EXISTS {{ ?x ex:inRegion ?r }}
        }}""",
    )
    assert df.count() == 30  # 25 nations (bound ?r) + 5 regions (unbound)


def test_subquery_optional_var_joins_compatibly(graph):
    """A subquery projecting a var its own OPTIONAL may leave unbound:
    the outer join must treat the NULL side as compatible (symmetric
    compatibility), not drop it with null-rejecting equality."""
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?n ?r WHERE {{
          ?n ex:inRegion ?r .
          {{ SELECT ?n ?r WHERE {{
               ?n a ex:Nation
               OPTIONAL {{ ?n ex:inRegion ?r . FILTER(?r = <{EX}region/1>) }}
          }} }}
        }}""",
    )
    rows = df.collect()
    # the subquery yields ONE row per nation (5 bound to region/1, 20
    # unbound); every outer row finds its compatible partner — with
    # null-rejecting equality the 20 unbound rows would vanish and
    # only 5 would survive
    assert len(rows) == 25
    assert all(r["r"] is not None for r in rows)  # outer binding adopted


def test_nested_group_content_evaluates(graph):
    """r4 REJECTED non-filter content nested inside an OPTIONAL/UNION
    group (flattening would change its scope); r5 evaluates group
    bodies recursively, so the same queries now run with the correct
    group-scoped semantics (see test_sparql_r5 for the full matrix)."""
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?n ?x WHERE {{
          ?n a ex:Nation .
          OPTIONAL {{ ?n ex:inRegion ?r BIND(1 AS ?x) }}
        }}""",
    )
    rows = df.collect()
    assert len(rows) == 25 and all(r["x"] == "1" or r["x"] == 1 for r in rows)
    df2 = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?n ?r WHERE {{
          {{ ?n a ex:Nation . OPTIONAL {{ ?n ex:inRegion ?r }} }}
          UNION {{ ?n a ex:Region }}
        }}""",
    )
    rows2 = df2.collect()
    assert len(rows2) == 30  # 25 nations (r bound) + 5 regions (r unbound)
    assert sum(1 for r in rows2 if r["r"] is None) == 5


def test_optional_filter_over_adopted_var(graph):
    """A group-scoped FILTER referencing a maybe-unbound shared var must
    evaluate over the MERGED binding (the adopted right value), not the
    left NULL — otherwise adoption is silently defeated."""
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?n ?r ?rn WHERE {{
          ?n a ex:Nation .
          OPTIONAL {{ ?n ex:inRegion ?r . FILTER(?r = <{EX}region/1>) }}
          OPTIONAL {{ ?r ex:name ?rn . ?r a ex:Region . FILTER(?r != <{EX}region/2>) }}
        }}""",
    )
    rows = df.collect()
    # 5 region-1 nations keep their ?r (passes the filter); 20 unbound
    # nations adopt each region EXCEPT region/2 → 4 each
    assert len(rows) == 5 + 20 * 4
    assert all(r["r"] != EX + "region/2" for r in rows if r["r"] is not None)


def test_subquery_union_unbound_var(graph):
    """Vars left NULL by a subquery's asymmetric UNION branches must
    join the outer solution with compatibility semantics."""
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?n ?r WHERE {{
          ?n ex:inRegion ?r .
          {{ SELECT ?n ?r WHERE {{
               {{ ?n a ex:Nation . ?n ex:inRegion ?r }} UNION {{ ?n a ex:Nation }}
          }} }}
        }}""",
    )
    # each nation matches its bound branch row AND its unbound one
    assert df.count() == 50


def test_optional_after_subquery_only(graph):
    """A top-level OPTIONAL whose siblings are only a subquery must not
    be silently dropped."""
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?n ?r WHERE {{
          {{ SELECT ?n WHERE {{ ?n a ex:Nation }} }}
          OPTIONAL {{ ?n ex:inRegion ?r }}
        }}""",
    )
    rows = df.collect()
    assert "r" in df.columns
    assert len(rows) == 25 and all(r["r"] is not None for r in rows)


RDFS = "http://www.w3.org/2000/01/rdf-schema#"
VOCAB = "urn:x-d2rq:graph:vocabulary"


def test_negated_set_in_graph(graph):
    """Negated property sets evaluate over GRAPH triple frames (was a
    loud unsupported-raise; r4 implements it): !rdfs:label over the
    vocabulary graph excludes exactly the label triples."""
    all_q = execute(
        graph,
        f"SELECT ?s ?p ?o WHERE {{ GRAPH <{VOCAB}> {{ ?s ?p ?o }} }}",
    ).collect()
    labels = [r for r in all_q if r["p"] == RDFS + "label"]
    got = execute(
        graph,
        f"""PREFIX rdfs: <{RDFS}>
        SELECT ?s ?o WHERE {{ GRAPH <{VOCAB}> {{ ?s !rdfs:label ?o }} }}""",
    ).collect()
    assert len(got) == len(all_q) - len(labels) > 0


def test_path_plus_in_graph(graph):
    """p+ / p* over a GRAPH triple frame: rdfs:domain+ reaches the
    domain classes; rdfs:domain* adds the zero-length identities."""
    plus = execute(
        graph,
        f"""PREFIX rdfs: <{RDFS}> PREFIX ex: <{EX}>
        SELECT ?c WHERE {{ GRAPH <{VOCAB}> {{ <{EX}name> rdfs:domain+ ?c }} }}""",
    ).collect()
    assert {r["c"] for r in plus}  # ex:name has domain classes
    star = execute(
        graph,
        f"""PREFIX rdfs: <{RDFS}> PREFIX ex: <{EX}>
        SELECT ?c WHERE {{ GRAPH <{VOCAB}> {{ <{EX}name> rdfs:domain* ?c }} }}""",
    ).collect()
    # star = plus ∪ the zero-length identity (the bound subject itself)
    assert {r["c"] for r in star} == {r["c"] for r in plus} | {EX + "name"}


def test_path_alternation_in_graph(graph):
    """(p1|p2) alternation over a GRAPH triple frame."""
    got = execute(
        graph,
        f"""PREFIX rdfs: <{RDFS}> PREFIX ex: <{EX}>
        SELECT ?x WHERE {{ GRAPH <{VOCAB}> {{ <{EX}inRegion> rdfs:domain|rdfs:range ?x }} }}""",
    ).collect()
    assert {r["x"] for r in got} == {EX + "Nation", EX + "Region"}
