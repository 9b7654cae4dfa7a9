"""SPARQL semantics: query-level (trailing) VALUES bottom-up
scoping, CONSTRUCT WHERE template blank nodes, and the metamorphic
fuzz harness for the recursive group evaluator (the reference inherits
all three behaviors from ARQ — engine/QueryEngineD2RQ.java delegation,
public layout)."""

import pytest

from ont_d2rq_spark.examples import tpch_mapping
from ont_d2rq_spark.graph import VirtualGraph
from ont_d2rq_spark.sparql import SparqlError, execute

SF = "/root/testdata/sf0.001"
EX = "http://example.org/"


@pytest.fixture(scope="module")
def graph(spark):
    return VirtualGraph(tpch_mapping(SF), spark)


# ---------------------------------------------------------------------------
# trailing query-level VALUES: joined AFTER the WHERE group (18.2.2),
# so a group FILTER referencing its var sees UNBOUND (error -> false)
# ---------------------------------------------------------------------------


def test_trailing_values_out_of_scope_for_where_filter(graph):
    """?want is bound only by the query-level VALUES; inside WHERE it
    is unbound, the FILTER errors -> false, and the query is empty —
    NOT filtered-then-joined."""
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?rn ?want WHERE {{
          ?r a ex:Region . ?r ex:name ?rn .
          FILTER(?rn = ?want)
        }}
        VALUES ?want {{ "ASIA" }}""",
    )
    assert df.count() == 0


def test_trailing_values_still_joins_bindings(graph):
    """Control: without a group filter the trailing VALUES behaves as
    the ordinary join with the WHERE solutions."""
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?rn ?extra WHERE {{ ?r a ex:Region . ?r ex:name ?rn }}
        VALUES (?rn ?extra) {{ ("ASIA" "a") ("AFRICA" "b") }}""",
    )
    rows = {(r["rn"], r["extra"]) for r in df.collect()}
    assert rows == {("ASIA", "a"), ("AFRICA", "b")}


def test_group_values_still_in_scope_for_filter(graph):
    """A VALUES INSIDE the group is same-group: its var IS visible to
    the group's FILTER (regression guard for the scoping split)."""
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?rn WHERE {{
          ?r a ex:Region . ?r ex:name ?rn .
          VALUES ?want {{ "ASIA" }}
          FILTER(?rn = ?want)
        }}""",
    )
    rows = df.collect()
    assert len(rows) == 1 and rows[0]["rn"] == "ASIA"


def test_trailing_values_undef_compat(graph):
    """UNDEF cells in a trailing VALUES constrain nothing for that row."""
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?rn ?tag WHERE {{ ?r a ex:Region . ?r ex:name ?rn }}
        VALUES (?rn ?tag) {{ ("ASIA" "x") (UNDEF "y") }}""",
    )
    rows = df.collect()
    tags = [r["tag"] for r in rows]
    # (ASIA,x) matches once; (UNDEF,y) is compatible with all 5 regions
    assert tags.count("x") == 1 and tags.count("y") == 5


# ---------------------------------------------------------------------------
# CONSTRUCT WHERE + blank-node property list: the template instantiates
# a FRESH bnode per solution, not the matched term
# ---------------------------------------------------------------------------


def test_construct_where_bnode_template_fresh_labels(graph):
    """`[ ex:inRegion ?r ]` matches the 25 nations, but the TEMPLATE
    emits a fresh bnode per solution — never the matched nation IRI."""
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        CONSTRUCT WHERE {{ ?r a ex:Region . ?r ex:name ?rn . [ ex:inRegion ?r ] }}""",
    )
    rows = df.collect()
    inreg = [r for r in rows if r["pred"] == EX + "inRegion"]
    # one fresh bnode subject per solution (25 nation matches)
    assert len(inreg) == 25
    subs = {r["subj"] for r in inreg}
    assert len(subs) == 25
    assert all(s.startswith("_:") for s in subs)
    # the name triples still carry the real region subjects
    names = [r for r in rows if r["pred"] == EX + "name"]
    assert len(names) == 5 and all(not r["subj"].startswith("_:") for r in names)


def test_construct_where_bnode_same_solution_same_label(graph):
    """Within ONE solution the bracketed bnode keeps a single identity
    across the triples it participates in."""
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        CONSTRUCT WHERE {{ [ ex:inRegion ?r ; ex:name ?nn ] }}""",
    )
    rows = df.collect()
    inreg = {r["subj"]: r["obj"] for r in rows if r["pred"] == EX + "inRegion"}
    name = {r["subj"]: r["obj"] for r in rows if r["pred"] == EX + "name"}
    assert len(inreg) == 25 and set(inreg) == set(name)
    assert all(s.startswith("_:") for s in inreg)


# ---------------------------------------------------------------------------
# metamorphic fuzz harness: hypothesis-generated nested
# OPTIONAL/UNION/MINUS/BIND/FILTER group trees (depth <=3), each group's
# elements written in a drawn order, executed by the algebra evaluator
# over a tiny explicit triple graph, cross-checked against a naive
# in-memory solution-multiset evaluator implementing the SPARQL 1.1
# algebra directly (§18.2.2 translation in the written order; Join/
# LeftJoin/Union/Minus/Extend/Filter over binding dicts).  The reference
# gets the residual algebra from ARQ's OpExecutor, battle-tested
# upstream; this engine's translate/evaluate is home-grown and earns its
# trust here.
# ---------------------------------------------------------------------------

import itertools
import os
from collections import Counter
from dataclasses import dataclass, field

from hypothesis import given, settings
from hypothesis import strategies as st

from conftest import triples_dataset
from ont_d2rq_spark.compiler.relation import TRIPLE_SCHEMA

# fixed tiny graph: IRIs and literal lexicals are DISJOINT, every
# literal is plain (RDF-term equality == lexical equality), so the
# naive term tuples and the engine's projected lexical columns compare
# 1:1.  r-edges form chains so multi-pattern joins have real matches.
_FUZZ_TRIPLES = [
    ("s1", "p", ("lit", "a")),
    ("s1", "p", ("lit", "c")),
    ("s1", "q", ("lit", "b")),
    ("s1", "r", ("iri", EX + "s4")),
    ("s2", "p", ("lit", "a")),
    ("s2", "q", ("lit", "c")),
    ("s2", "r", ("iri", EX + "s3")),
    ("s3", "p", ("lit", "b")),
    ("s3", "q", ("lit", "a")),
    ("s3", "r", ("iri", EX + "s1")),
    ("s4", "p", ("lit", "c")),
    ("s4", "r", ("iri", EX + "s2")),
]
_NTRIPLES = [
    (("iri", EX + s), ("iri", EX + p), o) for s, p, o in _FUZZ_TRIPLES
]


@pytest.fixture(scope="module")
def fuzz_graph(spark):
    rows = [
        (EX + s, EX + p, o[1], None, None, o[0] == "lit")
        for s, p, o in _FUZZ_TRIPLES
    ]
    tdf = spark.createDataFrame(rows, TRIPLE_SCHEMA).cache()
    tdf.count()
    yield triples_dataset(tdf)
    tdf.unpersist()


@dataclass
class _G:
    patterns: list = field(default_factory=list)
    union: tuple = None
    optionals: list = field(default_factory=list)
    minus: list = field(default_factory=list)
    binds: list = field(default_factory=list)  # exprs pre-finalize, (name, expr) after
    filters: list = field(default_factory=list)
    order: list = field(default_factory=list)  # written order: a permutation


def _elements(g: _G) -> list:
    """The group's elements in the order they are written."""
    els = (
        [("pat", p) for p in g.patterns]
        + ([("union", g.union)] if g.union else [])
        + [("opt", b) for b in g.optionals]
        + [("minus", b) for b in g.minus]
        + [("bind", b) for b in g.binds]
        + [("filter", f) for f in g.filters]
    )
    return [els[i] for i in g.order]


# --- generation -----------------------------------------------------------

_VARS = ["?v0", "?v1", "?v2", "?v3"]
_IRI_TERMS = [("iri", EX + s) for s in ("s1", "s2", "s3", "s4")]
_PRED_TERMS = [("iri", EX + p) for p in ("p", "q", "r")]
_LIT_TERMS = [("lit", x) for x in ("a", "b", "c")]

_subj_t = st.sampled_from(_VARS * 2 + _IRI_TERMS)
_obj_t = st.sampled_from(_VARS * 2 + _LIT_TERMS + _IRI_TERMS)
_pat_t = st.tuples(_subj_t, st.sampled_from(_PRED_TERMS), _obj_t)

_fvar_t = st.sampled_from(["v0", "v1", "v2", "v3", "b0"])
# nested builtin calls (depth 2): text template and the algebra's answer
# for a BOUND term.  A string function over an IRI is a type error
# (false); STR() turns any bound term into a simple literal.
_NESTED = {
    "strlen_ucase": ("STRLEN(UCASE(?{v})) = 1",
                     lambda t: t[0] == "lit" and len(t[1].upper()) == 1),
    "ucase_lcase": ('UCASE(LCASE(?{v})) = "A"',
                    lambda t: t[0] == "lit" and t[1].lower().upper() == "A"),
    "isiri_str": ("isIRI(STR(?{v}))", lambda t: False),
    "not_isiri_str": ("!isIRI(STR(?{v}))", lambda t: True),
    "isliteral_str": ("isLiteral(STR(?{v}))", lambda t: True),
}
_filter_t = st.one_of(
    st.tuples(
        st.just("cmp"),
        _fvar_t,
        st.sampled_from(["=", "!="]),
        st.sampled_from(["a", "b", "c"]),
    ),
    st.tuples(st.just("bound"), _fvar_t),
    st.tuples(st.just("notbound"), _fvar_t),
    st.tuples(st.just("nest"), _fvar_t, st.sampled_from(sorted(_NESTED))),
    # mixed-type comparisons: every term here is an IRI or a simple literal
    st.tuples(st.just("gt1"), _fvar_t),
    st.tuples(st.just("gt1_or_a"), _fvar_t),
)
_bindexpr_t = st.one_of(
    st.tuples(st.just("const"), st.sampled_from(["a", "x"])),
    st.tuples(st.just("copy"), st.sampled_from(["v0", "v1", "v2", "v3"])),
)


@st.composite
def _group_t(draw, depth: int, top: bool = False):
    """Depth-bounded group tree, its elements in a drawn order.
    Breadth narrows with depth (nested optional_join plans grow
    multiplicatively in Catalyst analysis cost — a lean tree keeps the
    200-example run in CI budget while still exercising every pairwise
    nesting across examples)."""
    sub = _group_t(depth - 1) if depth > 0 else None
    g = _G(
        patterns=draw(st.lists(_pat_t, min_size=1, max_size=3 if top else 2)),
        union=draw(st.none() | st.tuples(sub, sub)) if sub is not None else None,
        optionals=draw(st.lists(sub, max_size=2 if top else 1)) if sub is not None else [],
        minus=draw(st.lists(sub, max_size=1)) if sub is not None else [],
        binds=draw(st.lists(_bindexpr_t, max_size=1)),
        filters=draw(st.lists(_filter_t, max_size=2)),
    )
    n = len(g.patterns) + bool(g.union) + len(g.optionals) + len(g.minus)
    g.order = draw(st.permutations(range(n + len(g.binds) + len(g.filters))))
    return g


def _finalize(g: _G, counter=None) -> _G:
    """Assign globally-unique BIND target names (?b0, ?b1, ...): BIND
    may not rebind an in-scope var."""
    if counter is None:
        counter = itertools.count()
        if not _proj_vars(g):
            g.patterns[0] = ("?v0",) + tuple(g.patterns[0][1:])
    g.binds = [(f"b{next(counter)}", ex) for ex in g.binds]
    for b in (list(g.union) if g.union else []) + g.optionals + g.minus:
        _finalize(b, counter)
    return g


def _proj_vars(g: _G) -> set:
    """In-scope (projectable) vars: pattern vars + BIND targets, through
    UNION branches and OPTIONAL bodies — NOT through MINUS bodies
    (MINUS never binds, SPARQL 18.2.1 in-scope table)."""
    vs = set()
    for pat in g.patterns:
        vs |= {t[1:] for t in pat if isinstance(t, str)}
    vs |= {name for name, _ in g.binds if isinstance(name, str)}
    for b in (list(g.union) if g.union else []) + g.optionals:
        vs |= _proj_vars(b)
    return vs


# --- serialization to SPARQL text ------------------------------------------


def _term_txt(t) -> str:
    if isinstance(t, str):
        return t
    kind, lex = t
    return f"<{lex}>" if kind == "iri" else f'"{lex}"'


def _filter_txt(f) -> str:
    body = {
        "cmp": lambda: f'?{f[1]} {f[2]} "{f[3]}"',
        "bound": lambda: f"BOUND(?{f[1]})",
        "notbound": lambda: f"!BOUND(?{f[1]})",
        "nest": lambda: _NESTED[f[2]][0].format(v=f[1]),
        "gt1": lambda: f"?{f[1]} > 1",
        "gt1_or_a": lambda: f'?{f[1]} > 1 || ?{f[1]} = "a"',
    }[f[0]]()
    return f"FILTER ({body})"


def _ser(g: _G) -> str:
    parts = []
    for kind, x in _elements(g):
        if kind == "pat":
            parts.append(" ".join(map(_term_txt, x)) + " .")
        elif kind == "union":
            parts.append("{ " + _ser(x[0]) + " } UNION { " + _ser(x[1]) + " }")
        elif kind == "opt":
            parts.append("OPTIONAL { " + _ser(x) + " }")
        elif kind == "minus":
            parts.append("MINUS { " + _ser(x) + " }")
        elif kind == "bind":
            name, ex = x
            src = f"?{ex[1]}" if ex[0] == "copy" else f'"{ex[1]}"'
            parts.append(f"BIND({src} AS ?{name})")
        else:
            parts.append(_filter_txt(x))
    return " ".join(parts)


# --- naive SPARQL-algebra evaluator ----------------------------------------


def _nv_compat(a: dict, b: dict) -> bool:
    return all(a[k] == b[k] for k in a.keys() & b.keys())


def _nv_join(A: list, B: list) -> list:
    return [{**a, **b} for a in A for b in B if _nv_compat(a, b)]


def _nv_match(pat) -> list:
    out = []
    for trip in _NTRIPLES:
        sol, ok = {}, True
        for t, tt in zip(pat, trip):
            if isinstance(t, str):
                v = t[1:]
                if v in sol and sol[v] != tt:
                    ok = False
                    break
                sol[v] = tt
            elif t != tt:
                ok = False
                break
        if ok:
            out.append(sol)
    return out


def _nv_filter(f, sol: dict) -> bool:
    """SPARQL error semantics: comparison over an unbound var is an
    error -> effective false; BOUND() is total."""
    if f[0] == "bound":
        return f[1] in sol
    if f[0] == "notbound":
        return f[1] not in sol
    t = sol.get(f[1])
    if t is None:
        return False
    if f[0] == "nest":
        return _NESTED[f[2]][1](t)
    if f[0] == "gt1":  # an IRI or simple literal against a number: error
        return False
    if f[0] == "gt1_or_a":  # error || true is true; error || false an error
        return t == ("lit", "a")
    return (t[1] == f[3]) if f[2] == "=" else (t[1] != f[3])


def _nv_body(g: _G) -> list:
    """Group solutions by the §18.2.2 translation of its elements in the
    written order, with the group's TOP-LEVEL filters NOT applied (they
    belong to the caller: group filter, or LeftJoin condition when the
    group is an OPTIONAL operand)."""
    sols = [{}]
    for kind, x in _elements(g):
        if kind == "pat":
            sols = _nv_join(sols, _nv_match(x))
        elif kind == "union":
            sols = _nv_join(sols, _nv_eval(x[0]) + _nv_eval(x[1]))
        elif kind == "opt":
            right, cond = _nv_body(x), x.filters
            nxt = []
            for a in sols:
                hits = [
                    {**a, **b}
                    for b in right
                    if _nv_compat(a, b)
                    and all(_nv_filter(f, {**a, **b}) for f in cond)
                ]
                nxt.extend(hits if hits else [a])
            sols = nxt
        elif kind == "minus":
            right = _nv_eval(x)
            sols = [
                a
                for a in sols
                if not any(_nv_compat(a, b) and (a.keys() & b.keys()) for b in right)
            ]
        elif kind == "bind":
            name, ex = x
            nxt = []
            for s in sols:
                val = ("lit", ex[1]) if ex[0] == "const" else s.get(ex[1])
                nxt.append({**s, name: val} if val is not None else dict(s))
            sols = nxt
    return sols


def _nv_eval(g: _G) -> list:
    return [s for s in _nv_body(g) if all(_nv_filter(f, s) for f in g.filters)]


# --- the property -----------------------------------------------------------


# CI runs the fixed derandomized 200; SPARK_GRAFT_FUZZ_SOAK=N runs N
# fresh random examples instead (exploratory soak, not for CI)
_SOAK = int(os.environ.get("SPARK_GRAFT_FUZZ_SOAK", "0"))


@settings(
    max_examples=_SOAK or 200,
    deadline=None,
    derandomize=not _SOAK,
    database=None,
)
@given(_group_t(2, top=True))
def test_fuzz_recursive_evaluator_matches_algebra(fuzz_graph, g):
    g = _finalize(g)
    pvars = sorted(_proj_vars(g))
    query = "SELECT " + " ".join(f"?{v}" for v in pvars) + " WHERE { " + _ser(g) + " }"
    got = Counter(
        tuple(row[v] for v in pvars) for row in execute(fuzz_graph, query).collect()
    )
    want = Counter(
        tuple(s[v][1] if v in s else None for v in pvars) for s in _nv_eval(g)
    )
    assert got == want, query


@pytest.mark.parametrize(
    "flt, want",
    [
        ("isIRI(str(?o))", []),
        ('regex(lcase(?o), "A", "i")', ["a", "a"]),
        ("?o > 1", []),
        ('?o > 1 || ?o = "a"', ["a", "a"]),
    ],
)
def test_expression_probes_match_algebra(fuzz_graph, flt, want):
    """Nested builtin calls compile at any depth, and comparing a
    literal with a number is SPARQL's error value — the row drops (and
    `error || true` holds) instead of the query aborting."""
    rows = execute(fuzz_graph, f"SELECT ?o WHERE {{ ?s <{EX}p> ?o FILTER({flt}) }}").collect()
    assert sorted(r["o"] for r in rows) == want


def test_numeric_filter_over_lexical_bindings(graph):
    """FILTER(?bal > 1000) reads the xsd:double binding's numeric value
    (formerly an ANSI CAST_INVALID_INPUT abort on '2095.23')."""
    import duckdb

    want = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{SF}/customer.parquet') WHERE c_acctbal > 1000"
    ).fetchone()[0]
    got = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?c WHERE {{ ?c ex:acctbal ?bal FILTER(?bal > 1000) }}""",
    ).count()
    assert got == want > 0


@pytest.mark.parametrize("flt, name", [("?n like 'x'", "like"), ("foo(?n)", "foo")])
def test_non_sparql_expression_raises_naming_it(flt, name):
    from ont_d2rq_spark.sparql import parse

    with pytest.raises(SparqlError, match=name):
        parse(f"SELECT ?n WHERE {{ ?s <{EX}p> ?n FILTER({flt}) }}")


# ---------------------------------------------------------------------------
# repetition over a negated property set: !p+ / !(p|^q)* — the NPS
# evaluation supplies the closure's base edge set (SPARQL 18.4 path
# translation composes NPS under PathMod; ARQ evaluates it natively)
# ---------------------------------------------------------------------------


def test_nps_plus_single_hop_equals_plain_nps(graph):
    """From a nation, the only non-(name|type) outgoing edge is
    inRegion, and regions have no further non-excluded edges — so the
    closure equals the single-hop NPS result."""
    plus = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?n ?x WHERE {{ ?n a ex:Nation . ?n !(ex:name|a)+ ?x }}""",
    )
    plain = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?n ?x WHERE {{ ?n a ex:Nation . ?n !(ex:name|a) ?x }}""",
    )
    assert sorted(map(tuple, plus.collect())) == sorted(map(tuple, plain.collect()))
    assert plus.count() == 25


def test_nps_plus_multi_hop(graph):
    """Customer --inNation--> nation --inRegion--> region: with every
    other customer-outgoing predicate excluded, !S+ reaches exactly the
    nation (1 hop) and its region (2 hops) per customer."""
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?c ?x WHERE {{
          ?c a ex:Customer .
          ?c !(ex:name|a|ex:acctbal|ex:marketSegment|ex:display)+ ?x
        }}""",
    )
    xs = [r["x"] for r in df.collect()]
    assert len(xs) == 300  # 150 customers x (nation + region)
    assert sum(1 for x in xs if x.startswith(EX + "nation/")) == 150
    assert sum(1 for x in xs if x.startswith(EX + "region/")) == 150


def test_nps_star_bound_subject(graph):
    """!S* adds the zero-length identity for the bound subject."""
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?x WHERE {{ <{EX}nation/3> !(ex:name|a)* ?x }}""",
    )
    got = {r["x"] for r in df.collect()}
    assert f"{EX}nation/3" in got
    assert len(got) == 2 and any(x.startswith(f"{EX}region/") for x in got)


def test_nps_plus_mixed_directions_cycle(spark):
    """Mixed NPS under + over an explicit frame: forward non-'skip'
    edges plus inverse non-'back' edges form a cycle a→b→c→a; the
    closure from each node reaches all three (itself included).  Kept
    on a tiny explicit graph on purpose: a mixed set makes the base
    near-undirected, and the global closure of a near-undirected edge
    set is all-pairs-per-component — pathological on any real graph
    (closure.py documents the quadratic worst case)."""
    from ont_d2rq_spark.compiler.relation import TRIPLE_SCHEMA
    from ont_d2rq_spark.graph import bgp_over_triples
    from ont_d2rq_spark.sparql import parse

    rows = [
        ("a", "http://x/next", "b", None, None, False),
        ("b", "http://x/next", "c", None, None, False),
        ("a", "http://x/rev", "c", None, None, False),  # c→a via ^
        ("a", "http://x/skip", "c", None, None, False),
        ("c", "http://x/back", "b", None, None, False),
    ]
    tdf = spark.createDataFrame(rows, TRIPLE_SCHEMA)
    q = parse("SELECT ?s ?o WHERE { ?s !(<http://x/skip>|^<http://x/back>)+ ?o }")
    ((kind, ((s, p, o),)),) = q.where
    assert kind == "bgp"
    got = {(r["s"], r["o"]) for r in bgp_over_triples(tdf, [(s, p, o)]).collect()}
    assert got == {(x, y) for x in "abc" for y in "abc"}


def test_nps_plus_inverse_of_closure_is_closure_of_inverse(graph):
    """^(!S)+ must equal !S+ with endpoints swapped (the parser folds ^
    into the member directions; inverse of a closure == closure of the
    inverted edge set)."""
    fwd = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?a ?b WHERE {{ ?a a ex:Nation . ?a !(ex:name|a)+ ?b }}""",
    )
    inv = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?a ?b WHERE {{ ?b a ex:Nation . ?a ^!(ex:name|a)+ ?b }}""",
    )
    assert sorted((r["a"], r["b"]) for r in fwd.collect()) == sorted(
        (r["b"], r["a"]) for r in inv.collect()
    )


def test_nps_plus_over_explicit_triple_frame(spark):
    """bgp_over_triples (the named-graph / dataset path) honors
    PathPlus(NegatedSet): closure over a chain whose 'skip' edges are
    excluded by predicate."""
    from ont_d2rq_spark.compiler.relation import TRIPLE_SCHEMA
    from ont_d2rq_spark.graph import NegatedSet, PathPlus, bgp_over_triples

    rows = [
        ("n1", "http://x/next", "n2", None, None, False),
        ("n2", "http://x/next", "n3", None, None, False),
        ("n3", "http://x/next", "n4", None, None, False),
        ("n1", "http://x/skip", "n4", None, None, False),
        ("n2", "http://x/name", "two", None, None, True),
    ]
    tdf = spark.createDataFrame(rows, TRIPLE_SCHEMA)
    nps = NegatedSet(fwd=("http://x/skip", "http://x/name"))
    out = bgp_over_triples(tdf, [("?s", PathPlus(nps, "+"), "?o")])
    got = {(r["s"], r["o"]) for r in out.collect()}
    assert got == {
        ("n1", "n2"), ("n1", "n3"), ("n1", "n4"),
        ("n2", "n3"), ("n2", "n4"), ("n3", "n4"),
    }


# ---------------------------------------------------------------------------
# seeded closure (bound-endpoint property paths): frontier BFS instead
# of the global squaring — the global closure materializes every node's
# reachability set to answer a one-node question
# ---------------------------------------------------------------------------


def _edges(spark, pairs):
    return spark.createDataFrame(list(pairs), "src string, dst string")


def test_closure_from_chain_and_reverse(spark):
    from ont_d2rq_spark.operators.closure import closure_from

    e = _edges(spark, [(f"n{i}", f"n{i+1}") for i in range(6)])
    fwd = closure_from(e, "n2")
    assert {(r["src"], r["dst"]) for r in fwd.collect()} == {
        ("n2", f"n{j}") for j in range(3, 7)
    }
    rev = closure_from(e, "n2", reverse=True)
    assert {(r["src"], r["dst"]) for r in rev.collect()} == {
        (f"n{j}", "n2") for j in range(0, 2)
    }


def test_closure_from_cycle_reaches_seed(spark):
    from ont_d2rq_spark.operators.closure import closure_from

    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")])
    got = {(r["src"], r["dst"]) for r in closure_from(e, "a").collect()}
    assert got == {("a", "b"), ("a", "c"), ("a", "a"), ("a", "d")}


def test_closure_from_no_edges_and_depth_cap(spark):
    from ont_d2rq_spark.operators.closure import closure_from

    e = _edges(spark, [("x", "y")])
    assert closure_from(e, "z").count() == 0
    deep = _edges(spark, [(f"n{i}", f"n{i+1}") for i in range(8)])
    assert closure_from(deep, "n0", max_rounds=3) is None  # cap -> global path


def test_closure_from_matches_global_on_dag(spark):
    from ont_d2rq_spark.operators.closure import closure_from, transitive_closure

    pairs = [("r", "a"), ("r", "b"), ("a", "c"), ("b", "c"), ("c", "d"),
             ("b", "d"), ("q", "r"), ("z", "z2")]
    e = _edges(spark, pairs)
    seeded = {(r["src"], r["dst"]) for r in closure_from(e, "r").collect()}
    glob = {
        (r["src"], r["dst"])
        for r in transitive_closure(e).filter("src = 'r'").collect()
    }
    assert seeded == glob and seeded  # non-empty, identical


def test_bound_subject_path_uses_seeded_closure(graph):
    """End-to-end: a bound-subject p+ still answers correctly through
    the BFS path (result parity is the contract; the r3 bound-endpoint
    tests pin the * identity semantics)."""
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?x WHERE {{ <{EX}nation/3> ex:inRegion+ ?x }}""",
    )
    got = [r["x"] for r in df.collect()]
    assert len(got) == 1 and got[0].startswith(EX + "region/")


# ---------------------------------------------------------------------------
# round-6 builtin surface: isBlank/isNumeric/sameTerm, date accessors,
# SHA384/512, UUID/STRUUID/RAND/NOW
# ---------------------------------------------------------------------------


def test_builtin_isblank_isiri_split(graph):
    """isIRI is FALSE for blank nodes (spec 17.4.2.1/2); the customer
    display bnodes... this mapping has IRI subjects only, so assert on
    the fuzz-style explicit check via BIND over IRIs and literals."""
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?r ?i ?b ?lit WHERE {{
          ?r a ex:Region . ?r ex:name ?n .
          BIND(isIRI(?r) AS ?i) BIND(isBlank(?r) AS ?b)
          BIND(isLiteral(?n) AS ?lit)
        }} LIMIT 1""",
    )
    row = df.collect()[0]
    assert row["i"] is True and row["b"] is False and row["lit"] is True


def test_builtin_isnumeric(graph):
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?c WHERE {{
          ?c a ex:Customer . ?c ex:acctbal ?bal . ?c ex:name ?n .
          FILTER(isNumeric(?bal) && !isNumeric(?n))
        }}""",
    )
    assert df.count() == 150  # every acctbal is xsd:decimal, names are strings


def test_builtin_sameterm_lang_sensitive(graph):
    """sameTerm('x'@en, 'x') is FALSE even though lexical forms match:
    customer names carry @en, supplier names are plain."""
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?cn ?sn WHERE {{
          ?c a ex:Customer . ?c ex:name ?cn .
          ?s a ex:Supplier . ?s ex:name ?sn .
          FILTER(sameTerm(?cn, ?sn))
        }}""",
    )
    assert df.count() == 0
    same = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?a WHERE {{
          ?r a ex:Region . ?r ex:name ?a . ?r2 ex:name ?b .
          ?r2 a ex:Region . FILTER(sameTerm(?a, ?b) && ?r = ?r2)
        }}""",
    )
    assert same.count() == 5


def test_builtin_date_accessors(graph):
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?y ?m ?d WHERE {{
          ?o a ex:Order . ?o ex:orderDate ?dt .
          BIND(YEAR(?dt) AS ?y) BIND(MONTH(?dt) AS ?m) BIND(DAY(?dt) AS ?d)
        }} LIMIT 5""",
    )
    for r in df.collect():
        assert 1992 <= int(r["y"]) <= 1998 and 1 <= int(r["m"]) <= 12
        assert 1 <= int(r["d"]) <= 31


def test_builtin_hashes_and_uuid(graph):
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?h384 ?h512 ?u ?su ?rnd WHERE {{
          ?r a ex:Region . ?r ex:name ?n .
          BIND(SHA384(?n) AS ?h384) BIND(SHA512(?n) AS ?h512)
          BIND(UUID() AS ?u) BIND(STRUUID() AS ?su) BIND(RAND() AS ?rnd)
        }} LIMIT 2""",
    )
    rows = df.collect()
    assert len(rows[0]["h384"]) == 96 and len(rows[0]["h512"]) == 128
    assert rows[0]["u"].startswith("urn:uuid:") and len(rows[0]["su"]) == 36
    assert 0.0 <= float(rows[0]["rnd"]) < 1.0
    assert rows[0]["u"] != rows[1]["u"]  # fresh per solution


def test_builtin_tz_and_seconds(spark):
    from ont_d2rq_spark.graph import resolver
    from ont_d2rq_spark.sparql import _P, to_column

    d = spark.createDataFrame(
        [("2011-01-10T00:00:13.500Z",), ("2011-01-10T00:00:09-05:00",)], "d string"
    )
    res = resolver(d.columns)
    e = to_column(_P("TZ(?d) = 'Z' && SECONDS(?d) > 10")._expression(), res)
    e2 = to_column(_P("NOW() > ?d")._expression(), res)
    got = d.select(e.alias("e"), e2.alias("e2")).collect()
    assert [r["e"] for r in got] == [True, False]
    assert all(r["e2"] for r in got)


def test_builtin_datatype_lang_literal_is_langstring(graph):
    """RDF 1.1: DATATYPE('x'@en) = rdf:langString (17.4.2.7) — customer
    names carry @en; supplier names are plain xsd:string."""
    df = execute(
        graph,
        f"""PREFIX ex: <{EX}>
        SELECT ?dc ?ds WHERE {{
          ?c a ex:Customer . ?c ex:name ?cn .
          ?s a ex:Supplier . ?s ex:name ?sn .
          BIND(DATATYPE(?cn) AS ?dc) BIND(DATATYPE(?sn) AS ?ds)
        }} LIMIT 1""",
    )
    row = df.collect()[0]
    assert row["dc"] == "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
    assert row["ds"] == "http://www.w3.org/2001/XMLSchema#string"
