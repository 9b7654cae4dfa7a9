"""SPARQL front-end — the analogue of QueryEngineD2RQ (SURVEY §3 E2).

The reference registers a custom ARQ engine: BGPs compile to SQL via
GraphPatternTranslator/NodeRelationJoiner, residual algebra runs in
ARQ.  Here the same split is: BGP + pushable FILTERs compile to the
DataFrame join DAG (graph.bgp), residual ops (ORDER BY, LIMIT,
DISTINCT, projection) are native DataFrame ops — Catalyst is both the
translator and the executor.

Grammar (the practical subset D2RQ deployments use — the reference
gets the residual algebra free from ARQ, engine/QueryEngineD2RQ.java;
here the residual ops are native DataFrame ops):

  PREFIX pfx: <iri>                         (any number)
  CONSTRUCT { template triples } WHERE { ... }   → triple frame
  DESCRIBE (?v ... | <iri> ...) [WHERE { ... }]  → triple frame
  SELECT [DISTINCT] (?v ... | (AGG(?v) AS ?a) | (expr AS ?a) | *) WHERE {
      triple patterns '.'-separated;  { A } UNION { B } groups;
      FILTER (<expr>)            — a SPARQL 1.1 expression: || && !,
                                   = != < > <= >=, IN / NOT IN, + - * /,
                                   and the builtins of the BUILTINS table
                                   (one row each: name, arity, Column
                                   builder); parsed once into a tree that
                                   to_column compiles to a Catalyst Column
      FILTER [NOT] EXISTS { triple patterns }  — semi/anti join
      OPTIONAL { triple patterns [FILTER...] }  — FILTERs written inside
                                   the braces scope to the LeftJoin
                                   condition (failing filter un-binds
                                   the optional part, SPARQL leftjoin)
      MINUS { triple patterns [FILTER...] }  — anti-join on the shared
                                   variables; inner FILTERs scope to
                                   the group (same for UNION branches,
                                   EXISTS and GRAPH groups)
      BIND (<expr> AS ?v)        — incl. STRLANG/STRDT constructors,
                                   whose tag lands in ?v's companion
                                   columns (visible to lang()/datatype()
                                   and typed CONSTRUCT output)
      VALUES ?v { t1 t2 ... } | VALUES (?v ?w) { (t1 t2) ... }
      { SELECT ... WHERE { ... } ... }  — subquery, joined on shared vars
      GRAPH (<iri> | ?g) { ... }  — named-graph scope (data / vocabulary)
  }
  [GROUP BY ?v ...] [HAVING (<expr over aliases or inline
                              aggregate calls>) ...]
  [ORDER BY [ASC|DESC](?v) ...] [LIMIT n] [OFFSET n]
  ASK WHERE { ... }

Aggregates: COUNT(*) / COUNT(?v) / COUNT(DISTINCT ?v) / SUM / AVG /
MIN / MAX (SUM/AVG cast the lexical binding to double; MIN/MAX compare
the lexical form) / GROUP_CONCAT([DISTINCT] ?v; SEPARATOR="s") /
SAMPLE(?v).  Aggregate arguments may be full EXPRESSIONS —
SUM(?price * (1 - ?disc)), the TPC-H Q1 shape.  Arithmetic and a
comparison against a number read a lexical binding's numeric value
through try_cast: a non-numeric binding is SPARQL's error value, which
is SQL NULL (FILTER drops it; Kleene OR / AND / NOT give the §17.2
truth tables).  GROUP_CONCAT sorts members before joining and SAMPLE
takes the minimum — SPARQL leaves both unspecified; this engine picks
the deterministic representative so results are reproducible across
partitionings (and replayable by the DuckDB oracle).

Terms: <iri>, pfx:local, "literal" (@lang / ^^dt make the bound term a
TYPED literal — datatype/lang must unify, TypedNodeMaker semantics),
numbers, ?var / $var, 'a' for rdf:type, and blank-node property lists
`[ p1 o1 ; p2 o2 ]` / `[]` in subject or object position (expanded to
non-distinguished `?__bn…` variables, excluded from SELECT *).
`# line comments` are skipped by the tokenizer.

Property paths (predicate position): ^p inverse, p1/p2 sequence
(rewritten through fresh join variables), p1|p2 alternation (union of
bridge candidates), p+ / p* / p? repetition (distributed transitive
closure, operators/closure.py), parenthesized groups — inline splice
or `(p1/p2)+` composite-edge closure, `!p` / `!(p1|^p2)` negated
property sets (mixed forward/inverse member lists evaluate as the
union of the two directions).  VALUES supports UNDEF (NULL cell +
null-safe join).  DESCRIBE emits the full Concise Bounded Description
(bNode fixpoint expansion).

A group is translated left to right into one algebra tree (SPARQL 1.1
§18.2.2, translate): adjacent triples form one BGP, OPTIONAL { P FILTER
e } is LeftJoin(G, P, e), MINUS is Minus, BIND is Extend over the group
so far, VALUES / UNION / GRAPH / subqueries are Joins with it, and the
group's FILTERs are one Filter over the whole group (FILTER EXISTS a
semi/anti join inside it).  One recursive evaluate walks the tree at
every nesting depth (the reference gets this from ARQ's recursive
OpExecutor), and every Join, LeftJoin, Minus and EXISTS runs through
the one compatibility join, graph.optional_join.  Each context compiles
an expression through its own resolver (graph.resolver): a variable the
group does not bind is unbound, and a LeftJoin or EXISTS condition
reads the merged row.  A projected variable that nothing binds is
unbound.

Repetition also composes over a negated set (`!p+`, `!(p|^q)*`): the
NPS evaluation supplies the closure's base edge set.

Not supported (raise): SERVICE (permanently excluded — this engine
runs without network access; the reference gets federation free from
ARQ).
"""

from __future__ import annotations

import operator
import re
from dataclasses import dataclass, field
from functools import partial
from typing import Callable, NamedTuple, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ont_d2rq_spark.checkpoint import stored
from ont_d2rq_spark.compiler.relation import distinct_triples

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"

_AGG_FNS = {"COUNT", "SUM", "AVG", "MIN", "MAX", "GROUP_CONCAT", "SAMPLE"}
_ECHAR = {"t": "\t", "b": "\b", "n": "\n", "r": "\r", "f": "\f"}  # string escapes

_TOK = re.compile(
    r"""
    (?P<iri><[^>\s]*>)
  | (?P<str>"(?:[^"\\]|\\.)*"|'(?:[^'\\]|\\.)*')(?P<lang>@[\w-]+)?(?:\^\^(?P<dtiri><[^>]*>|[\w.-]*:[\w.-]+))?
  | (?P<var>[?$][A-Za-z_]\w*)
  | (?P<num>[+-]?\d+(?:\.\d+)?)
  | (?P<pname>[A-Za-z_][\w.-]*)?:(?P<local>[\w.%-]*)
  | (?P<kw>[A-Za-z_]\w*)
  | (?P<op>>=|<=|!=|&&|\|\||[=<>+\-/!%^|?])
  | (?P<punct>[{}()\[\].;,*])
  | (?P<comment>\#[^\n]*)
  | (?P<ws>\s+)
""",
    re.VERBOSE,
)


@dataclass
class Query:
    form: str  # SELECT | ASK
    variables: list[str] = field(default_factory=list)  # output names; empty = *
    distinct: bool = False
    # the WHERE group's elements in the order written: ("bgp", patterns)
    # for a triples block, ("filter", expr | ("exists", negated,
    # elements)), ("optional", elements), ("minus", elements), ("union",
    # [elements, ...]) (a lone braced group is one branch), ("bind",
    # expr, var), ("values", vars, rows), ("graph", term, elements) and
    # ("subquery", Query); translate() turns them into the algebra tree
    where: list[tuple] = field(default_factory=list)
    order_by: list[tuple] = field(default_factory=list)  # (tree, desc)
    limit: Optional[int] = None
    offset: Optional[int] = None
    # ("var", name) | ("expr", tree, alias); the tree may hold aggregates
    projections: list[tuple] = field(default_factory=list)
    group_by: list[str] = field(default_factory=list)
    having: list[tuple] = field(default_factory=list)  # expression trees
    # trailing query-level ValuesClause: joined AFTER the WHERE group
    # evaluates (SPARQL 18.2.2 P := Join(P, ToMultiSet(data))) — a WHERE
    # filter referencing a var bound only here must see it UNBOUND
    trailing_values: list[tuple] = field(default_factory=list)  # (vars, rows)
    template: list[tuple] = field(default_factory=list)  # CONSTRUCT triples
    describe: list[str] = field(default_factory=list)  # DESCRIBE nodes
    # dataset clauses (top-level queries only; subqueries cannot carry
    # them per the grammar): FROM <g> graphs merge into the default
    # graph, FROM NAMED <g> restricts what GRAPH can range over
    from_graphs: list[str] = field(default_factory=list)
    from_named: list[str] = field(default_factory=list)
    # WHERE-clause variables in order of first appearance: the SELECT *
    # column order (ARQ's), whatever order the joins ran in
    var_order: list[str] = field(default_factory=list)


class SparqlError(ValueError):
    pass


class _GroupAtom:
    """Parser-internal: a parenthesized path group's alternatives."""

    def __init__(self, alts):
        self.alts = alts


class _P:
    def __init__(self, text: str):
        self.toks = []
        pos = 0
        while pos < len(text):
            m = _TOK.match(text, pos)
            if not m:
                raise SparqlError(f"cannot tokenize at {text[pos:pos+30]!r}")
            pos = m.end()
            if m.lastgroup not in ("ws", "comment"):
                self.toks.append(m)
        self.i = 0
        self.prefixes: dict[str, str] = {}
        self._fresh_n = 0

    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self):
        t = self.peek()
        if t is None:
            raise SparqlError("unexpected end of query")
        self.i += 1
        return t

    def kw(self, *words) -> Optional[str]:
        t = self.peek()
        if t is not None and t.group(0).upper() in words:
            self.next()
            return t.group(0).upper()
        return None

    def expect(self, s):
        t = self.next()
        if t.group(0).upper() != s.upper():
            raise SparqlError(f"expected {s!r}, got {t.group(0)!r}")

    # ---- terms -----------------------------------------------------
    def term(self):
        t = self.next()
        g = t.group(0)
        if t.lastgroup in ("iri",):
            return g[1:-1]
        if t.group("str") is not None:
            lex = re.sub(
                r"\\(.)", lambda m: _ECHAR.get(m.group(1), m.group(1)), t.group("str")[1:-1]
            )
            lang, dt = t.group("lang"), t.group("dtiri")
            if lang or dt:
                # typed literal → datatype/lang must UNIFY with the
                # relation's literal type (TypedNodeMaker semantics)
                from ont_d2rq_spark.graph import Lit

                dturi = None
                if dt:
                    if dt.startswith("<"):
                        dturi = dt[1:-1]
                    else:
                        pfx, _, local = dt.partition(":")
                        if pfx not in self.prefixes:
                            raise SparqlError(f"unknown prefix {pfx!r}")
                        dturi = self.prefixes[pfx] + local
                return Lit(lex, datatype=dturi, lang=lang[1:] if lang else None)
            # plain literal → matched on lexical form
            return lex
        if t.lastgroup == "var":
            return "?" + g[1:]
        if t.lastgroup == "num":
            return g
        if g == "a":
            return RDF_TYPE
        if t.group("local") is not None:
            pfx = t.group("pname") or ""
            if pfx not in self.prefixes:
                raise SparqlError(f"unknown prefix {pfx!r}")
            return self.prefixes[pfx] + t.group("local")
        raise SparqlError(f"unexpected token {g!r}")

    # ---- grammar ---------------------------------------------------
    def parse(self) -> Query:
        while self.kw("PREFIX"):
            t = self.next()
            pfx = t.group("pname") or ""
            iri = self.next().group(0)
            if not iri.startswith("<"):
                raise SparqlError("PREFIX needs <iri>")
            self.prefixes[pfx] = iri[1:-1]
        form = self.kw("SELECT", "ASK", "CONSTRUCT", "DESCRIBE")
        if not form:
            raise SparqlError("only SELECT / ASK / CONSTRUCT / DESCRIBE supported")
        q = Query(form=form)
        if form == "CONSTRUCT":
            nxt = self.peek()
            if nxt is not None and nxt.group(0).upper() in ("WHERE", "FROM"):
                # CONSTRUCT WHERE { tp … } shorthand: the WHERE pattern
                # doubles as the template (plain triple patterns only —
                # paths/brackets have no template form, per the spec).
                # Grammar: CONSTRUCT DatasetClause* WHERE GroupGraphPattern
                self._dataset(q)
                self.expect("WHERE")
                self.expect("{")
                q.where = self._group()
                if any(e[0] != "bgp" for e in q.where):
                    raise SparqlError(
                        "CONSTRUCT WHERE shorthand allows triple patterns only"
                    )
                q.template = [t for e in q.where for t in e[1]]
                if any(not isinstance(p, str) for _, p, _ in q.template):
                    raise SparqlError(
                        "CONSTRUCT WHERE shorthand allows plain triple "
                        "patterns only (no property paths)"
                    )
                self._modifiers(q)
                if self.kw("VALUES"):
                    q.trailing_values.append(self._values_clause())
                return q
            self.expect("{")
            self._template(q)
        if form == "DESCRIBE":
            while True:
                t = self.peek()
                if (
                    t is None
                    or t.group(0).upper() in ("WHERE", "FROM")
                    or t.group(0) == "{"
                ):
                    break
                q.describe.append(self.term())
            if not q.describe:
                raise SparqlError("DESCRIBE needs at least one node")
            self._dataset(q)
            if self.peek() is None:  # DESCRIBE <iri> with no WHERE
                return q
        if form == "SELECT":
            self._select_clause(q)
        self._dataset(q)
        self.kw("WHERE")
        self.expect("{")
        self._where(q)
        self._modifiers(q)
        # trailing VALUES block (SPARQL ValuesClause: after the solution
        # modifiers, applies to the whole query — joined AFTER the WHERE
        # group so group FILTERs see its vars as unbound, per 18.2.2)
        if self.kw("VALUES"):
            q.trailing_values.append(self._values_clause())
        return q

    def _where(self, q: Query):
        """A SELECT's WHERE group ('{' already consumed), recording its
        variables in order of first appearance."""
        start = self.i
        q.where = self._group()
        q.var_order = list(
            dict.fromkeys(t.group(0)[1:] for t in self.toks[start:self.i] if t.lastgroup == "var")
        )

    def _select_clause(self, q: Query):
        """SELECT [DISTINCT] projection list (after SELECT consumed)."""
        q.distinct = bool(self.kw("DISTINCT"))
        while True:
            t = self.peek()
            if t is None:
                raise SparqlError("missing WHERE")
            if t.group(0) == "*":
                self.next()
                break
            if t.lastgroup == "var":
                v = self.next().group(0)[1:]
                q.projections.append(("var", v))
                q.variables.append(v)
                continue
            if t.group(0) == "(":
                self.next()
                e = self._expression(aggs=True)
                self.expect("AS")
                alias = self.next()
                if alias.lastgroup != "var":
                    raise SparqlError("select expression needs AS ?alias")
                self.expect(")")
                q.projections.append(("expr", e, alias.group(0)[1:]))
                q.variables.append(alias.group(0)[1:])
                continue
            break

    def _dataset(self, q: Query):
        """DatasetClause*: FROM <iri> | FROM NAMED <iri>.  The reference
        inherits dataset handling from ARQ (engine/QueryEngineD2RQ.java
        delegates query-level dataset construction); here the clauses
        derive the query's dataset (Dataset.from_clauses)."""
        while self.kw("FROM"):
            named = bool(self.kw("NAMED"))
            t = self.peek()
            if t is None or not (t.lastgroup == "iri" or t.group("local") is not None):
                raise SparqlError("FROM needs an IRI")
            iri = self.term()
            (q.from_named if named else q.from_graphs).append(iri)

    def _modifiers(self, q: Query):
        """GROUP BY / HAVING / ORDER BY / LIMIT / OFFSET."""
        if self.kw("GROUP"):
            self.expect("BY")
            while self.peek() is not None and self.peek().lastgroup == "var":
                q.group_by.append(self.next().group(0)[1:])
            if not q.group_by:
                raise SparqlError("GROUP BY needs at least one ?var")
        while self.kw("HAVING"):
            q.having.append(self._primary(aggs=True))
        if self.kw("ORDER"):
            self.expect("BY")
            while (t := self.peek()) is not None:
                # OrderCondition: ASC/DESC (expr) | ?var | (expr) | call
                order = self.kw("ASC", "DESC")
                if not (
                    order or t.group(0) == "(" or t.lastgroup == "var"
                    or t.group(0).upper() in BUILTINS
                ):
                    break
                q.order_by.append((self._primary(), order == "DESC"))
        if self.kw("LIMIT"):
            q.limit = int(self.next().group(0))
        if self.kw("OFFSET"):
            q.offset = int(self.next().group(0))

    @staticmethod
    def _triples(elems: list) -> list:
        """The pattern list of the group's current triples block: a
        FILTER applies to the whole group, so it does not end a block."""
        last = next((e for e in reversed(elems) if e[0] != "filter"), None)
        if last is None or last[0] != "bgp":
            last = ("bgp", [])
            elems.append(last)
        return last[1]

    def _group(self) -> list:
        """A braced group's elements in the order written ('{' already
        consumed; the forms are listed at Query.where)."""
        elems: list = []
        while True:
            t = self.peek()
            if t is None:
                raise SparqlError("unterminated group")
            g = t.group(0)
            if g == "}":
                self.next()
                return elems
            if g == ".":
                self.next()
                continue
            if g.upper() == "FILTER":
                self.next()
                nxt = self.peek()
                # FILTER [NOT] EXISTS { … } → semi/anti join on the
                # shared variables; both the bare form and the
                # parenthesized spelling FILTER ((NOT) EXISTS { … })
                wrapped = False
                if nxt is not None and nxt.group(0) == "(":
                    a1 = self.toks[self.i + 1] if self.i + 1 < len(self.toks) else None
                    a2 = self.toks[self.i + 2] if self.i + 2 < len(self.toks) else None
                    is_ex = a1 is not None and (
                        a1.group(0).upper() == "EXISTS"
                        or (
                            a1.group(0).upper() == "NOT"
                            and a2 is not None
                            and a2.group(0).upper() == "EXISTS"
                        )
                    )
                    if is_ex:
                        self.next()  # consume '('
                        wrapped = True
                        nxt = self.peek()
                if nxt is not None and nxt.group(0).upper() in ("EXISTS", "NOT"):
                    neg = nxt.group(0).upper() == "NOT"
                    self.next()
                    if neg:
                        ex = self.next()
                        if ex is None or ex.group(0).upper() != "EXISTS":
                            raise SparqlError("expected EXISTS after FILTER NOT")
                    self.expect("{")
                    elems.append(("filter", ("exists", neg, self._group())))
                    if wrapped:
                        self.expect(")")
                    continue
                elems.append(("filter", self._primary()))
                continue
            if g.upper() == "OPTIONAL":
                self.next()
                self.expect("{")
                elems.append(("optional", self._group()))
                continue
            if g == "{":
                self.next()
                nxt = self.peek()
                if nxt is not None and nxt.group(0).upper() == "SELECT":
                    # subquery: { SELECT ... WHERE { ... } modifiers } —
                    # evaluated independently, joined on shared variables
                    self.next()
                    sub = Query(form="SELECT")
                    self._select_clause(sub)
                    self.kw("WHERE")
                    self.expect("{")
                    self._where(sub)
                    self._modifiers(sub)
                    self.expect("}")
                    elems.append(("subquery", sub))
                    continue
                # { A } UNION { B } [UNION { C }]; a lone braced group
                # is a one-branch union, i.e. a nested group
                branches = [self._group()]
                while self.kw("UNION"):
                    self.expect("{")
                    branches.append(self._group())
                elems.append(("union", branches))
                continue
            if g.upper() == "MINUS":
                self.next()
                self.expect("{")
                elems.append(("minus", self._group()))
                continue
            if g.upper() == "BIND":
                self.next()
                self.expect("(")
                e = self._expression()
                self.expect("AS")
                var = self.next()
                if var.lastgroup != "var":
                    raise SparqlError("BIND needs (expr AS ?var)")
                self.expect(")")
                # STRLANG/STRDT tags land in the target's companion
                # columns, so they must be constants
                if e[0] == "call" and e[1] in ("STRLANG", "STRDT"):
                    if e[2][1][0] not in ("lit", "iri"):
                        raise SparqlError(f"{e[1]} tag must be a constant")
                elems.append(("bind", e, var.group(0)[1:]))
                continue
            if g.upper() == "VALUES":
                self.next()
                elems.append(("values", *self._values_clause()))
                continue
            if g.upper() == "GRAPH":
                # GRAPH <iri> { … } / GRAPH ?g { … }: the group's
                # patterns evaluate against the named graph (data or
                # vocabulary); ?g unions both with ?g bound
                self.next()
                gterm = self.term()
                self.expect("{")
                elems.append(("graph", gterm, self._group()))
                continue
            if g.upper() == "SERVICE":
                raise SparqlError("SERVICE not supported (no network)")
            s = self._term_or_bnode(elems)
            # a bracketed subject may stand alone as a whole triple
            # block: `[ a ex:Nation ; ex:p ?o ] .` (SPARQL grammar:
            # TriplesSameSubject → BlankNodePropertyList PropertyList?)
            nxt_t = self.peek()
            if (
                isinstance(s, str)
                and s.startswith("?__bn")
                and (nxt_t is None or nxt_t.group(0) in (".", "}"))
            ):
                continue
            alts = self._path()
            self._triples(elems).extend(
                self._expand_path(s, alts, self._term_or_bnode(elems))
            )
            # object lists: s p o1 , o2
            while self.peek() is not None and self.peek().group(0) == ",":
                self.next()
                self._triples(elems).extend(
                    self._expand_path(s, alts, self._term_or_bnode(elems))
                )
            # predicate lists: s p1 o1 ; p2 o2
            while self.peek() is not None and self.peek().group(0) == ";":
                self.next()
                if self.peek() is not None and self.peek().group(0) in (".", "}"):
                    break
                alts2 = self._path()
                self._triples(elems).extend(
                    self._expand_path(s, alts2, self._term_or_bnode(elems))
                )

    def _term_or_bnode(self, elems: list):
        """A term, or a blank-node property list `[ p1 o1 ; p2 o2 ]`
        (anonymous `[]` allowed) — SPARQL's bracketed bnode syntax.  A
        query bnode is a NON-DISTINGUISHED variable: expand to a fresh
        `?__bn…` (the `__` prefix keeps it out of SELECT *) and append
        the bracketed triples to the group's current triples block; nested brackets
        recurse."""
        t = self.peek()
        if t is None or t.group(0) != "[":
            return self.term()
        self.next()
        self._fresh_n += 1
        var = f"?__bn{self._fresh_n}"
        if self.peek() is not None and self.peek().group(0) == "]":
            self.next()
            return var
        while True:
            alts = self._path()
            self._triples(elems).extend(
                self._expand_path(var, alts, self._term_or_bnode(elems))
            )
            while self.peek() is not None and self.peek().group(0) == ",":
                self.next()
                self._triples(elems).extend(
                    self._expand_path(var, alts, self._term_or_bnode(elems))
                )
            if self.peek() is not None and self.peek().group(0) == ";":
                self.next()
                if self.peek() is not None and self.peek().group(0) == "]":
                    break
                continue
            break
        self.expect("]")
        return var

    def _template(self, q: Query):
        """CONSTRUCT template: plain s/p/o triples, '.'-separated."""
        while True:
            t = self.peek()
            if t is None:
                raise SparqlError("unterminated CONSTRUCT template")
            if t.group(0) == "}":
                self.next()
                return
            if t.group(0) == ".":
                self.next()
                continue
            q.template.append(
                (self._template_term(), self._template_term(), self._template_term())
            )

    def _template_term(self):
        """Template terms must distinguish literal constants from IRIs —
        force plain string literals into Lit so CONSTRUCT emits them as
        literals."""
        t = self.peek()
        is_str = t is not None and t.group("str") is not None
        term = self.term()
        if is_str and not hasattr(term, "datatype"):
            from ont_d2rq_spark.graph import Lit

            term = Lit(term)
        return term

    # ---- property paths (pred position): ^inv, p1/p2 sequence,
    #      p1|p2 alternation, p+ / p* / p? repetition, (group) ------------
    def _path_atom(self):
        inv = False
        if self.peek() is not None and self.peek().group(0) == "^":
            self.next()
            inv = True
        if self.peek() is not None and self.peek().group(0) == "!":
            self.next()
            t = self._negated_set(outer_inv=inv)
            # repetition over a negated set — `!p+`, `(^!(p|q))*`: the
            # NPS defines the closure's base edge set (any edge whose
            # predicate is outside the list); PathPlus handles the
            # iteration exactly as for a named predicate.  `^` was
            # already folded into the member directions (`^!p ≡ !^p`,
            # and the inverse of a closure is the closure of the
            # inverted edge set), so inv is always False here.
            mod = None
            if self.peek() is not None and self.peek().group(0) in ("+", "*", "?"):
                mod = self.next().group(0)
            return (t, False, mod)
        if self.peek() is not None and self.peek().group(0) == "(":
            self.next()
            t = _GroupAtom(self._path())
            self.expect(")")
        else:
            t = self.term()
        mod = None
        if self.peek() is not None and self.peek().group(0) in ("+", "*", "?"):
            mod = self.next().group(0)
        return (t, inv, mod)

    def _negated_set(self, outer_inv: bool):
        """After '!': a single (possibly ^-inverted) IRI or a
        parenthesized |-list of them → graph.NegatedSet (mixed
        forward/inverse sets evaluate as a union of the two
        directions, graph.bgp).  ``outer_inv`` handles `^!(...)` ≡
        `!(^...)` by flipping every member's direction."""
        from ont_d2rq_spark.graph import NegatedSet

        members: list[tuple[str, bool]] = []

        def one():
            minv = False
            if self.peek() is not None and self.peek().group(0) == "^":
                self.next()
                minv = True
            m = self.term()
            if not isinstance(m, str) or m.startswith("?"):
                raise SparqlError("negated property set members must be IRIs")
            members.append((m, minv != outer_inv))

        if self.peek() is not None and self.peek().group(0) == "(":
            self.next()
            one()
            while True:
                t = self.next()
                if t is None:
                    raise SparqlError("unterminated negated property set")
                if t.group(0) == ")":
                    break
                if t.group(0) != "|":
                    raise SparqlError(
                        f"expected '|' or ')' in negated property set, got {t.group(0)!r}"
                    )
                one()
        else:
            one()
        fwd = tuple(m for m, i in members if not i)
        inv = tuple(m for m, i in members if i)
        return NegatedSet(fwd, inv)

    def _path(self):
        """→ list of alternatives; each alternative a list of atoms
        ('/' binds tighter than '|', per the SPARQL grammar)."""
        alts = [[self._path_atom()]]
        while self.peek() is not None and self.peek().group(0) in ("/", "|"):
            op = self.next().group(0)
            atom = self._path_atom()
            if op == "/":
                alts[-1].append(atom)
            else:
                alts.append([atom])
        return alts

    def _expand_path(self, s, alts, o) -> list:
        """Path → plain triple patterns: sequences chain through fresh
        variables, ^ swaps s/o, repetition modifiers become PathPlus
        markers the BGP compiler evaluates as a transitive closure;
        parenthesized groups splice inline (no modifier) or become a
        PathGroup closure base — `(p1/p2)+` iterates over the group's
        composite edge set."""
        from ont_d2rq_spark.graph import PathGroup, PathPlus

        if len(alts) == 1:
            out = []
            seq = alts[0]
            cur = s
            for i, (pred, inv, mod) in enumerate(seq):
                self._fresh_n += 1
                nxt = o if i == len(seq) - 1 else f"?__pp{self._fresh_n}"
                if isinstance(pred, _GroupAtom):
                    galts = pred.alts
                    if inv:
                        # ^(a/b) ≡ ^b/^a — reverse atoms, flip each inv
                        galts = [
                            [(p, not iv, m) for (p, iv, m) in reversed(sq)]
                            for sq in galts
                        ]
                    if mod:
                        gpats = self._expand_path("?__cs", galts, "?__co")
                        out.append((cur, PathPlus(PathGroup(gpats), mod), nxt))
                    else:
                        out.extend(self._expand_path(cur, galts, nxt))
                    cur = nxt
                    continue
                subj, obj = (nxt, cur) if inv else (cur, nxt)
                out.append((subj, PathPlus(pred, mod) if mod else pred, obj))
                cur = nxt
            return out
        from ont_d2rq_spark.graph import NegatedSet

        preds = []
        for seq in alts:
            if len(seq) != 1 or seq[0][1] or seq[0][2] or isinstance(
                seq[0][0], (_GroupAtom, NegatedSet)
            ):
                raise SparqlError(
                    "path alternation supports plain predicates only (p1|p2)"
                )
            preds.append(seq[0][0])
        return [(s, tuple(preds), o)]

    def _values_clause(self):
        """VALUES ?v { t … } | VALUES (?v ?w) { (t t) … } → (vars, rows)."""
        t = self.peek()
        if t is not None and t.group(0) == "(":
            self.next()
            vars_: list[str] = []
            while self.peek() is not None and self.peek().lastgroup == "var":
                vars_.append(self.next().group(0)[1:])
            self.expect(")")
        else:
            v = self.next()
            if v.lastgroup != "var":
                raise SparqlError("VALUES needs ?var or (?v ?w …)")
            vars_ = [v.group(0)[1:]]
        self.expect("{")
        rows: list[tuple] = []
        while True:
            t = self.peek()
            if t is None:
                raise SparqlError("unterminated VALUES block")
            if t.group(0) == "}":
                self.next()
                break
            if len(vars_) == 1:
                rows.append((self._values_cell(),))
            else:
                self.expect("(")
                row = []
                while self.peek() is not None and self.peek().group(0) != ")":
                    row.append(self._values_cell())
                self.expect(")")
                if len(row) != len(vars_):
                    raise SparqlError("VALUES row arity mismatch")
                rows.append(tuple(row))
        return (vars_, rows)

    def _values_cell(self):
        """One VALUES cell: a term, or UNDEF → None (unbound — the row
        places no constraint on that variable)."""
        t = self.peek()
        if t is not None and t.group(0).upper() == "UNDEF":
            self.next()
            return None
        return str(self.term())

    # ---- expressions → trees (SPARQL 1.1 grammar [110]-[121]) --------
    # ("var", name) | ("lit", lex, datatype, lang) | ("iri", iri) |
    # ("num", text) | ("bool", b) | ("op", sym, a[, b]) |
    # ("in", negated, a, items) | ("call", NAME, args) |
    # ("agg", FN, distinct, arg or None for *, separator); to_column
    # compiles a tree, and ``aggs`` says whether aggregates may appear
    def _expression(self, aggs=False):
        e = self._conjunction(aggs)
        while self.kw("||"):
            e = ("op", "||", e, self._conjunction(aggs))
        return e

    def _conjunction(self, aggs):
        e = self._relational(aggs)
        while self.kw("&&"):
            e = ("op", "&&", e, self._relational(aggs))
        return e

    def _relational(self, aggs):
        e = self._additive(aggs)
        op = self.kw("=", "!=", "<", ">", "<=", ">=")
        if op:
            return ("op", op, e, self._additive(aggs))
        neg = self.kw("NOT") is not None
        if self.kw("IN"):
            return ("in", neg, e, self._args(aggs))
        if neg:
            raise SparqlError("expected IN after NOT")
        return e

    def _additive(self, aggs):
        e = self._multiplicative(aggs)
        while True:
            op = self.kw("+", "-")
            t = self.peek()
            if op:
                e = ("op", op, e, self._multiplicative(aggs))
            elif t is not None and t.lastgroup == "num" and t.group(0)[0] in "+-":
                # `?a -1`: the sign lexes into the number
                self.next()
                e = ("op", t.group(0)[0], e, ("num", t.group(0)[1:]))
            else:
                return e

    def _multiplicative(self, aggs):
        e = self._unary(aggs)
        while op := self.kw("*", "/"):
            e = ("op", op, e, self._unary(aggs))
        return e

    def _unary(self, aggs):
        op = self.kw("!", "-", "+")
        if op == "!":
            return ("op", "!", self._unary(aggs))
        if op == "-":
            return ("op", "neg", self._unary(aggs))
        return self._primary(aggs)

    def _args(self, aggs) -> tuple:
        """'(' [expr (',' expr)*] ')' → tuple of trees."""
        self.expect("(")
        args = []
        if not self.kw(")"):
            args.append(self._expression(aggs))
            while self.kw(","):
                args.append(self._expression(aggs))
            self.expect(")")
        return tuple(args)

    def _primary(self, aggs=False):
        """Bracketed expression, call, variable or constant — also a
        FILTER / HAVING constraint, and an ORDER BY condition."""
        t = self.peek()
        if t is None:
            raise SparqlError("unexpected end of expression")
        g = t.group(0)
        if g == "(":
            self.next()
            e = self._expression(aggs)
            self.expect(")")
            return e
        if t.lastgroup == "var":
            self.next()
            return ("var", g[1:])
        if t.lastgroup == "num":
            self.next()
            return ("num", g)
        if t.group("str") is not None:
            v = self.term()
            return ("lit", str(v), getattr(v, "datatype", None), getattr(v, "lang", None))
        if t.lastgroup == "iri" or t.group("local") is not None:
            return ("iri", self.term())
        name = g.upper()
        nxt = self.toks[self.i + 1] if self.i + 1 < len(self.toks) else None
        if t.lastgroup == "kw" and name in ("TRUE", "FALSE"):
            self.next()
            return ("bool", name == "TRUE")
        if t.lastgroup != "kw" or nxt is None or nxt.group(0) != "(":
            raise SparqlError(f"unexpected {g!r} in expression")
        self.next()
        if name in _AGG_FNS:
            if not aggs:
                raise SparqlError(f"aggregate {name} is allowed only in SELECT and HAVING")
            return self._aggregate(name)
        if name not in BUILTINS:
            raise SparqlError(f"unknown function {g!r}")
        args = self._args(aggs)
        lo, hi = BUILTINS[name][1]
        if len(args) < lo or (hi is not None and len(args) > hi):
            want = lo if hi == lo else f"{lo}..{hi if hi is not None else ''}"
            raise SparqlError(f"{name} takes {want} arguments, got {len(args)}")
        return ("call", name, args)

    def _aggregate(self, fn: str):
        """After an aggregate name: ([DISTINCT] * | expr [; SEPARATOR="s"])."""
        self.expect("(")
        distinct = bool(self.kw("DISTINCT"))
        arg = None
        if self.kw("*"):
            if distinct or fn != "COUNT":
                raise SparqlError(f"{fn}(*) only as COUNT(*)")
        else:
            arg = self._expression()
        sep = None
        if self.kw(";"):
            if fn != "GROUP_CONCAT":
                raise SparqlError(f"';' only valid inside GROUP_CONCAT, not {fn}")
            self.expect("SEPARATOR")
            self.expect("=")
            st = self.next()
            if st.group("str") is None:
                raise SparqlError("SEPARATOR needs a string constant")
            sep = st.group("str")[1:-1]
        self.expect(")")
        return ("agg", fn, distinct, arg, sep)


def parse(query: str) -> Query:
    return _P(query).parse()


# ---- expression trees → Columns ----------------------------------------

RDF_LANGSTRING = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
_NUM_DTS = [
    "http://www.w3.org/2001/XMLSchema#" + t
    for t in (
        "integer", "decimal", "float", "double", "long", "int", "short",
        "byte", "nonNegativeInteger", "nonPositiveInteger",
        "negativeInteger", "positiveInteger", "unsignedLong",
        "unsignedInt", "unsignedShort", "unsignedByte",
    )
]
_TZ = "(Z|[+-][0-9]{2}:[0-9]{2})$"


class Term(NamedTuple):
    """A compiled operand: its value Column, ``comp(part)`` giving its
    RDF-term companions on demand (part "__dt", "__lang" or "__islit":
    each Column costs a JVM round trip, and most operands need none),
    its constant (None unless a constant) and whether the value is
    already numeric."""

    v: Column
    comp: Callable[[str], Column]
    const: Optional[str] = None
    num: bool = False

    dt = property(lambda t: t.comp("__dt"))
    lang = property(lambda t: t.comp("__lang"))
    lit = property(lambda t: t.comp("__islit"))


def _s(x):
    return F.lit(x).cast("string")


def _companions(islit, dt=None, lang=None):
    """The companions of a constant or computed term: ``islit`` is a
    bool or makes the is-literal Column, ``dt`` and ``lang`` are
    constant tags."""
    def comp(p):
        if p == "__islit":
            return islit() if callable(islit) else F.lit(islit)
        return _s(dt if p == "__dt" else lang)

    return comp


def _derived(v, kind="lit", dt=None, lang=None) -> Term:
    """A computed value: an IRI (kind "iri") or a literal, unbound where
    the value is the error value."""
    return Term(
        v,
        _companions(lambda: F.when(v.isNotNull(), F.lit(kind != "iri")), dt, lang),
        num=kind == "num",
    )


def _num(t: Term):
    """An operand's numeric value.  A lexical binding reads through
    try_cast, so a non-numeric one is the error value (NULL) rather than
    an ANSI cast failure; numeric Columns (COUNT aliases) stay as they
    are."""
    return t.v if t.num else t.v.try_cast("double")


def _ts(t: Term):
    # the accessors return the component in the literal's OWN timezone
    # (SPARQL 17.4.5): strip the zone designator before the cast, which
    # would otherwise shift the clock into the session timezone
    return F.regexp_replace(t.v, _TZ, "").try_cast("timestamp")


def _known(t: Term, c):
    return F.when(t.v.isNotNull(), c)  # error value for an unbound operand


def _is_lit(t: Term):
    return F.coalesce(t.lit, F.lit(False))


def _regex(p: Term, flags: Optional[Term]):
    """A SPARQL pattern, its flags as Java's inline (?flags) group."""
    return p.v if flags is None else F.concat(F.lit("(?"), flags.v, F.lit(")"), p.v)


def _datatype(t: Term):
    # RDF 1.1 / SPARQL 17.4.2.7: a language-tagged literal's datatype is
    # rdf:langString (its __dt companion is NULL); a plain literal IS
    # xsd:string
    return F.when(F.nullif(t.lang, F.lit("")).isNotNull(), F.lit(RDF_LANGSTRING)).otherwise(
        F.coalesce(t.dt, F.when(t.lit, F.lit(XSD_STRING)))
    )


def _lang_matches(tag: Term, rng: Term):
    if rng.const == "*":  # any non-empty tag
        return tag.v != ""
    low, r = F.lower(tag.v), F.lower(rng.v)
    return (low == r) | F.startswith(low, F.concat(r, F.lit("-")))


def _split(a: Term, b: Term, before: bool):
    # STRBEFORE / STRAFTER give "" (not the error value) when the needle
    # is absent
    pos = F.instr(a.v, b.v)
    part = F.substr(a.v, F.lit(1), pos - 1) if before else F.substr(a.v, pos + F.length(b.v))
    return F.when(pos > 0, part).when(pos == 0, F.lit(""))


def _v(fn):
    return lambda *ts: fn(*(t.v for t in ts))  # a builder over the values only


# The SPARQL builtins, one row each: (name, (min, max) arity with max
# None for variadic, result kind, Column builder over the operand
# Terms).  Kind "num" is numeric, "iri" an IRI, "lit" any other value.
# Node values are lexical strings, so IRI()/STR() pass them through and
# the string functions also read an IRI's lexical form.
BUILTINS = {row[0]: row for row in [
    ("STR", (1, 1), "lit", lambda a: a.v),
    ("LANG", (1, 1), "lit", lambda a: F.coalesce(a.lang, F.lit(""))),
    ("DATATYPE", (1, 1), "iri", _datatype),
    ("BOUND", (1, 1), "lit", lambda a: a.v.isNotNull()),
    ("ISLITERAL", (1, 1), "lit", lambda a: _known(a, _is_lit(a))),
    ("ISIRI", (1, 1), "lit", lambda a: ~_is_lit(a) & ~F.startswith(a.v, F.lit("_:"))),
    ("ISBLANK", (1, 1), "lit", lambda a: ~_is_lit(a) & F.startswith(a.v, F.lit("_:"))),
    ("ISNUMERIC", (1, 1), "lit",
     lambda a: _known(a, _is_lit(a) & F.coalesce(a.dt.isin(*_NUM_DTS), F.lit(False)))),
    # full RDF-term identity: lexical form, datatype, tag and kind
    ("SAMETERM", (2, 2), "lit",
     lambda a, b: a.v.eqNullSafe(b.v) & a.dt.eqNullSafe(b.dt) & a.lang.eqNullSafe(b.lang)
     & _is_lit(a).eqNullSafe(_is_lit(b))),
    ("STRSTARTS", (2, 2), "lit", _v(F.startswith)),
    ("STRENDS", (2, 2), "lit", _v(F.endswith)),
    ("CONTAINS", (2, 2), "lit", _v(F.contains)),
    ("STRBEFORE", (2, 2), "lit", lambda a, b: _split(a, b, True)),
    ("STRAFTER", (2, 2), "lit", lambda a, b: _split(a, b, False)),
    ("STRLEN", (1, 1), "num", _v(F.length)),
    ("UCASE", (1, 1), "lit", _v(F.upper)),
    ("LCASE", (1, 1), "lit", _v(F.lower)),
    ("SUBSTR", (2, 3), "lit", _v(F.substr)),
    ("CONCAT", (1, None), "lit", _v(F.concat)),
    ("REGEX", (2, 3), "lit", lambda a, p, f=None: F.regexp_like(a.v, _regex(p, f))),
    ("REPLACE", (3, 4), "lit",
     lambda a, p, r, f=None: F.regexp_replace(a.v, _regex(p, f), r.v)),
    ("LANGMATCHES", (2, 2), "lit", _lang_matches),
    # RFC 3986 percent-encoding: url_encode is form encoding (space → +)
    ("ENCODE_FOR_URI", (1, 1), "lit",
     lambda a: F.replace(F.url_encode(a.v), F.lit("+"), F.lit("%20"))),
    ("IRI", (1, 1), "iri", lambda a: a.v),
    ("URI", (1, 1), "iri", lambda a: a.v),
    # typed-literal constructors: the tag lands in the companions (_term)
    ("STRLANG", (2, 2), "lit", lambda a, tag: a.v),
    ("STRDT", (2, 2), "lit", lambda a, dt: a.v),
    ("MD5", (1, 1), "lit", _v(F.md5)),
    ("SHA1", (1, 1), "lit", _v(F.sha1)),
    ("SHA256", (1, 1), "lit", lambda a: F.sha2(a.v, 256)),
    ("SHA384", (1, 1), "lit", lambda a: F.sha2(a.v, 384)),
    ("SHA512", (1, 1), "lit", lambda a: F.sha2(a.v, 512)),
    ("YEAR", (1, 1), "num", lambda a: F.year(_ts(a))),
    ("MONTH", (1, 1), "num", lambda a: F.month(_ts(a))),
    ("DAY", (1, 1), "num", lambda a: F.dayofmonth(_ts(a))),
    ("HOURS", (1, 1), "num", lambda a: F.hour(_ts(a))),
    ("MINUTES", (1, 1), "num", lambda a: F.minute(_ts(a))),
    # xsd:decimal: fractional seconds survive
    ("SECONDS", (1, 1), "num",
     lambda a: F.date_format(_ts(a), "ss.SSS").cast("decimal(9,3)")),
    ("TZ", (1, 1), "lit", lambda a: F.coalesce(F.regexp_extract(a.v, _TZ, 1), F.lit(""))),
    # the xsd:dateTime lexical form; one timestamp per query
    ("NOW", (0, 0), "lit",
     lambda: F.date_format(F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss.SSSxxx")),
    ("UUID", (0, 0), "iri", lambda: F.concat(F.lit("urn:uuid:"), F.uuid())),
    ("STRUUID", (0, 0), "lit", lambda: F.uuid()),
    ("RAND", (0, 0), "num", lambda: F.rand()),
    ("ABS", (1, 1), "num", lambda a: F.abs(_num(a))),
    ("ROUND", (1, 1), "num", lambda a: F.round(_num(a))),
    ("CEIL", (1, 1), "num", lambda a: F.ceil(_num(a))),
    ("FLOOR", (1, 1), "num", lambda a: F.floor(_num(a))),
    ("COALESCE", (1, None), "lit", _v(F.coalesce)),
    ("IF", (3, 3), "lit", lambda c, a, b: F.when(c.v, a.v).when(~c.v, b.v)),
]}

_BINOPS = {
    "||": operator.or_, "&&": operator.and_,
    "=": operator.eq, "!=": operator.ne, "<": operator.lt, ">": operator.gt,
    "<=": operator.le, ">=": operator.ge,
    "+": operator.add, "-": operator.sub, "*": operator.mul, "/": F.try_divide,
}


def to_column(e, resolve):
    """Compile an expression tree (_P._expression) to a Column.
    ``resolve(var, part)`` is the evaluating context's variable lookup
    (graph.resolver): the Column of the variable's value (part "") or of
    its __dt / __lang / __islit companion — over the group's frame, an
    OPTIONAL slice, the EXISTS merge or the aggregated frame.  SPARQL's
    error value is SQL NULL: FILTER drops it, and Spark's Kleene OR /
    AND / NOT are exactly the §17.2 truth tables of ||, && and !."""
    return _term(e, resolve).v


def _term(e, resolve) -> Term:
    kind = e[0]
    if kind == "var":
        return Term(resolve(e[1], ""), partial(resolve, e[1]))
    if kind == "col":  # a typed engine column (an aggregate), read as is
        return Term(F.col(e[1]), _companions(True), num=True)
    if kind == "lit":
        return Term(F.lit(e[1]), _companions(True, e[2], e[3]), const=e[1])
    if kind == "iri":
        return Term(F.lit(e[1]), _companions(False), const=e[1])
    if kind == "num":
        n = float(e[1]) if "." in e[1] else int(e[1])
        return Term(F.lit(n), _companions(True), const=e[1], num=True)
    if kind == "bool":
        return _derived(F.lit(e[1]))
    if kind == "call":
        args = [_term(a, resolve) for a in e[2]]
        _, _, result, build = BUILTINS[e[1]]
        tag = args[1].const if e[1] in ("STRLANG", "STRDT") else None
        return _derived(build(*args), result, *((None, tag) if e[1] == "STRLANG" else (tag, None)))
    if kind == "in":
        a, items = _term(e[2], resolve), [_term(x, resolve) for x in e[3]]
        val = _num if any(i.num for i in items) else (lambda t: t.v)
        c = val(a).isin(*[val(i) for i in items])
        return _derived(~c if e[1] else c)
    if kind == "agg":
        raise SparqlError(f"aggregate {e[1]} outside SELECT / HAVING")
    args = [_term(x, resolve) for x in e[2:]]
    if e[1] == "!":
        return _derived(~args[0].v)
    if e[1] == "neg":
        return _derived(-_num(args[0]), "num")
    a, b = args
    if e[1] in ("+", "-", "*", "/"):
        return _derived(_BINOPS[e[1]](_num(a), _num(b)), "num")
    if a.num != b.num:  # a lexical binding against a number: numeric values
        return _derived(_BINOPS[e[1]](_num(a), _num(b)))
    return _derived(_BINOPS[e[1]](a.v, b.v))


def _agg_column(e, resolve):
    """An aggregate call → its Column over the pre-aggregation frame.
    SUM/AVG read the binding as a double; MIN/MAX compare the lexical
    form."""
    _, fn, distinct, arg, sep = e
    if arg is None:
        return F.count(F.lit(1))
    c = to_column(arg, resolve)
    if fn == "COUNT":
        return F.countDistinct(c) if distinct else F.count(c)
    if fn == "SUM":
        return F.sum_distinct(c.cast("double")) if distinct else F.sum(c.cast("double"))
    if fn == "AVG":
        if distinct:
            raise SparqlError("AVG(DISTINCT) not supported")
        return F.avg(c.cast("double"))
    if fn == "GROUP_CONCAT":
        # members sorted before joining → deterministic across
        # partitionings (SPARQL leaves the order unspecified); DuckDB
        # twin: string_agg(x, sep ORDER BY x)
        c = F.collect_set(c) if distinct else F.collect_list(c)
        return F.array_join(F.array_sort(c), sep if sep is not None else " ")
    # SAMPLE: the minimum, a deterministic representative
    return F.max(c) if fn == "MAX" else F.min(c)


def _construct_frame(df: DataFrame, template: list) -> DataFrame:
    """CONSTRUCT: instantiate each template triple per binding row →
    TRIPLE_SCHEMA-shaped frame, deduped (CONSTRUCT graphs are sets).
    Rows with an unbound (NULL) template variable emit no triple.

    `?__bn…` vars (bracketed bnode property lists in the CONSTRUCT
    WHERE shorthand) are template blank nodes: per spec each solution
    instantiates a FRESH bnode, not the matched term.  Labels are
    minted from a hash of the full solution row — same solution ⇒ same
    label across the template's triples, distinct solutions ⇒ distinct
    labels — which is distributed-safe (no driver counter, stable
    under recomputation).  Duplicate solutions merge their bnodes; the
    output is a graph (set), so the merge is a lean of the spec graph."""
    from functools import reduce as _reduce

    from ont_d2rq_spark.graph import Lit, _is_companion, _is_var, _var_name

    bn_vars = {
        _var_name(t)
        for tri in template
        for t in tri
        if _is_var(t) and _var_name(t).startswith("__bn")
    }
    sol_hash = None
    if bn_vars:
        sol_cols = [c for c in df.columns if c != "_m" and not _is_companion(c)]
        sol_hash = (
            F.md5(
                F.concat_ws(
                    "\x1f",
                    *[
                        F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                        for c in sol_cols
                    ],
                )
            )
            if sol_cols
            else F.lit("0")
        )

    frames = []
    for ts, tp, to in template:
        def _node(term):
            if _is_var(term):
                v = _var_name(term)
                if v in bn_vars:
                    return F.concat(F.lit(f"_:cb{v[4:]}_"), sol_hash)
                return F.col(v)
            return F.lit(str(term))

        if _is_var(to) and _var_name(to) in bn_vars:
            o_dt = F.lit(None).cast("string")
            o_lang = F.lit(None).cast("string")
            o_islit = F.lit(False)
        elif _is_var(to):
            v = _var_name(to)
            o_dt = F.col(f"{v}__dt") if f"{v}__dt" in df.columns else F.lit(None).cast("string")
            o_lang = F.col(f"{v}__lang") if f"{v}__lang" in df.columns else F.lit(None).cast("string")
            o_islit = F.col(f"{v}__islit") if f"{v}__islit" in df.columns else F.lit(False)
        elif isinstance(to, Lit):
            o_dt = F.lit(to.datatype).cast("string")
            o_lang = F.lit(to.lang).cast("string")
            o_islit = F.lit(True)
        else:
            o_dt, o_lang, o_islit = (
                F.lit(None).cast("string"),
                F.lit(None).cast("string"),
                F.lit(False),
            )
        frames.append(
            df.select(
                _node(ts).cast("string").alias("subj"),
                _node(tp).cast("string").alias("pred"),
                _node(to).cast("string").alias("obj"),
                o_dt.alias("obj_datatype"),
                o_lang.alias("obj_lang"),
                o_islit.cast("boolean").alias("is_literal"),
            ).filter(
                F.col("subj").isNotNull()
                & F.col("pred").isNotNull()
                & F.col("obj").isNotNull()
            )
        )
    out = _reduce(lambda a, b: a.unionByName(b), frames)
    return distinct_triples(out)


def _describe_frame(
    src, df: Optional[DataFrame], nodes: list, max_bnode_depth: int = 8
) -> DataFrame:
    """DESCRIBE with full Concise Bounded Description over ``src``, the
    dataset's default graph: all outbound triples of the described
    nodes (a constant one by a bound-subject find), plus — to a
    fixpoint — the outbound triples of every blank node reached as an
    object (Jena CBD).  The
    mapping mints stable `_:b…` labels, so bNode objects are detected
    lexically; depth is bounded by `max_bnode_depth` (the mapping caps
    real bNode depth far below it)."""
    from functools import reduce as _reduce

    from ont_d2rq_spark.graph import _is_var, _var_name

    frames = []
    all_t = None
    for term in nodes:
        if _is_var(term):
            if df is None:
                raise SparqlError(f"DESCRIBE {term} needs a WHERE clause")
            if all_t is None:
                all_t = src.triples()
            vals = df.select(F.col(_var_name(term)).alias("subj")).distinct()
            frames.append(all_t.join(F.broadcast(vals), "subj", "left_semi"))
        else:
            frames.append(src.find(s=str(term)))
    out = _reduce(lambda a, b: a.unionByName(b), frames)
    # CBD fixpoint: chase bNode objects, FULLY DISTRIBUTED (no driver
    # collect — same discipline as operators/closure.py): each round
    # takes the bNode objects of only the PREVIOUS round's new triples,
    # anti-joins the already-described set, and semi-joins the full
    # graph.  The seed, frontier and new-triples frames are stored, so
    # no round re-executes an earlier one.  The frontier is explicitly
    # broadcast (iterative outputs carry no stats, so Catalyst would
    # otherwise pick a sort-merge join).
    described = src.spark.createDataFrame([], "subj string")
    out = stored(out)
    cbd_frames = [out]
    cur = out
    for _ in range(max_bnode_depth):
        newb = (
            cur.filter(~F.col("is_literal") & F.col("obj").startswith("_:"))
            .select(F.col("obj").alias("subj"))
            .distinct()
        )
        frontier = stored(newb.join(described, "subj", "left_anti"))
        if frontier.count() == 0:
            break
        if all_t is None:
            all_t = src.triples()
        cur = stored(all_t.join(F.broadcast(frontier), "subj", "left_semi"))
        cbd_frames.append(cur)
        described = described.unionByName(frontier)
    out = _reduce(lambda a, b: a.unionByName(b), cbd_frames)
    return distinct_triples(out)


def execute(graph, query: str) -> DataFrame:
    """Run a SPARQL query against a VirtualGraph, or any Dataset → DataFrame
    of bindings (SELECT), a single boolean column 'ask' (ASK), or a
    TRIPLE_SCHEMA-shaped frame (CONSTRUCT / DESCRIBE)."""
    from ont_d2rq_spark.graph import Dataset

    ds = graph if isinstance(graph, Dataset) else graph.dataset()
    return _execute_query(ds, parse(query))


# ---- the group algebra (SPARQL 1.1 §18.2.2) -----------------------------
# Nodes are tuples: ("unit",) the empty group; ("bgp", patterns);
# ("join", A, B); ("leftjoin", A, B, exprs); ("minus", A, B); ("filter",
# exprs, A), where an expression may be ("exists", negated, body,
# exprs); ("extend", A, var, expr); ("union", [A, ...]); ("table", vars,
# rows) for VALUES; ("graph", term, A); ("query", Query) for a subquery.

_UNIT = ("unit",)


def _join_node(g: tuple, a: tuple) -> tuple:
    return a if g == _UNIT else ("join", g, a)


def _conditions(node: tuple):
    """Split a translated group into its body and its own expression
    filters: the condition of an OPTIONAL's LeftJoin or of an EXISTS
    join, evaluated over the merged row.  FILTER EXISTS stays a filter
    of the body."""
    if node[0] != "filter":
        return node, []
    exists = [e for e in node[1] if e[0] == "exists"]
    body = ("filter", exists, node[2]) if exists else node[2]
    return body, [e for e in node[1] if e[0] != "exists"]


def translate(elements: list) -> tuple:
    """A group's elements (Query.where), in the order written, to its
    algebra tree — SPARQL 1.1 §18.2.2: OPTIONAL, MINUS and BIND apply to
    the group so far, every other element joins it, and the group's
    FILTERs are one Filter over the whole group."""
    g, filters = _UNIT, []
    for el in elements:
        kind = el[0]
        if kind == "filter":
            e = el[1]
            if e[0] == "exists":
                e = ("exists", e[1], *_conditions(translate(e[2])))
            filters.append(e)
        elif kind == "optional":
            g = ("leftjoin", g, *_conditions(translate(el[1])))
        elif kind == "minus":
            g = ("minus", g, translate(el[1]))
        elif kind == "bind":
            g = ("extend", g, el[2], el[1])
        elif kind == "union":
            branches = [translate(b) for b in el[1]]
            g = _join_node(g, branches[0] if len(branches) == 1 else ("union", branches))
        elif kind == "values":
            g = _join_node(g, ("table", el[1], el[2]))
        elif kind == "graph":
            g = _join_node(g, ("graph", el[1], translate(el[2])))
        elif kind == "subquery":
            g = _join_node(g, ("query", el[1]))
        else:
            g = _join_node(g, el)  # a BGP
    return ("filter", filters, g) if filters else g


class _Solutions(NamedTuple):
    """An evaluated algebra node: its frame, the variables it may leave
    unbound (every other variable column is bound in every row) and the
    cross-group URIMakerRule domains of its certain variables
    (VirtualGraph.var_spec_domains), which prune the BGPs evaluated to
    its right."""

    df: DataFrame
    maybe: frozenset = frozenset()
    specs: dict = {}

    @property
    def certain(self) -> set:
        return _vars(self.df) - self.maybe


def _vars(df: DataFrame) -> set:
    from ont_d2rq_spark.graph import _is_companion

    return {c for c in df.columns if not _is_companion(c)}


def _union(parts: list) -> _Solutions:
    """Union of solution sets: a variable is certain only where every
    part binds it in every row."""
    from functools import reduce as _reduce

    df = _reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), [p.df for p in parts]
    )
    certain = set.intersection(*[p.certain for p in parts])
    return _Solutions(df, frozenset(_vars(df) - certain))


def evaluate(ds, node: tuple, scope: Optional[str] = None, outer=None) -> _Solutions:
    """Evaluate an algebra tree (translate) over the Dataset ``ds``.
    ``scope`` is the named graph a GRAPH clause put the BGPs in (None:
    the default graph); ``outer`` the specs of the solutions this node's
    result joins to, which prune its BGPs (sound because a pruned row
    could never be compatible with them).  Join, LeftJoin, Minus and
    EXISTS all run through graph.optional_join, which applies SPARQL's
    compatibility rule to the variables either side may leave unbound."""
    from ont_d2rq_spark.graph import _evaluate_bgp, _is_var, _var_name, optional_join, resolver

    kind = node[0]
    if kind == "bgp":
        src = ds.graph(scope)
        return _Solutions(
            _evaluate_bgp(src, node[1], outer), specs=src.var_spec_domains(node[1])
        )
    if kind == "unit":  # one row, no bindings: what an empty group is
        return _Solutions(ds.spark.range(1).select(F.lit(1).alias("_m")))
    if kind == "table":
        vars_, rows = node[1], node[2]
        vdf = ds.spark.createDataFrame(rows, ", ".join(f"{v} string" for v in vars_))
        undef = {v for i, v in enumerate(vars_) if any(r[i] is None for r in rows)}
        return _Solutions(F.broadcast(vdf), frozenset(undef))
    if kind == "query":
        return _Solutions(*_select(ds, node[1], scope))
    if kind == "union":
        return _union([evaluate(ds, b, scope, outer) for b in node[1]])
    if kind == "graph":
        term, body = node[1], node[2]
        if not _is_var(term):
            return evaluate(ds, body, str(term), outer)
        g, parts = _var_name(term), []
        for iri in ds.named:
            p = evaluate(ds, body, iri, outer)
            parts.append(p._replace(df=p.df.withColumn(g, F.lit(iri))))
        if not parts:  # no solutions, with the body's columns ("" is absent)
            p = evaluate(ds, body, "", outer)
            return _Solutions(p.df.withColumn(g, F.lit(None).cast("string")).limit(0))
        return _union(parts)
    if kind == "extend":
        sol, var, e = evaluate(ds, node[1], scope, outer), node[2], node[3]
        if var in sol.df.columns:
            raise SparqlError(f"BIND target ?{var} is already in scope")
        t = _term(e, resolver(sol.df.columns))
        df = sol.df.withColumn(var, t.v)
        if e[0] == "call" and e[1] in ("STRLANG", "STRDT"):
            # typed-literal constructor: the constant tag lands in the
            # companions (visible to lang()/datatype(), typed CONSTRUCT)
            df = df.withColumns(
                {f"{var}__islit": t.lit, f"{var}__lang": t.lang, f"{var}__dt": t.dt}
            )
        # an expression error leaves the target unbound
        return sol._replace(df=df, maybe=sol.maybe | {var})
    if kind == "filter":
        sol = evaluate(ds, node[2], scope, outer)
        df = sol.df
        for e in node[1]:
            if e[0] == "exists":
                body = evaluate(ds, e[2], scope, sol.specs)
                df = optional_join(
                    df, body.df, [partial(to_column, f) for f in e[3]], sol.maybe,
                    "left_anti" if e[1] else "left_semi", body.maybe,
                )
            else:
                df = df.filter(to_column(e, resolver(df.columns)))
        return sol._replace(df=df)
    left = evaluate(ds, node[1], scope, outer)
    right = evaluate(ds, node[2], scope, left.specs)
    how = {"join": "inner", "leftjoin": "left", "minus": "minus"}[kind]
    filters = [partial(to_column, f) for f in node[3]] if kind == "leftjoin" else ()
    df = optional_join(left.df, right.df, filters, left.maybe, how, right.maybe)
    if kind == "minus":
        return left._replace(df=df)
    if kind == "leftjoin":
        return left._replace(df=df, maybe=left.maybe | (_vars(right.df) - left.certain))
    maybe = (left.maybe | right.maybe) - left.certain - right.certain
    return _Solutions(df, frozenset(maybe), {**right.specs, **left.specs})


def _group_solutions(ds, q: Query, scope=None) -> _Solutions:
    """The WHERE group, then the trailing VALUES: Join(P, ToMultiSet(
    data)) AFTER the group pattern (18.2.2), so its vars are out of
    scope for the group's FILTERs."""
    tree = translate(q.where)
    for vars_, rows in q.trailing_values:
        tree = _join_node(tree, ("table", vars_, rows))
    return evaluate(ds, tree, scope)


def _execute_query(ds, q: Query) -> DataFrame:
    if q.from_graphs or q.from_named:
        # dataset clauses exist only on top-level queries (the grammar
        # gives subqueries no DatasetClause)
        ds = ds.from_clauses(q.from_graphs, q.from_named)
    if q.form == "DESCRIBE" and not q.where:
        return _describe_frame(ds.default, None, q.describe)
    if q.form == "SELECT":
        return _select(ds, q)[0]
    df = _group_solutions(ds, q).df
    if q.form == "ASK":
        return ds.spark.createDataFrame([(not df.isEmpty(),)], "ask boolean")
    if q.form == "CONSTRUCT":
        out = _construct_frame(df, q.template)
    else:
        out = _describe_frame(ds.default, df, q.describe)
    return out.limit(q.limit) if q.limit is not None else out


def _select(ds, q: Query, scope=None):
    """A SELECT query's solutions → (frame, the output variables it may
    leave unbound)."""
    from ont_d2rq_spark.graph import _is_companion, resolver

    sol = _group_solutions(ds, q, scope)
    df = sol.df

    # aggregation: every aggregate call in SELECT or HAVING becomes one
    # column of a single groupBy — the projection's own alias, else a
    # hidden __h column projected away after use
    exprs = [(p[1], p[2]) for p in q.projections if p[0] == "expr"]
    agg_cols: list = []
    hidden: list = []
    having = list(q.having)
    if exprs or having:
        pre = resolver(df.columns)
        aggs: dict = {}  # aggregate call -> its column
        numeric: set = set()

        def add(e, alias):
            aggs.setdefault(e, alias)
            agg_cols.append(_agg_column(e, pre).alias(alias))
            if e[1] in ("COUNT", "SUM", "AVG"):
                numeric.add(alias)

        def lift(e):
            """The post-aggregation tree: an aggregate call reads its
            column, as does a reference to an aggregate's alias; COUNT /
            SUM / AVG columns are typed numbers ("col")."""
            if e[0] == "agg":
                if e not in aggs:
                    hidden.append(f"__h{len(aggs)}")
                    add(e, hidden[-1])
                e = ("var", aggs[e])
            if e[0] == "var":
                return ("col", e[1]) if e[1] in numeric else e
            return tuple(
                lift(x) if isinstance(x, tuple) and x and isinstance(x[0], str)
                else tuple(map(lift, x)) if isinstance(x, tuple) else x
                for x in e
            )

        for e, alias in exprs:
            if e[0] == "agg":
                add(e, alias)
        having = [lift(h) for h in having]
        exprs = [(lift(e), alias) for e, alias in exprs if e[0] != "agg"]
    if agg_cols or q.group_by:
        for _, name in (p for p in q.projections if p[0] == "var"):
            if name not in q.group_by:
                raise SparqlError(f"?{name} in SELECT must appear in GROUP BY")
        df = df.groupBy(*q.group_by).agg(*agg_cols) if q.group_by else df.agg(*agg_cols)
        for h in having:
            df = df.filter(to_column(h, resolver(df.columns)))
    # select expressions (post-aggregation when aggregates exist)
    for e, alias in exprs:
        df = df.withColumn(alias, to_column(e, resolver(df.columns)))
    if hidden:
        df = df.drop(*hidden)
    order_cols = df.columns if q.order_by else []

    # computed values and projected variables nothing binds can be unbound
    maybe = sol.maybe | {p[2] for p in q.projections if p[0] == "expr"}
    if q.variables:
        maybe |= set(q.variables) - set(df.columns)
        df = df.select(*[
            v if v in df.columns else F.lit(None).cast("string").alias(v)
            for v in q.variables
        ])
    else:  # SELECT * — expose variables, not companion/marker columns
        # (nor __-prefixed internals: path-sequence join vars are not
        # selectable per the SPARQL path rewrite), in the query's order
        rank = {v: i for i, v in enumerate(q.var_order)}
        df = df.select(
            *sorted(
                (
                    c
                    for c in df.columns
                    if not _is_companion(c) and c != "_m" and not c.startswith("__")
                ),
                key=lambda c: rank.get(c, len(rank)),
            )
        )
    if q.distinct:
        df = df.distinct()
    if q.order_by:
        # a sort key may read a variable the projection dropped (Catalyst
        # resolves it below the projection)
        res = resolver(order_cols)
        df = df.orderBy(*[
            to_column(e, res).desc() if d else to_column(e, res).asc()
            for e, d in q.order_by
        ])
    if q.offset:
        df = df.offset(q.offset)
    if q.limit is not None:
        df = df.limit(q.limit)
    return df, frozenset(maybe & set(df.columns))
