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
partitionings (and replayable by the DuckDB oracle).  BINDs evaluate
before FILTERs within a group.

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

Group bodies are RECURSIVE (r5): OPTIONAL/UNION/MINUS/EXISTS/GRAPH
groups carry the same algebra as the top level — BIND, VALUES, nested
OPTIONAL/UNION/MINUS/EXISTS, subqueries and GRAPH all evaluate inside
the group with correct scope (_eval_where; the reference gets this
from ARQ's recursive OpExecutor).  An OPTIONAL group's TOP-LEVEL
filters form the LeftJoin condition; nested filters scope to their own
group.  Each context compiles an expression through its own resolver
(graph.resolver): a variable the group does not bind is unbound, an
OPTIONAL slice reads the adopted right-side copy, a FILTER EXISTS body
reads the outer row's binding for a shared variable.

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
    patterns: list[tuple] = field(default_factory=list)
    filters: list[tuple] = field(default_factory=list)  # expression trees
    # OPTIONAL groups: full recursive Query bodies whose top-level
    # .filters form the LeftJoin condition (SPARQL leftjoin)
    optional: list["Query"] = field(default_factory=list)
    # UNION branches: full recursive Query bodies (branch-scoped
    # filters and nested constructs evaluate inside the branch)
    union: list["Query"] = field(default_factory=list)
    order_by: list[tuple] = field(default_factory=list)  # (tree, desc)
    limit: Optional[int] = None
    offset: Optional[int] = None
    # ("var", name) | ("expr", tree, alias); the tree may hold aggregates
    projections: list[tuple] = field(default_factory=list)
    group_by: list[str] = field(default_factory=list)
    having: list[tuple] = field(default_factory=list)  # expression trees
    binds: list[tuple] = field(default_factory=list)  # (tree, var)
    values_clauses: list[tuple] = field(default_factory=list)  # (vars, rows)
    # trailing query-level ValuesClause: joined AFTER the WHERE group
    # evaluates (SPARQL 18.2.2 P := Join(P, ToMultiSet(data))) — a WHERE
    # filter referencing a var bound only here must see it UNBOUND
    trailing_values: list[tuple] = field(default_factory=list)  # (vars, rows)
    minus: list["Query"] = field(default_factory=list)  # recursive group bodies
    template: list[tuple] = field(default_factory=list)  # CONSTRUCT triples
    describe: list[str] = field(default_factory=list)  # DESCRIBE nodes
    subqueries: list["Query"] = field(default_factory=list)
    graphs: list[tuple] = field(default_factory=list)  # (graph term, Query body)
    exists: list[tuple] = field(default_factory=list)  # (negated, Query body)
    # dataset clauses (top-level queries only; subqueries cannot carry
    # them per the grammar): FROM <g> graphs merge into the default
    # graph, FROM NAMED <g> restricts what GRAPH can range over
    from_graphs: list[str] = field(default_factory=list)
    from_named: list[str] = field(default_factory=list)


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
            if t.group("local") not in ("", None) or t.group("pname") is None and ":" not in t.group(0):
                # pname token with empty local, e.g. "ex:"
                pass
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
                self._group(q.patterns, q)
                for s, p, o in q.patterns:
                    if not isinstance(p, str):
                        raise SparqlError(
                            "CONSTRUCT WHERE shorthand allows plain triple "
                            "patterns only (no property paths)"
                        )
                if _where_content(q) and (
                    q.filters or q.optional or q.union or q.binds
                    or q.values_clauses or q.minus or q.exists or q.graphs
                    or q.subqueries
                ):
                    raise SparqlError(
                        "CONSTRUCT WHERE shorthand allows triple patterns only"
                    )
                q.template = list(q.patterns)
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
        self._group(q.patterns, q)
        self._modifiers(q)
        # trailing VALUES block (SPARQL ValuesClause: after the solution
        # modifiers, applies to the whole query — joined AFTER the WHERE
        # group so group FILTERs see its vars as unbound, per 18.2.2)
        if self.kw("VALUES"):
            q.trailing_values.append(self._values_clause())
        return q

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
        select/merge named graphs before evaluation (_DatasetGraph)."""
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

    def _braced(self) -> "Query":
        """Parse a braced group's contents ('{' already consumed) into
        a scratch Query: patterns plus ALL nested constructs (OPTIONAL,
        UNION, BIND, VALUES, MINUS, FILTER EXISTS, GRAPH, subqueries),
        recursively — group bodies carry the same algebra as the top
        level and evaluate through _eval_where (the Spark analogue of
        ARQ's recursive OpExecutor).  The caller decides how the
        group's TOP-LEVEL filters scope: OPTIONAL puts them in the
        LeftJoin condition; UNION branches / MINUS / EXISTS / GRAPH
        evaluate them inside the group."""
        subq = Query(form="SELECT")
        self._group(subq.patterns, subq)
        return subq

    def _group(self, patterns: list, q: Query):
        while True:
            t = self.peek()
            if t is None:
                raise SparqlError("unterminated group")
            g = t.group(0)
            if g == "}":
                self.next()
                return
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
                    q.exists.append((neg, self._braced()))
                    if wrapped:
                        self.expect(")")
                    continue
                q.filters.append(self._primary())
                continue
            if g.upper() == "OPTIONAL":
                self.next()
                self.expect("{")
                # FILTERs written at the TOP level of the OPTIONAL
                # braces belong to the LeftJoin condition (SPARQL
                # leftjoin): a failing filter un-binds the optional
                # part instead of dropping the solution.  Anything
                # nested deeper (another OPTIONAL, UNION, BIND, ...)
                # evaluates recursively inside the group body.
                q.optional.append(self._braced())
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
                    self._group(sub.patterns, sub)
                    self._modifiers(sub)
                    self.expect("}")
                    q.subqueries.append(sub)
                    continue
                # group — the { A } UNION { B } [UNION { C }] form.
                # Each branch is a full recursive group; its FILTERs
                # (and nested constructs) scope to that branch alone.
                # A lone braced group with no UNION keyword evaluates
                # as a plain nested group (one-branch "union").
                q.union.append(self._braced())
                while self.kw("UNION"):
                    self.expect("{")
                    q.union.append(self._braced())
                continue
            if g.upper() == "MINUS":
                self.next()
                self.expect("{")
                q.minus.append(self._braced())
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
                q.binds.append((e, var.group(0)[1:]))
                continue
            if g.upper() == "VALUES":
                self.next()
                q.values_clauses.append(self._values_clause())
                continue
            if g.upper() == "GRAPH":
                # GRAPH <iri> { … } / GRAPH ?g { … }: the group's
                # patterns evaluate against the named graph (data or
                # vocabulary); ?g unions both with ?g bound
                self.next()
                gterm = self.term()
                self.expect("{")
                q.graphs.append((gterm, self._braced()))
                continue
            if g.upper() == "SERVICE":
                raise SparqlError("SERVICE not supported (no network)")
            s = self._term_or_bnode(patterns)
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
            patterns.extend(self._expand_path(s, alts, self._term_or_bnode(patterns)))
            # object lists: s p o1 , o2
            while self.peek() is not None and self.peek().group(0) == ",":
                self.next()
                patterns.extend(
                    self._expand_path(s, alts, self._term_or_bnode(patterns))
                )
            # predicate lists: s p1 o1 ; p2 o2
            while self.peek() is not None and self.peek().group(0) == ";":
                self.next()
                if self.peek() is not None and self.peek().group(0) in (".", "}"):
                    break
                alts2 = self._path()
                patterns.extend(
                    self._expand_path(s, alts2, self._term_or_bnode(patterns))
                )

    def _term_or_bnode(self, patterns: list):
        """A term, or a blank-node property list `[ p1 o1 ; p2 o2 ]`
        (anonymous `[]` allowed) — SPARQL's bracketed bnode syntax.  A
        query bnode is a NON-DISTINGUISHED variable: expand to a fresh
        `?__bn…` (the `__` prefix keeps it out of SELECT *) and append
        the bracketed triples to the current group; nested brackets
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
            patterns.extend(
                self._expand_path(var, alts, self._term_or_bnode(patterns))
            )
            while self.peek() is not None and self.peek().group(0) == ",":
                self.next()
                patterns.extend(
                    self._expand_path(var, alts, self._term_or_bnode(patterns))
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
    graph, df: Optional[DataFrame], nodes: list, max_bnode_depth: int = 8
) -> DataFrame:
    """DESCRIBE with full Concise Bounded Description: all outbound
    triples of the described nodes, plus — to a fixpoint — the outbound
    triples of every blank node reached as an object (Jena CBD).  The
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
                all_t = graph.triples(fuse=True)
            vals = df.select(F.col(_var_name(term)).alias("subj")).distinct()
            frames.append(all_t.join(F.broadcast(vals), "subj", "left_semi"))
        else:
            frames.append(graph.find(s=str(term)))
    out = _reduce(lambda a, b: a.unionByName(b), frames)
    # CBD fixpoint: chase bNode objects, FULLY DISTRIBUTED (no driver
    # collect — same discipline as operators/closure.py): each round
    # takes the bNode objects of only the PREVIOUS round's new triples,
    # anti-joins the already-described set, and semi-joins the full
    # graph.  Frontier and new-triples frames are lazily
    # localCheckpoint-ed and materialized by the single convergence
    # count — one Spark job per round, nothing re-executed.  The
    # frontier is explicitly broadcast (iterative outputs carry no
    # stats, so Catalyst would otherwise pick a sort-merge join).
    described = graph.spark.createDataFrame([], "subj string")
    out = out.localCheckpoint(eager=False)  # seed executes once, not per round
    cbd_frames = [out]
    cur = out
    for _ in range(max_bnode_depth):
        newb = (
            cur.filter(~F.col("is_literal") & F.col("obj").startswith("_:"))
            .select(F.col("obj").alias("subj"))
            .distinct()
        )
        frontier = newb.join(described, "subj", "left_anti").localCheckpoint(
            eager=False
        )
        if frontier.count() == 0:
            break
        if all_t is None:
            all_t = graph.triples(fuse=True)
        cur = all_t.join(F.broadcast(frontier), "subj", "left_semi").localCheckpoint(
            eager=False
        )
        cbd_frames.append(cur)
        described = described.unionByName(frontier)
    out = _reduce(lambda a, b: a.unionByName(b), cbd_frames)
    return distinct_triples(out)


def execute(graph, query: str) -> DataFrame:
    """Run a SPARQL query against a VirtualGraph → DataFrame of bindings
    (SELECT), a single boolean column 'ask' (ASK), or a
    TRIPLE_SCHEMA-shaped frame (CONSTRUCT / DESCRIBE)."""
    return _execute_query(graph, parse(query))


def _pattern_vars(pats) -> set:
    """Variable names a pattern list can bind (s/p/o term positions)."""
    from ont_d2rq_spark.graph import _is_var, _var_name

    vs = set()
    for s, p, o in pats:
        for t in (s, p, o):
            if t is not None and _is_var(t):
                vs.add(_var_name(t))
    return vs


def _q_all_vars(q: Query) -> set:
    """Every variable a group's solutions CAN bind (recursive over
    nested group bodies)."""
    vs = _pattern_vars(q.patterns)
    vs |= {b[1] for b in q.binds}
    for vars_, _rows in q.values_clauses + q.trailing_values:
        vs |= set(vars_)
    for oq in q.optional:
        vs |= _q_all_vars(oq)
    for bq in q.union:
        vs |= _q_all_vars(bq)
    for gterm, gq in q.graphs:
        vs |= _q_all_vars(gq)
        if isinstance(gterm, str) and gterm.startswith("?"):
            vs.add(gterm[1:])
    for s in q.subqueries:
        vs |= set(s.variables) if s.variables else _q_all_vars(s)
    return vs


def _q_certain_vars(q: Query) -> set:
    """Variables bound in EVERY solution of the group (recursive
    under-approximation): pattern vars, VALUES vars with no UNDEF
    cell, vars certain in every UNION branch, GRAPH bodies' certain
    vars, and subquery projections minus what the subquery can itself
    leave unbound.  OPTIONAL/MINUS/EXISTS guarantee nothing — and
    neither do BIND targets: BIND(?r AS ?y) from a maybe-unbound ?r
    (or any NULL/error-producing expression) yields an unbound ?y, so
    counting it certain would give downstream joins null-rejecting
    equality and silently drop compatible solutions."""
    vs = _pattern_vars(q.patterns)
    for vars_, rows in q.values_clauses + q.trailing_values:
        vs |= {v for i, v in enumerate(vars_) if all(r[i] is not None for r in rows)}
    if q.union:
        vs |= set.intersection(*[_q_certain_vars(b) for b in q.union])
    for gterm, gq in q.graphs:
        vs |= _q_certain_vars(gq)
        if isinstance(gterm, str) and gterm.startswith("?"):
            vs.add(gterm[1:])
    for s in q.subqueries:
        proj = set(s.variables) if s.variables else _q_all_vars(s)
        vs |= proj - _query_maybe_unbound(s)
    return vs


def _query_maybe_unbound(q: Query) -> set:
    """Variables a query's solutions can leave NULL: anything the group
    can bind that is not CERTAINLY bound in every solution — vars
    introduced only by OPTIONAL groups, asymmetric UNION branches,
    VALUES UNDEF cells, or a subquery's own maybe-unbound projections,
    recursively through nested group bodies.  (Static
    over-approximation from the parse — decides which joins need
    SPARQL compatibility semantics.)"""
    return _q_all_vars(q) - _q_certain_vars(q)


class _DatasetGraph:
    """FROM / FROM NAMED dataset view over a VirtualGraph (SPARQL
    'Specifying RDF Datasets'): when a query carries dataset clauses,
    the default graph is exactly the merge of the FROM graphs (empty if
    none) and GRAPH may range only over the FROM NAMED graphs.  The
    reference gets this behavior from ARQ's DatasetDescription handling
    (engine/QueryEngineD2RQ.java delegation, public layout); here it is
    a thin proxy the recursive evaluator sees in place of the graph.

    Scale shape: a SINGLE FROM graph keeps that graph's native BGP path
    (for the data graph that is the mapping-compiled relation algebra
    with full source pushdown); only a multi-graph default merge falls
    back to a unioned triple frame with set-dedup (RDF merge is a set
    union), which is a full materialize — the rare case, priced
    accordingly."""

    def __init__(self, base, default_iris, named_iris):
        self._base = base
        self._default = list(dict.fromkeys(default_iris))
        self._named = list(dict.fromkeys(named_iris))

    def __getattr__(self, name):
        return getattr(self._base, name)

    def graph_names(self) -> list:
        known = set(self._base.graph_names())
        return [g for g in self._named if g in known]

    def graph_scoped_bgp(self, graph_iri: str, patterns) -> DataFrame:
        if graph_iri not in self._named:
            # GRAPH <iri> outside the FROM NAMED set: empty solutions
            from ont_d2rq_spark.graph import TRIPLE_SCHEMA, bgp_over_triples

            return bgp_over_triples(
                self._base.spark.createDataFrame([], TRIPLE_SCHEMA), patterns
            )
        return self._base.graph_scoped_bgp(graph_iri, patterns)

    def bgp(self, patterns) -> DataFrame:
        from functools import reduce as _reduce

        from ont_d2rq_spark.graph import TRIPLE_SCHEMA, bgp_over_triples

        if len(self._default) == 1:
            return self._base.graph_scoped_bgp(self._default[0], patterns)
        if not self._default:
            return bgp_over_triples(
                self._base.spark.createDataFrame([], TRIPLE_SCHEMA), patterns
            )
        tdf = _reduce(
            DataFrame.unionByName,
            [self._base.graph_triples(g) for g in self._default],
        ).dropDuplicates()
        return bgp_over_triples(tdf, patterns)


def _unit_frame(graph) -> DataFrame:
    """The unit solution (one row, no bindings) — SPARQL's Join
    identity; what an empty group evaluates to."""
    return graph.spark.range(1).select(F.lit(1).alias("_m"))


def _where_content(q: Query) -> bool:
    return bool(
        q.patterns
        or q.union
        or q.subqueries
        or q.graphs
        or q.optional
        or q.values_clauses
        or q.binds
        or q.filters
        or q.exists
        or q.minus
    )


def _outer_domains(graph, q, bgp_fn):
    """Cross-group URIMakerRule input: the per-var candidate spec
    domains of this group's ALWAYS-BOUND top-level patterns (only those
    — a var bound by an OPTIONAL may be unbound in some outer row,
    where it is compatible with ANY body value and must not prune).
    Best-effort: pruning is an optimization, never a failure path."""
    try:
        if q.patterns and bgp_fn == graph.bgp and hasattr(graph, "var_spec_domains"):
            return graph.var_spec_domains(q.patterns) or None
    except Exception:
        return None
    return None


def _eval_where(graph, q: Query, bgp_fn=None, skip_filters=False, outer_specs=None):
    """Evaluate the WHERE-clause content of ``q`` -> (bindings frame or
    None, maybe-unbound variable set).  RECURSIVE: OPTIONAL / UNION /
    MINUS / FILTER-EXISTS / GRAPH bodies are full Query groups that
    evaluate through this same function, so arbitrary nesting —
    OPTIONAL inside OPTIONAL, UNION inside OPTIONAL, BIND/VALUES in a
    UNION branch, OPTIONAL inside GRAPH — works the way the reference
    gets it from ARQ's recursive OpExecutor (engine/QueryEngineD2RQ
    delegates residual algebra back to ARQ; here the residual algebra
    is native DataFrame ops at every depth).

    ``bgp_fn`` overrides how triple patterns evaluate — GRAPH groups
    pass the graph-scoped BGP so every pattern nested inside them
    (including subqueries) stays against the named graph.
    ``skip_filters`` leaves q.filters to the caller: an OPTIONAL's
    top-level filters belong to the LeftJoin condition (a failing
    filter un-binds the optional part), while everything nested deeper
    evaluates inside the body first.

    Fixed application order within a group (same fold as previous
    rounds, now uniform at every nesting depth): patterns, UNION,
    OPTIONAL, subqueries, GRAPH, VALUES, BIND, FILTER, FILTER EXISTS,
    MINUS.  EXISTS bodies are correlated through their top-level
    filters (folded into the semi/anti-join condition over the merged
    row); everywhere else a filter referencing a variable outside its
    group's scope evaluates it as UNBOUND (the frame's resolver has no
    column for it), the SPARQL bottom-up scope rule."""
    from functools import reduce as _reduce

    from ont_d2rq_spark.graph import _is_companion, optional_join, resolver

    if bgp_fn is None:
        bgp_fn = graph.bgp
    maybe_unbound: set = set()
    if q.patterns and outer_specs and bgp_fn == graph.bgp:
        df = bgp_fn(q.patterns, outer_specs=outer_specs)
    elif q.patterns:
        df = bgp_fn(q.patterns)
    else:
        df = None
    body_specs = _outer_domains(graph, q, bgp_fn)

    # { A } UNION { B }: branches evaluate recursively; a var missing
    # from (or maybe-unbound inside) any branch is maybe-unbound
    if q.union:
        parts, part_maybes = [], []
        for branch in q.union:
            b, bm = _eval_where(graph, branch, bgp_fn,
                                outer_specs=body_specs)
            parts.append(b if b is not None else _unit_frame(graph))
            part_maybes.append(bm)
        u = _reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)
        part_cols = [{c for c in p.columns if not _is_companion(c)} for p in parts]
        u_maybe = (
            set.union(*part_cols) - set.intersection(*part_cols)
        ) | set.union(*part_maybes)
        if df is None:
            df = u
            maybe_unbound |= u_maybe
        else:
            # join main |X| union with compatibility on maybe-unbound
            # vars (left = union side, right = the fully-bound main
            # pattern frame, so the hash-joinable decomposition
            # applies); an inner-join merge binds the shared vars
            shared = [
                c for c in df.columns if c in u.columns and not _is_companion(c)
            ]
            if set(shared) & u_maybe:
                df = optional_join(u, df, maybe_unbound=u_maybe, how="inner")
                maybe_unbound |= u_maybe - set(shared)
            else:
                u = u.drop(
                    *[c for c in u.columns if _is_companion(c) and c in df.columns]
                )
                df = df.join(u, on=shared, how="inner") if shared else df.crossJoin(u)
                maybe_unbound |= u_maybe

    # OPTIONAL groups: recursive body (nested OPTIONAL/UNION/BIND/...
    # evaluate inside first); the group's TOP-LEVEL filters form the
    # LeftJoin condition; a later group can adopt an earlier group's
    # binding (maybe_unbound chaining).  When the group has NO pattern/
    # union basis, applying OPTIONALs against the unit frame and then
    # inner-joining the subqueries/GRAPHs would drop or multiply
    # solutions — defer them until after those joins instead (the same
    # deferral previous rounds kept via optionals_consumed).
    def _apply_optionals(df, mu):
        for oq in q.optional:
            rdf, sub_maybe = _eval_where(graph, oq, bgp_fn, skip_filters=True,
                                         outer_specs=body_specs)
            if rdf is None:
                continue
            shared_bound = {
                c for c in df.columns if c in rdf.columns and not _is_companion(c)
            } - mu
            filts = [partial(to_column, f) for f in oq.filters]
            df = optional_join(
                df, rdf, filts, maybe_unbound=mu, right_maybe=sub_maybe
            )
            mu = mu | (
                {c for c in rdf.columns if not _is_companion(c)} - shared_bound
            )
        return df, mu

    optionals_done = not q.optional
    if df is not None and not optionals_done:
        df, maybe_unbound = _apply_optionals(df, maybe_unbound)
        optionals_done = True

    # subqueries evaluate independently, join on shared variables;
    # vars the subquery can leave NULL join — and propagate — as
    # maybe-unbound on the RIGHT side
    for sub in q.subqueries:
        sdf = _execute_query(graph, sub, bgp_fn)
        sub_maybe = _query_maybe_unbound(sub) & set(sdf.columns)
        if df is None:
            df = sdf
        else:
            shared = [
                c for c in df.columns if c in sdf.columns and not _is_companion(c)
            ]
            if set(shared) & (maybe_unbound | sub_maybe):
                df = optional_join(
                    df,
                    sdf,
                    maybe_unbound=maybe_unbound,
                    right_maybe=sub_maybe,
                    how="inner",
                )
            elif shared:
                df = df.join(sdf, on=shared, how="inner")
            else:
                df = df.crossJoin(sdf)
        maybe_unbound |= sub_maybe

    # GRAPH groups: recursive bodies with the graph-scoped BGP (nested
    # constructs inside GRAPH stay against the named graph); constant
    # IRI scopes directly, ?g unions all named graphs with ?g bound
    for gterm, gq in q.graphs:
        from ont_d2rq_spark.graph import _is_var as _isv, _var_name as _vn

        if _isv(gterm):
            parts2, gms = [], []
            for iri in graph.graph_names():
                def _scoped(pats, _iri=iri):
                    return graph.graph_scoped_bgp(_iri, pats)

                gb, gm = _eval_where(graph, gq, _scoped)
                parts2.append(
                    (gb if gb is not None else _unit_frame(graph)).withColumn(
                        _vn(gterm), F.lit(iri)
                    )
                )
                gms.append(gm)
            gdf = _reduce(
                lambda a, b: a.unionByName(b, allowMissingColumns=True), parts2
            )
            gcols = [{c for c in p.columns if not _is_companion(c)} for p in parts2]
            g_maybe = (
                set.union(*gcols) - set.intersection(*gcols)
            ) | set.union(*gms)
        else:
            def _scoped(pats, _iri=str(gterm)):
                return graph.graph_scoped_bgp(_iri, pats)

            gdf, g_maybe = _eval_where(graph, gq, _scoped)
            if gdf is None:
                gdf = _unit_frame(graph)
        if df is None:
            df = gdf
            maybe_unbound |= g_maybe
        else:
            shared = [
                c for c in df.columns if c in gdf.columns and not _is_companion(c)
            ]
            if set(shared) & (maybe_unbound | g_maybe):
                df = optional_join(
                    df,
                    gdf,
                    maybe_unbound=maybe_unbound,
                    right_maybe=g_maybe,
                    how="inner",
                )
                # the inner-join merge binds shared vars the graph side
                # always binds; its own nullable vars stay maybe-unbound
                maybe_unbound -= set(shared) - g_maybe
                maybe_unbound |= g_maybe
            else:
                gdf = gdf.drop(
                    *[c for c in gdf.columns if _is_companion(c) and c in df.columns]
                )
                df = (
                    df.join(gdf, on=shared, how="inner")
                    if shared
                    else df.crossJoin(gdf)
                )
                maybe_unbound |= g_maybe

    if not optionals_done:
        # dangling OPTIONALs: the solution so far came from subqueries
        # or GRAPH groups (or the unit solution) — left-join each group
        # NOW, with the same maybe-unbound chaining as the main path
        if df is None:
            df = _unit_frame(graph)
        df, maybe_unbound = _apply_optionals(df, maybe_unbound)

    if df is None and (q.values_clauses or q.binds or q.filters or q.exists):
        df = _unit_frame(graph)
    if df is None:
        return None, maybe_unbound

    # VALUES: inline binding tables, broadcast-joined on shared vars.
    # UNDEF cells (None) place no constraint on that variable in that
    # row (SPARQL solution compatibility), so rows containing UNDEF
    # take the compatibility-join path: per shared var, the VALUES cell
    # must be unbound OR equal; the surviving binding coalesces.
    for vars_, rows in q.values_clauses:
        df = _join_values(graph, df, maybe_unbound, vars_, rows)
    # BIND: new columns (evaluated before FILTERs, see module doc); a
    # BIND or FILTER reading a var out of the group's scope sees it
    # UNBOUND (the error value, so a BIND target stays unbound)
    for e, var in q.binds:
        t = _term(e, resolver(df.columns))
        df = df.withColumn(var, t.v)
        if e[0] == "call" and e[1] in ("STRLANG", "STRDT"):
            # typed-literal constructor: the constant tag lands in the
            # companions (visible to lang()/datatype(), typed CONSTRUCT)
            df = df.withColumns(
                {f"{var}__islit": t.lit, f"{var}__lang": t.lang, f"{var}__dt": t.dt}
            )
    if not skip_filters:
        for f in q.filters:
            df = df.filter(to_column(f, resolver(df.columns)))
    # FILTER [NOT] EXISTS: semi/anti join on shared variables; with no
    # shared variables the group acts as a global non-emptiness gate
    # (unlike MINUS, NOT EXISTS on disjoint domains still filters).
    # Bodies are recursive groups; vars nullable on EITHER side get
    # compatibility conditions.  The body's TOP-LEVEL filters evaluate
    # over the MERGED outer×body row as part of the join condition —
    # the Spark shape of ARQ's correlated EXISTS substitution: a
    # filter referencing an OUTER variable sees the outer row's
    # binding (deeper-nested filters stay group-local).
    for neg, eq in q.exists:
        sub, sub_maybe = _eval_where(graph, eq, bgp_fn, skip_filters=True,
                                     outer_specs=body_specs)
        if sub is None:
            sub = _unit_frame(graph)
        shared = [c for c in df.columns if c in sub.columns and not _is_companion(c)]
        how = "left_anti" if neg else "left_semi"
        compat = [c for c in shared if c in maybe_unbound or c in sub_maybe]
        if compat or eq.filters:
            # rename every body column colliding with the outer frame
            # (shared vars, their companions, the unit marker) so the
            # join condition can address both sides
            ren = {c: f"__ex_{c}" for c in sub.columns if c in df.columns}
            sub = sub.select(
                *[F.col(c).alias(ren.get(c, c)) for c in sub.columns]
            )
            cond = F.lit(True)
            for c in shared:
                eq_ = F.col(c) == F.col(f"__ex_{c}")
                if c in compat:
                    n = F.lit(False)
                    if c in maybe_unbound:
                        n = n | F.col(c).isNull()
                    if c in sub_maybe:
                        n = n | F.col(f"__ex_{c}").isNull()
                    cond = cond & (n | eq_)
                else:
                    cond = cond & eq_
            # substitution: a shared var means the body's binding (≡ the
            # outer one when both are bound — the join condition equates
            # them; the body's when the outer is unbound); outer-only vars
            # resolve from the left side
            cols = set(df.columns) | set(sub.columns)
            base = resolver(cols)

            def merged(v, part=""):
                if v not in shared:
                    return base(v, part)
                if not part:
                    return F.coalesce(base("__ex_" + v), base(v))
                return base("__ex_" + v if f"__ex_{v}{part}" in cols else v, part)

            for f in eq.filters:
                cond = cond & to_column(f, merged)
            df = df.join(sub, cond, how)
        elif shared:
            df = df.join(sub.select(*shared), on=shared, how=how)
        else:
            df = df.join(sub, F.lit(True), how)

    # MINUS: anti-join on shared variables (no shared vars -> no-op,
    # per SPARQL MINUS semantics on disjoint domains); removal requires
    # a compatible solution AND dom(mu1) int dom(mu2) != empty
    for mq in q.minus:
        sub, sub_maybe = _eval_where(graph, mq, bgp_fn, outer_specs=body_specs)
        if sub is None:
            continue
        shared = [c for c in df.columns if c in sub.columns and not _is_companion(c)]
        compat = [c for c in shared if c in maybe_unbound or c in sub_maybe]
        if compat:
            sub = sub.select(*[F.col(c).alias(f"__mn_{c}") for c in shared])
            cond, dom = F.lit(True), F.lit(False)
            for c in shared:
                eq_ = F.col(c) == F.col(f"__mn_{c}")
                if c in compat:
                    n = F.lit(False)
                    if c in maybe_unbound:
                        n = n | F.col(c).isNull()
                    if c in sub_maybe:
                        n = n | F.col(f"__mn_{c}").isNull()
                    cond = cond & (n | eq_)
                else:
                    cond = cond & eq_
                dom = dom | (F.col(c).isNotNull() & F.col(f"__mn_{c}").isNotNull())
            df = df.join(sub, cond & dom, "left_anti")
        elif shared:
            df = df.join(sub.select(*shared), on=shared, how="left_anti")
    return df, maybe_unbound


def _join_values(graph, df, maybe_unbound: set, vars_, rows) -> DataFrame:
    """Join one VALUES binding table into a solution frame (mutates
    maybe_unbound in place).  All-bound tables take a plain broadcast
    equi-join; rows with UNDEF cells take the compatibility join —
    per shared var the VALUES cell must be unbound OR equal, and the
    surviving binding coalesces."""
    vdf = graph.spark.createDataFrame(rows, ", ".join(f"{v} string" for v in vars_))
    shared = [c for c in df.columns if c in vars_]
    has_undef = any(cell is None for row in rows for cell in row)
    if not has_undef:
        return (
            df.join(F.broadcast(vdf), on=shared, how="inner")
            if shared
            else df.crossJoin(F.broadcast(vdf))
        )
    vdf = vdf.select(*[F.col(v).alias(f"__val_{v}") for v in vars_])
    if shared:
        cond = None
        for v in shared:
            # either side unbound -> compatible; both bound -> equal
            c = (
                F.col(f"__val_{v}").isNull()
                | F.col(v).isNull()
                | (F.col(v) == F.col(f"__val_{v}"))
            )
            cond = c if cond is None else cond & c
        df = df.join(F.broadcast(vdf), cond, "inner")
    else:
        df = df.crossJoin(F.broadcast(vdf))
    for v in vars_:
        df = (
            df.withColumn(v, F.coalesce(F.col(v), F.col(f"__val_{v}")))
            if v in shared
            else df.withColumn(v, F.col(f"__val_{v}"))
        )
    df = df.drop(*[f"__val_{v}" for v in vars_])
    # a var with an UNDEF cell can remain NULL after the merge
    for i, v in enumerate(vars_):
        if any(row[i] is None for row in rows):
            maybe_unbound.add(v)
    return df


def _execute_query(graph, q: Query, bgp_fn=None) -> DataFrame:
    from ont_d2rq_spark.graph import _is_companion, resolver

    if q.from_graphs or q.from_named:
        # dataset clauses exist only on top-level queries (the grammar
        # gives subqueries no DatasetClause), so this wraps exactly once
        graph = _DatasetGraph(graph, q.from_graphs, q.from_named)
    if q.form == "DESCRIBE" and not _where_content(q):
        return _describe_frame(graph, None, q.describe)
    df, _maybe = _eval_where(graph, q, bgp_fn)
    if df is None:  # empty group = one empty solution (SPARQL algebra)
        df = _unit_frame(graph)
    # trailing query-level VALUES: Join(P, ToMultiSet(data)) AFTER the
    # group pattern (18.2.2) — its vars were out of scope for the
    # group's FILTERs (which saw them as unbound)
    for vars_, rows in q.trailing_values:
        df = _join_values(graph, df, _maybe, vars_, rows)

    if q.form == "ASK":
        return graph.spark.createDataFrame([(not df.isEmpty(),)], "ask boolean")
    if q.form == "CONSTRUCT":
        out = _construct_frame(df, q.template)
        return out.limit(q.limit) if q.limit is not None else out
    if q.form == "DESCRIBE":
        out = _describe_frame(graph, df, q.describe)
        return out.limit(q.limit) if q.limit is not None else out

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

    if q.variables:
        df = df.select(*q.variables)
    else:  # SELECT * — expose variables, not companion/marker columns
        # (nor __-prefixed internals: path-sequence join vars are not
        # selectable per the SPARQL path rewrite)
        df = df.select(
            *[
                c
                for c in df.columns
                if not _is_companion(c) and c != "_m" and not c.startswith("__")
            ]
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
    return df
