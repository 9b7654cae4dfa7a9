"""VirtualGraph — the Spark analogue of D2RQ's GraphD2RQ + SPARQL engine.

Reference layout (SURVEY.md §3):
  jena/GraphD2RQ.java            — graphBaseFind(s,p,o) over TripleRelations
  find/FindQuery.java, find/URIMakerRule.java — relation pruning + batching
  engine/GraphPatternTranslator.java, engine/NodeRelationJoiner.java
                                  — BGP → joined relations (join pushdown)
  ont-d2rq jena/CachingGraph.java — memoized find results

Spark-first re-expression:
  * find(s,p,o): plan-time binding — each bound term is inverted through
    every bridge's node maker (compiler.relation.NodeSpec.bind) into
    typed equality constraints (pruning relations whose pattern/datatype
    cannot match), constraints reach the parquet scan as pushed filters,
    survivors union into ONE job.  This module decides only which
    bridges a pattern reads; what a node is, the node maker decides.
  * bgp([...patterns...]): each triple pattern → union of candidate
    bridge frames with node values projected to variable columns; the
    frames join through optional_join, the one solution join, on each
    shared variable's term key (compiler.relation.term_key) where both
    sides carry its companions, on its value otherwise; Catalyst picks
    broadcast/SMJ and AQE handles skew.  This is D2RQ's join pushdown
    without the SQL-string generation — the DataFrame DAG *is* the
    pushed-down query.
  * triples(): full materialization (dump-rdf): fused one-scan-per-table
    evaluation; a global distinct only with distinct=True.
  * dataset(): the default and named graphs, decided in one place —
    all SPARQL reads.  The served vocabulary is constant relations
    beside the bridges, seen by find, triples and every BGP alike.

CachingGraph wraps a graph: memoized find() results (jena/CachingGraph
analogue), the package's one caller-owned persisted cache.
"""

from __future__ import annotations

import copy
import dataclasses
from functools import reduce
from itertools import product
from typing import NamedTuple, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ont_d2rq_spark.checkpoint import stored
from ont_d2rq_spark.compiler.relation import (
    CompiledBridge,
    MappingCompiler,
    NodeSpec,
    OBJECT_COLUMNS,
    TRIPLE_SCHEMA,
    distinct_triples,
    term_key,
    _Prune,
)
from ont_d2rq_spark.mapping.model import Mapping
from ont_d2rq_spark.schema_graph import schema_rows


class Var(str):
    """A SPARQL-style variable in a BGP pattern (e.g. Var('x'))."""


class Lit(str):
    """A literal term with optional datatype/lang for TYPED matching —
    the analogue of the reference's TypedNodeMaker unification
    (nodes/TypedNodeMaker.java): a bound literal matches a relation
    only when the lexical form AND the datatype/lang agree.  A plain
    `str` term keeps the lexical-only wildcard semantics."""

    def __new__(cls, lexical: str, datatype: Optional[str] = None, lang: Optional[str] = None):
        self = super().__new__(cls, lexical)
        self.datatype = datatype
        self.lang = lang
        return self


def _is_var(term) -> bool:
    return isinstance(term, Var) or (
        isinstance(term, str) and not isinstance(term, Lit) and term.startswith("?")
    )


def _var_name(term) -> str:
    return term[1:] if isinstance(term, str) and term.startswith("?") else str(term)


class PathPlus:
    """SPARQL `pred+` / `pred*` / `pred?` property path over a base edge
    set — a single predicate, a PathGroup (`(p1/p2)+`), or a NegatedSet
    (`!p+`).  ``mod``:
      '+' — one-or-more hops: distributed transitive closure
            (operators/closure.py) over the predicate's edge set.
      '*' — zero-or-more: the '+' closure ∪ the zero-length identity.
      '?' — zero-or-one: the edge set ∪ the zero-length identity.
    Zero-length semantics follow ARQ: with a bound end the identity is
    that term alone; var-var matches every non-literal node in the
    graph (literal endpoints of zero-length paths are not emitted —
    companions aren't carried through closures)."""

    def __init__(self, pred, mod: str = "+"):
        self.pred = pred
        self.mod = mod

    def __repr__(self):
        return f"PathPlus({self.pred!r}, {self.mod!r})"

    def base(self) -> list:
        """The BGP whose ?__cs → ?__co bindings are the path's edges."""
        if isinstance(self.pred, PathGroup):
            return self.pred.patterns
        return [("?__cs", self.pred, "?__co")]


class NegatedSet:
    """SPARQL negated property set `!p` / `!(p1|p2|^q)` in predicate
    position: matches any edge whose predicate is NOT one of the listed
    IRIs.  ``fwd``/``inv`` are tuples of absolute predicate IRIs.
    _evaluate_bgp rewrites it to an internal predicate variable plus a
    NOT IN filter; a mixed set is the union of its two one-direction
    evaluations."""

    def __init__(self, fwd=(), inv=()):
        self.fwd = tuple(fwd)
        self.inv = tuple(inv)

    def __repr__(self):
        return f"NegatedSet(fwd={self.fwd!r}, inv={self.inv!r})"


class PathGroup:
    """A parenthesized path group `(p1/p2/…)` used as the base of a
    repetition modifier — `(p1/p2)+` — carrying the group's expansion
    as triple patterns between the fixed endpoints ?__cs → ?__co.  The
    path frame evaluates the group as one BGP (inner PathPlus atoms
    recurse), then iterates over the resulting composite edge set."""

    def __init__(self, patterns: list):
        self.patterns = patterns

    def __repr__(self):
        return f"PathGroup({self.patterns!r})"


_COMPANION_SUFFIXES = ("__dt", "__lang", "__islit")


def _bindings(df: DataFrame, terms) -> DataFrame:
    """Project a matched frame onto its variables.  ``terms`` pairs each
    pattern term with the column it was matched against; constants are
    the source's to apply.  A variable repeated within the pattern keeps
    only rows whose columns agree; an OBJECT-position variable ("obj")
    also carries its typed-literal companions (v__dt / v__lang /
    v__islit), which FILTER builtins (lang(), datatype()) evaluate
    against.  Subject, predicate and path-endpoint variables emit none:
    consumers default the missing columns to NULL/false, and joins stay
    lexical there, which is term equality for URIs.  A pattern with no
    variable yields the ``_m`` marker: one row if it matched."""
    sel, seen = [], {}
    for term, col in terms:
        if term is None or not _is_var(term):
            continue
        v = _var_name(term)
        if v in seen:
            df = df.filter(F.col(col) == F.col(seen[v]))
            continue
        seen[v] = col
        sel.append(F.col(col).alias(v))
        if col == "obj":
            sel += [
                F.col("obj_datatype").alias(f"{v}__dt"),
                F.col("obj_lang").alias(f"{v}__lang"),
                F.col("is_literal").alias(f"{v}__islit"),
            ]
    return df.select(*sel) if sel else df.limit(1).select(F.lit(1).alias("_m"))


def _closure_of(base: DataFrame, s, o, mod: str) -> DataFrame:
    """The reachability frame for a repetition modifier over ``base``
    (src/dst edge columns).  `?` is the edge set itself; `+`/`*` need
    the closure — seeded frontier BFS when an endpoint is a CONSTANT
    (only that node's reachable subgraph is touched; the global
    closure would materialize every node's reachability set just to
    filter one out — quadratic on dense graphs, never acceptable at
    scale for a point lookup), global iterated squaring otherwise or
    when the BFS's depth cap trips (closure_from returns None)."""
    from ont_d2rq_spark.operators.closure import closure_from, transitive_closure

    if mod == "?":
        return base.distinct()
    bound_s = s is not None and not _is_var(s)
    bound_o = o is not None and not _is_var(o)
    if bound_s or bound_o:
        seed = str(s) if bound_s else str(o)
        seeded = closure_from(base, seed, reverse=not bound_s)
        if seeded is not None:
            return seeded
    return transitive_closure(base)


def _path_frame(source, s, pth: PathPlus, o) -> DataFrame:
    """`pred+`/`pred*`/`pred?` pattern → the reachability frame with the
    s/o terms applied.  The base edges are one BGP over the same source
    (a PathGroup's patterns, else `?__cs pred ?__co`, so alternation and
    negated sets come for free).  The zero-length identity of `*`/`?`
    is the bound term alone, or with both ends variable every
    non-literal node of the source's triple frame (ARQ semantics — one
    dump-shaped scan, distinct on node).  Literal objects appear only as
    terminal nodes; their companions are not carried through."""
    base = _evaluate_bgp(source, pth.base()).select(
        F.col("__cs").alias("src"), F.col("__co").alias("dst")
    )
    df = _closure_of(base, s, o, pth.mod)
    if pth.mod in ("*", "?"):
        bound = next((t for t in (s, o) if t is not None and not _is_var(t)), None)
        if bound is not None:
            ident = source.spark.createDataFrame(
                [(str(bound), str(bound))], "src string, dst string"
            )
        else:
            t = source.triples()
            nodes = (
                t.select(F.col("subj").alias("n"))
                .unionByName(t.filter(~F.col("is_literal")).select(F.col("obj").alias("n")))
                .distinct()
            )
            ident = nodes.select(F.col("n").alias("src"), F.col("n").alias("dst"))
        df = df.unionByName(ident).distinct()
    for term, col in ((s, "src"), (o, "dst")):
        if term is not None and not _is_var(term):
            df = df.filter(F.col(col) == F.lit(str(term)))
    return _bindings(df, ((s, "src"), (o, "dst")))


def _evaluate_bgp(source, patterns, outer_specs=None) -> DataFrame:
    """The one BGP evaluator.  ``source`` supplies the frames of the
    plain (s, p, o) patterns (``pattern_frames``: {index: frame}, or
    None when some pattern can match nothing) and its triple frame
    (``triples()``, the zero-length path's node set); everything else is
    decided here, for the mapping and for triple frames alike:

      * a one-direction negated set `!(p1|p2)` / `!(^q1|^q2)` becomes an
        internal predicate variable (inverse members swap subject and
        object) whose column is filtered NOT IN the set after the join
        and dropped — the list is tiny, so Catalyst keeps the filter at
        the pattern's frame; a mixed `!(p|^q)` is the union of its two
        one-direction BGPs (each matches a different edge, so union-all
        is the solution multiset)
      * a PathPlus pattern is one path frame (_path_frame)
      * the frames join in bgp_join_order, at RDF-term level."""
    neg: list[tuple[str, tuple]] = []
    pats: list[tuple] = []
    for s, p, o in patterns:
        if isinstance(p, NegatedSet) and not (p.fwd and p.inv):
            name = f"__np{len(neg)}"
            if p.inv:
                s, o = o, s
            pats.append((s, f"?{name}", o))
            neg.append((name, p.inv or p.fwd))
        else:
            pats.append((s, p, o))
    frames: dict[int, DataFrame] = {}
    for idx, (s, p, o) in enumerate(pats):
        if isinstance(p, NegatedSet):
            frames[idx] = _evaluate_bgp(source, [(s, NegatedSet(fwd=p.fwd), o)]).unionByName(
                _evaluate_bgp(source, [(s, NegatedSet(inv=p.inv), o)]),
                allowMissingColumns=True,
            )
        elif isinstance(p, PathPlus):
            frames[idx] = _path_frame(source, s, p, o)
    derived = set(frames)
    plain_pats = {i: pat for i, pat in enumerate(pats) if i not in derived}
    plain = source.pattern_frames(plain_pats, outer_specs)
    if plain is None:
        # no match anywhere: the same bindings over no triples, so the
        # join below yields an empty frame of the BGP's own columns
        plain = _TripleFrame.empty(source.spark).pattern_frames(plain_pats)
    frames.update(plain)
    # path and mixed-set frames bind what their columns say; a plain
    # pattern binds its variables
    pat_vars = [
        {c for c in frames[i].columns if not _is_companion(c)}
        if i in derived
        else {_var_name(t) for t in pat if t is not None and _is_var(t)}
        for i, pat in enumerate(pats)
    ]
    # selectivity-ordered join: most-bound pattern first, then greedily
    # extend with connected patterns (shared variable with the
    # accumulated frame) — see bgp_join_order.  Inner joins commute, so
    # the BINDINGS are identical; the ORDER decides the size of
    # intermediates, which AQE can only partially repair after a bad
    # start (URIMakerRule ordering in the reference).  The frames join
    # through optional_join, which compares a shared variable's term key
    # where both sides carry its companions.  Subject and predicate
    # variables and path endpoints carry none, so a join against one of
    # them stays lexical: an IRI there still joins a literal of the same
    # lexical form.
    order = bgp_join_order(pats, pat_vars, derived)
    out = reduce(lambda a, b: optional_join(a, b, how="inner"), [frames[i] for i in order])
    for name, excl in neg:
        out = out.filter(~F.col(name).isin(*excl)).drop(
            name, *[name + sfx for sfx in _COMPANION_SUFFIXES]
        )
    return out


class _TripleFrame:
    """BGP source over a materialized TRIPLE_SCHEMA frame: one filter
    per plain pattern — constants, a Lit object's term key,
    `isin` for a path alternation (p1|p2).  No node maker mints its
    nodes: it has no domains and ignores ``outer_specs``."""

    def __init__(self, tdf: DataFrame):
        self.tdf = tdf
        self.spark = tdf.sparkSession

    @classmethod
    def empty(cls, spark: SparkSession) -> "_TripleFrame":
        return cls(spark.createDataFrame([], TRIPLE_SCHEMA))

    def triples(self) -> DataFrame:
        return self.tdf

    def find(self, s=None, p=None, o=None) -> DataFrame:
        f = self.tdf
        for term, col in ((s, "subj"), (p, "pred"), (o, "obj")):
            if term is not None:
                f = f.filter(F.col(col) == F.lit(str(term)))
        return f

    def var_spec_domains(self, patterns) -> dict:
        return {}

    def pattern_frames(self, patterns: dict, outer_specs=None) -> dict:
        return {idx: self._frame(s, p, o) for idx, (s, p, o) in patterns.items()}

    def _frame(self, s, p, o) -> DataFrame:
        f = self.tdf
        for term, col in ((s, "subj"), (p, "pred"), (o, "obj")):
            if term is None or _is_var(term):
                continue
            if isinstance(term, tuple):
                f = f.filter(F.col(col).isin(*[str(x) for x in term]))
                continue
            f = f.filter(F.col(col) == F.lit(str(term)))
            if col == "obj" and isinstance(term, Lit):
                tags = (F.lit(term.datatype).cast("string"), F.lit(term.lang).cast("string"))
                obj = term_key(*map(F.col, OBJECT_COLUMNS))
                f = f.filter(obj == term_key(F.lit(str(term)), *tags, F.lit(True)))
        return _bindings(f, ((s, "subj"), (p, "pred"), (o, "obj")))


def bgp_over_triples(tdf: DataFrame, patterns) -> DataFrame:
    """BGP over a materialized triple frame (TRIPLE_SCHEMA), through the
    one evaluator (_evaluate_bgp) that VirtualGraph.bgp runs too."""
    return _evaluate_bgp(_TripleFrame(tdf), patterns)


@dataclasses.dataclass(frozen=True)
class Dataset:
    """An RDF dataset (SPARQL 1.1 §13): the default graph and the named
    graphs {iri: source}, each a source of _evaluate_bgp (VirtualGraph
    or _TripleFrame).  VirtualGraph.dataset() builds it."""

    default: object
    named: dict

    @property
    def spark(self) -> SparkSession:
        return self.default.spark

    def graph(self, iri: Optional[str] = None):
        """The source a graph name denotes (None: the default graph).
        An absent name is the empty graph."""
        if iri is None:
            return self.default
        src = self.named.get(iri)
        return src if src is not None else _TripleFrame.empty(self.spark)

    def from_clauses(self, default_iris, named_iris) -> "Dataset":
        """The dataset of a query's FROM / FROM NAMED clauses: the merge
        of the FROM graphs — one keeps its source (and the mapping its
        pushdown), several merge into one set of triples, none is empty
        — with the FROM NAMED graphs this dataset has."""
        named = {iri: self.named[iri] for iri in named_iris if iri in self.named}
        froms = list(dict.fromkeys(default_iris))
        if len(froms) == 1:
            return Dataset(self.graph(froms[0]), named)
        parts = [self.named[iri].triples() for iri in froms if iri in self.named]
        if not parts:
            return Dataset(_TripleFrame.empty(self.spark), named)
        merged = distinct_triples(reduce(DataFrame.unionByName, parts))
        return Dataset(_TripleFrame(merged), named)


class _ConstantTriple(NamedTuple):
    """A served vocabulary triple as a relation of three constant node
    specs, so binding and join-compatibility pruning treat it like a
    bridge; its frame is the row itself."""

    subject: NodeSpec
    predicate: NodeSpec
    object: NodeSpec
    row: tuple
    bridge: None = None  # no d2rq:limitInverse

    @classmethod
    def of(cls, row: tuple) -> "_ConstantTriple":
        s, p, o, dt, lang, is_lit = row
        obj = NodeSpec("constant", constant=o, is_literal=is_lit, datatype=dt, lang=lang)
        return cls(NodeSpec("constant", constant=s), NodeSpec("constant", constant=p), obj, row)


def _is_companion(col: str) -> bool:
    """Hidden typed-literal companion columns a BGP projects next to
    each variable (v__dt / v__lang / v__islit) so FILTER builtins
    (lang(), datatype()) have something to evaluate against."""
    return col.endswith(_COMPANION_SUFFIXES)


def _var_of(col: str) -> str:
    """The variable a value or companion column belongs to."""
    return col[: col.rfind("__")] if _is_companion(col) else col


def _keyed(cols, v: str) -> bool:
    """Does a frame with columns ``cols`` carry all of v's companions?"""
    return all(v + sfx in cols for sfx in _COMPANION_SUFFIXES)


def _var_key(v: str):
    """The term key (compiler.relation.term_key) of variable ``v`` of a
    frame that carries its companions."""
    return term_key(*(F.col(v + part) for part in ("", *_COMPANION_SUFFIXES)))


def bgp_join_order(patterns, pat_vars, closure_idxs=frozenset()) -> list:
    """Join order for a BGP: start from the most-bound (most-selective)
    pattern, then greedily add patterns CONNECTED to the accumulated
    variable set, most-bound first; disconnected groups fall back to
    the next most-bound seed (cross join, as before).  Ties keep the
    written order.  This is the Spark analogue of the reference's
    URIMakerRule ordering (find/URIMakerRule.java): concrete URIs and
    literals prune relations before the big joins, so intermediates
    start small; AQE then only repairs the residual mis-estimates
    rather than a structurally bad first join.

    Closure/negated-set patterns (``closure_idxs``) score 0 — their
    frames are iterative results with no stats, never a good seed."""

    def bound_count(i):
        if i in closure_idxs:
            return 0
        n = 0
        for t in patterns[i]:
            if t is None or isinstance(t, (PathPlus, NegatedSet, PathGroup, tuple)):
                continue
            if not _is_var(t):
                n += 1
        return n

    remaining = set(range(len(patterns)))
    order: list = []
    cur_vars: set = set()
    while remaining:
        connected = [i for i in remaining if cur_vars & pat_vars[i]] if order else []
        pool = connected or remaining
        nxt = max(pool, key=lambda i: (bound_count(i), -i))
        order.append(nxt)
        remaining.remove(nxt)
        cur_vars |= pat_vars[nxt]
    return order


def _unbound(part: str):
    """What an absent binding or companion column stands for: an unbound
    value, or the companion of an untyped binding (no datatype, no
    language tag, not a literal)."""
    return F.lit(False) if part == "__islit" else F.lit(None).cast("string")


def resolver(cols, rename=None):
    """Expression-variable lookup over a frame's columns, for
    ``sparql.to_column``: ``resolve(var, part)`` is the Column of the
    variable's value (part "") or of its __dt / __lang / __islit
    companion, read from column ``rename(var) + part``.  A column the
    frame does not carry is unbound (``_unbound``): a variable out of
    the group's scope, or a companion the pattern never projected."""
    cols = set(cols)

    def resolve(v: str, part: str = ""):
        name = (rename(v) if rename else v) + part
        return F.col(name) if name in cols else _unbound(part)

    return resolve


# optional_join's tokens.  A term key holds three NUL bytes, "true" or
# "false" after the first, and a value none unless its data does, so no
# key or value equals either token.
_ANY, _NULL = "\x00any\x00", "\x00null\x00"


def _tokens(df: DataFrame, options: list, name: str):
    """``df`` and one token Column per compat variable, from each
    variable's token options: one row copy per combination of the
    options, made by one explode into struct column ``name``.  With one
    combination there is no copy and the tokens stay inline.  A NULL
    token matches nothing, so its copy is dead."""
    combos = list(product(*options))
    if len(combos) == 1:
        return df, list(combos[0])
    fields = [f"t{i}" for i in range(len(options))]
    copies = F.array(*[F.struct(*[t.alias(f) for f, t in zip(fields, ts)]) for ts in combos])
    return df.withColumn(name, F.explode(copies)), [F.col(name)[f] for f in fields]


def optional_join(
    left: DataFrame,
    right: DataFrame,
    filters=(),
    maybe_unbound=frozenset(),
    how: str = "left",
    right_maybe=frozenset(),
) -> DataFrame:
    """SPARQL's compatibility join, for every algebra operator that
    combines two solution sets.  ``how`` names the operator: "left" is
    LeftJoin(Ω1, Ω2, expr), "inner" Join, "left_semi" / "left_anti"
    FILTER EXISTS / NOT EXISTS, and "minus" Minus.  Two solutions are
    compatible when every shared variable is unbound on one side or
    equal on both; Minus also needs a shared variable bound on both
    sides (dom(μ1) ∩ dom(μ2) ≠ ∅), so disjoint domains remove nothing.
    Each filter must hold over the MERGED row — the condition of an
    OPTIONAL's LeftJoin (a failing filter un-binds the optional part
    instead of dropping the row) or of an EXISTS body that reads the
    outer row.  A filter is a callable from a ``resolver`` to a Column
    (``functools.partial(sparql.to_column, tree)``): the join builds the
    resolver that reads each variable from the side that binds it.

    ``maybe_unbound`` names LEFT-side variables that can be NULL (an
    earlier OPTIONAL, UNION branch, BIND or VALUES UNDEF);
    ``right_maybe`` names RIGHT-side ones (a subquery or group with its
    own optional variables, a VALUES table with UNDEF).  A shared
    variable in either set is a compat variable.  On every path a
    shared variable both sides carry companions for compares its term
    key (``_var_key``, column ``__k_<v>`` on each side, NULL where the
    value is); any other compares its value.

    With no filters and no compat variable this is the plain
    shared-variable join (constant-true condition when the domains are
    disjoint, which preserves left rows against an empty right side).
    Otherwise it is one equi-join on the other shared variables and one
    string token per compat variable c:

    - a left row where c is bound offers its key, plus a copy offering
      ``_NULL`` when the right may leave c unbound; where c is unbound
      it offers ``_ANY``;
    - a right row offers its key, or ``_NULL`` where c is unbound, plus
      a copy offering ``_ANY`` when the left may leave c unbound.

    Each compatible pair then meets in exactly one pair of copies, and
    no incompatible pair meets.  The tokens hold NUL bytes, so they
    equal no key or value.  Minus leaves out the right copies whose
    tokens are all ``_ANY`` or ``_NULL`` when every shared variable is a
    compat one: they pair rows with no variable bound on both sides.
    Filters read the merged row, a compat variable the left leaves
    unbound taking the right's value and companions, which the result
    then adopts.

    When only the left may leave compat variables unbound (an OPTIONAL
    body BGP that always binds its variables) the left token stays
    inline as ``coalesce(key, _ANY)`` and only the right is copied, so
    the big left streams once through one hash join, never sliced or
    stored (round 5 sliced it by null mask and re-ran it per slice, and
    storing it instead measured slower still).  When the right may
    leave one unbound the left is copied; then, for every operator but
    Join, the left rows match back through a row id on the stored left:
    EXISTS / NOT EXISTS and Minus semi- and anti-join the matched ids,
    and LeftJoin stores the matched rows and adds the left rows with
    none."""
    shared = [c for c in left.columns if c in right.columns and not _is_companion(c)]
    compat = [c for c in shared if c in maybe_unbound or c in right_maybe]
    if how == "minus" and not shared:
        return left
    keyed = [c for c in shared if _keyed(left.columns, c) and _keyed(right.columns, c)]
    on = {c: f"__k_{c}" if c in keyed else c for c in shared}
    keys = {on[c]: _var_key(c) for c in keyed}
    if keys:
        left, right = left.withColumns(keys), right.withColumns(keys)
    # the right's companions of a variable the left carries too, and the
    # right's value of a keyed one, are the left's (a compat variable's
    # are adopted from the right where the left leaves it unbound)
    right = right.drop(
        *[
            c
            for c in right.columns
            if (c in keyed or _is_companion(c) and c in left.columns) and _var_of(c) not in compat
        ]
    )
    if not filters and not compat:
        # every shared var is bound on both sides: MINUS is an anti-join
        how = "left_anti" if how == "minus" else how
        if shared:
            return left.join(right, on=list(on.values()), how=how).drop(*keys)
        if how == "inner":
            return left.crossJoin(right)
        return left.join(right, F.lit(True), how)
    for c in list(right.columns):
        if c in keys or c in shared or _var_of(c) in compat:
            right = right.withColumnRenamed(c, "__lj_" + c)
    right_nullable = [c for c in compat if c in right_maybe]
    by_id = right_nullable and how != "inner"
    if by_id:
        # the id is minted before the left is stored, so every read of
        # it sees the same ids
        left = stored(left.withColumn("__cj_id", F.monotonically_increasing_id()))
    # the filters evaluate over the MERGED solution: a compat var means
    # the adopted value when the left binding is unbound — its right
    # copy, companions included
    base = resolver(set(left.columns) | set(right.columns))

    def merged(v: str, part: str = ""):
        if v not in compat:
            return base(v, part)
        lv, rv = base(v, part), base("__lj_" + v, part)
        return F.when(F.col(v).isNull(), rv).otherwise(lv) if part else F.coalesce(lv, rv)

    lkey = {c: F.col(on[c]).cast("string") for c in compat}
    rkey = {c: F.col("__lj_" + on[c]).cast("string") for c in compat}
    lx, ltok = _tokens(
        left,
        [
            [F.coalesce(lkey[c], F.lit(_ANY))]
            + ([F.when(lkey[c].isNotNull(), F.lit(_NULL))] if c in right_nullable else [])
            for c in compat
        ],
        "__cj_l",
    )
    right, rtok = _tokens(
        right,
        [
            [F.coalesce(rkey[c], F.lit(_NULL))] + ([F.lit(_ANY)] if c in maybe_unbound else [])
            for c in compat
        ],
        "__cj_r",
    )
    if how == "minus" and len(compat) == len(shared):
        right = right.filter(reduce(lambda a, t: a | ~t.isin(_ANY, _NULL), rtok, F.lit(False)))
    tok = dict(zip(compat, zip(ltok, rtok)))
    cond = F.lit(True)
    for c, k in on.items():
        lk, rk = tok.get(c, (F.col(k), F.col("__lj_" + k)))
        cond = cond & (lk == rk)
    for f in filters:
        cond = cond & f(merged)

    def adopt(out: DataFrame) -> DataFrame:
        # a compat var the left leaves unbound adopts the right value
        # and companions
        cols = {}
        for c in compat:
            for suf in _COMPANION_SUFFIXES:
                lc, rc = c + suf, f"__lj_{c}{suf}"
                if rc in out.columns:
                    own = F.col(lc) if lc in out.columns else _unbound(suf)
                    cols[lc] = F.when(F.col(c).isNull(), F.col(rc)).otherwise(own)
            cols[c] = F.coalesce(F.col(c), F.col("__lj_" + c))
        out = out.withColumns(cols)
        return out.drop(*[c for c in out.columns if c.startswith("__lj_")], "__cj_l", "__cj_r")

    if not by_id:
        out = lx.join(right, cond, "left_anti" if how == "minus" else how)
        return (adopt(out) if how in ("left", "inner") else out).drop(*keys)
    matched = lx.join(right, cond, "inner")
    if how != "left":
        semi = "left_anti" if how == "minus" else how
        return left.join(matched.select("__cj_id"), "__cj_id", semi).drop("__cj_id", *keys)
    matched = stored(adopt(matched))
    rest = left.join(matched.select("__cj_id"), "__cj_id", "left_anti")
    return matched.unionByName(rest, allowMissingColumns=True).drop("__cj_id", *keys)


class VirtualGraph:
    # the named graphs (SPARQL GRAPH / FROM): the reference serves the
    # data and the derived OWL vocabulary as separable graphs
    # (map/impl/schema/*, SURVEY §2.1 S8)
    data_graph_iri = "urn:x-d2rq:graph:data"
    vocabulary_graph_iri = "urn:x-d2rq:graph:vocabulary"

    def __init__(self, mapping: Mapping, spark: SparkSession, extra_tables=None):
        self.mapping = mapping
        self.spark = spark
        self.compiler = MappingCompiler(mapping, spark, extra_tables)
        self.bridges: list[CompiledBridge] = self.compiler.compile()
        # the OWL vocabulary, derived once; d2rq:serveVocabulary serves
        # it beside the bridges as constant relations
        self.vocabulary = schema_rows(mapping)
        serve = mapping.configuration.serve_vocabulary
        self.constants = [_ConstantTriple.of(r) for r in self.vocabulary] if serve else []

    def dataset(self) -> Dataset:
        """The one place graph names are decided: the default graph is
        this graph (the mapping plus the vocabulary it serves), the data
        graph the mapping alone, the vocabulary graph its triple frame."""
        data = copy.copy(self)
        data.constants = []
        vocabulary = _TripleFrame(self.spark.createDataFrame(self.vocabulary, TRIPLE_SCHEMA))
        return Dataset(
            self, {self.data_graph_iri: data, self.vocabulary_graph_iri: vocabulary}
        )

    # ------------------------------------------------------------------
    # node binding (reference: TripleRelation.selectTriple — SURVEY §3 E1
    # step 2): each bound term is unified by its node maker (NodeSpec.bind)
    # ------------------------------------------------------------------
    def _bind_bridge(self, cb: CompiledBridge, s, p, o):
        """Bind one bridge to a triple pattern whose terms are constants
        or None (free) — TripleRelation.selectTriple.  → (cb,
        constraints, post_filters); raises _Prune when a bound term can
        never match.  d2rq:limitInverse (SURVEY §2.6 O2): a pattern that
        reads the bridge inverse (object bound, subject free) gets the
        inverse limit in place of d2rq:limit."""
        constraints: dict = {}
        post: list = []
        for spec, val, col in (
            (cb.subject, s, "subj"),
            (cb.predicate, p, "pred"),
            (cb.object, o, "obj"),
        ):
            if val is not None:
                c, f = spec.bind(val, cb, self.compiler, col)
                constraints.update(c)
                post.extend(f)
        inverse_limit = cb.bridge.limit_inverse if cb.bridge is not None else None
        if inverse_limit is not None and o is not None and s is None:
            cb = dataclasses.replace(cb, limit=inverse_limit)
        return cb, constraints, post

    def _candidates(self, s, p, o) -> list[dict]:
        """Every bridge or constant triple that can match pattern (s, p,
        o), bound to it by _bind_bridge; a tuple predicate is a SPARQL
        path alternation (p1|p2), matched by a bridge that can produce
        ANY alternative.  Each candidate: {cb, constraints, post,
        varspecs}, ``varspecs`` = {var name: the NodeSpec binding it}."""

        def const(term):
            return None if term is None or _is_var(term) else term

        cands = []
        for popt in p if isinstance(p, tuple) else (p,):
            for cb in self.bridges + self.constants:
                try:
                    bound, constraints, post = self._bind_bridge(
                        cb, const(s), const(popt), const(o)
                    )
                except _Prune:
                    continue
                varspecs = {}
                for spec, term in ((cb.subject, s), (cb.predicate, popt), (cb.object, o)):
                    if term is not None and _is_var(term):
                        varspecs.setdefault(_var_name(term), spec)
                cands.append(
                    {"cb": bound, "constraints": constraints, "post": post, "varspecs": varspecs}
                )
        return cands

    def _candidate_frames(self, cands: list) -> list[DataFrame]:
        """The candidates' triple frames: each bridge's, bound by its
        constraints, then one frame of the constant triples."""
        frames = [
            self.compiler.bridge_df(c["cb"], c["constraints"], c["post"])
            for c in cands
            if not isinstance(c["cb"], _ConstantTriple)
        ]
        rows = [c["cb"].row for c in cands if isinstance(c["cb"], _ConstantTriple)]
        if rows:
            frames.append(self.spark.createDataFrame(rows, TRIPLE_SCHEMA))
        return frames

    # ------------------------------------------------------------------
    def find(
        self,
        s: Optional[str] = None,
        p: Optional[str] = None,
        o: Optional[str] = None,
        o_datatype: Optional[str] = None,
        o_lang: Optional[str] = None,
    ) -> DataFrame:
        """Triple-pattern lookup: None = wildcard.  One Catalyst job.
        ``o_datatype``/``o_lang`` make the bound object a TYPED literal
        (find(o='42', o_datatype=XSD+'integer') excludes bridges whose
        literals are strings — TypedNodeMaker unification)."""
        if o is not None and (o_datatype is not None or o_lang is not None):
            o = Lit(o, datatype=o_datatype, lang=o_lang)
        frames = self._candidate_frames(self._candidates(s, p, o))
        if not frames:
            return self.spark.createDataFrame([], TRIPLE_SCHEMA)
        return reduce(DataFrame.unionByName, frames)

    # ------------------------------------------------------------------
    # join-compatibility pruning (find/URIMakerRule.java): when two
    # patterns share a variable, candidate relations whose node makers
    # can NEVER mint the same node (NodeSpec.compatible) are dropped at
    # plan time — the scan
    # for ?c ex:inNation ?n never touches the supplier table when
    # another pattern pins ?c to customer URIs.
    # ------------------------------------------------------------------
    def var_spec_domains(self, patterns) -> dict:
        """Per-variable candidate NodeSpec domain of a pattern list —
        {var: [(spec, cb), ...]} for every var whose domain is provably
        bounded.  This is URIMakerRule pruning lifted ACROSS group
        boundaries: an OPTIONAL/MINUS/UNION body that shares a var with
        the outer group can drop candidate bridges that could never
        mint a node the outer group produces (the soak shape's
        `OPTIONAL { ?r ex:name ?rn }` keeps only the region name bridge
        once the outer closure pins ?r to region URIs — a 3.9M-row
        union becomes 5 broadcastable rows).

        Closure patterns (`p+`) bound their endpoints via the base
        pattern's subject/object specs (a path always starts at a base
        subject and ends at a base object); `p*`/`p?` endpoints are
        UNBOUNDED (zero-length identity ranges over every graph node)
        and excluded.  A var is mapped only when every pattern binding
        it yields a candidate list; the tightest list wins."""
        meta: dict[int, list] = {}
        domains: dict[str, list] = {}
        unknown: set = set()
        for idx, (s, p, o) in enumerate(patterns):
            if isinstance(p, PathPlus):
                if getattr(p, "mod", "+") != "+":
                    unknown |= {_var_name(t) for t in (s, o) if t is not None and _is_var(t)}
                    continue
                sub = self.var_spec_domains(p.base())
                for term, end in ((s, "__cs"), (o, "__co")):
                    if term is not None and _is_var(term):
                        v = _var_name(term)
                        if end in sub:
                            domains.setdefault(v, sub[end])
                        else:
                            unknown.add(v)
                continue
            if isinstance(p, NegatedSet):
                unknown |= {_var_name(t) for t in (s, o) if t is not None and _is_var(t)}
                continue
            meta[idx] = self._candidates(s, p, o)
        self._prune_join_incompatible(meta)
        for cands in meta.values():
            per_var: dict[str, list] = {}
            for c in cands:
                for v, spec in c["varspecs"].items():
                    per_var.setdefault(v, []).append((spec, c["cb"]))
            for v, lst in per_var.items():
                if v not in domains or len(lst) < len(domains[v]):
                    domains[v] = lst
        return {v: lst for v, lst in domains.items() if v not in unknown and lst}

    def _prune_join_incompatible(self, meta: dict) -> None:
        """Fixpoint: a candidate survives only if, for every variable it
        shares with another pattern, SOME candidate of that pattern is
        join-compatible on that variable."""
        var_home: dict[str, set] = {}
        for idx, cands in meta.items():
            for c in cands:
                for v in c["varspecs"]:
                    var_home.setdefault(v, set()).add(idx)
        changed = True
        while changed:
            changed = False
            for idx in list(meta):
                keep = []
                for c in meta[idx]:
                    ok = True
                    for v, spec in c["varspecs"].items():
                        for j in var_home.get(v, ()):
                            if j == idx or not meta[j]:
                                continue
                            if not any(
                                spec.compatible(c["cb"], o["varspecs"][v], o["cb"], self.compiler)
                                for o in meta[j]
                                if v in o["varspecs"]
                            ):
                                ok = False
                                break
                        if not ok:
                            break
                    if ok:
                        keep.append(c)
                if len(keep) != len(meta[idx]):
                    meta[idx] = keep
                    changed = True

    def pattern_frames(self, patterns: dict, outer_specs: Optional[dict] = None):
        """The mapping's frames for the plain patterns of one BGP
        ({index: (s, p, o)}): each pattern's candidate bridges
        (_candidates), pruned against the outer group and each other,
        each bridge's triple frame projected onto the pattern's
        variables, unioned.  None when a pattern keeps no candidate."""
        meta = {idx: self._candidates(s, p, o) for idx, (s, p, o) in patterns.items()}
        if outer_specs:
            # cross-group URIMakerRule (var_spec_domains): a candidate
            # whose spec for a shared var can never mint a node the
            # OUTER group produces is dead — the join that follows this
            # group would drop every row it contributes.  Pruning here
            # turns e.g. an all-name-bridges union into the one bridge
            # the outer var can reach (and thereby into a broadcast).
            for idx, cands in meta.items():
                meta[idx] = [
                    c
                    for c in cands
                    if all(
                        any(
                            c["varspecs"][v].compatible(c["cb"], ospec, ocb, self.compiler)
                            for ospec, ocb in outer_specs[v]
                        )
                        for v in c["varspecs"]
                        if v in outer_specs
                    )
                ]
        self._prune_join_incompatible(meta)
        if not all(meta.values()):
            return None
        return {
            idx: reduce(
                DataFrame.unionByName,
                [
                    _bindings(f, ((s, "subj"), (p, "pred"), (o, "obj")))
                    for f in self._candidate_frames(meta[idx])
                ],
            )
            for idx, (s, p, o) in patterns.items()
        }

    def bgp(
        self,
        patterns: Sequence[tuple],
        outer_specs: Optional[dict] = None,
    ) -> DataFrame:
        """Basic graph pattern → joined DataFrame of variable bindings.

        Each pattern is (s, p, o); terms are constants or '?var'/Var.
        Shared variables join (reference: NodeRelationJoiner); result has
        one string column per variable (node lexical value).  The mapping
        supplies the plain patterns' frames (pattern_frames), pruned by
        ``outer_specs`` (var_spec_domains of the solutions the result
        joins to); paths, negated sets and the join order are
        _evaluate_bgp's.  The rest of a SPARQL group is the algebra
        evaluator's (sparql.evaluate)."""
        return _evaluate_bgp(self, patterns, outer_specs)

    # ------------------------------------------------------------------
    def triples(self, fuse: bool = True, distinct="auto") -> DataFrame:
        """Full virtual graph (dump-rdf / Mapping.getData() analogue).

        ``distinct``:
          'auto' (default) — reference semantics (Relation.isUnique,
            SURVEY §2.7 U2): per-relation DISTINCT only where the
            classmap declares d2rq:containsDuplicates (already applied
            inside bridge_df); no global dedup.  Predicates are bridge
            constants and subjects are minted from row keys, so the
            dump holds no duplicate triple when each class map's URI
            pattern or blank-node columns are a key of its table — the
            reasoning the reference applies.  The blank-node maker
            mints one node per distinct key tuple, so rows that repeat
            a key merge into one node and repeat its triples (the
            bundled TPC-H tables repeat lineitem's (l_orderkey,
            l_linenumber): 4,599 distinct keys over 6,000 rows at
            sf0.001).  This keeps the dump a pure map-side pipeline:
            scan → mint → union → sink, NO global shuffle (the
            difference between ~0.6 and ~1.0 scaling efficiency at 4×
            parallelism).
          True — strict RDF-set semantics: global dropDuplicates on the
            triple identity (one full shuffle).  Use when a key repeats
            or the mapping may emit overlapping triples from different
            bridges.
          False — the same as 'auto': no global dedup, and the
            per-relation DISTINCT of d2rq:containsDuplicates still applies
            (the reference's relation semantics, kept in both modes)."""
        if fuse:
            df = self.compiler.fused_df(self.bridges)
        else:
            frames = [self.compiler.bridge_df(cb) for cb in self.bridges]
            if not frames:
                return self.spark.createDataFrame([], TRIPLE_SCHEMA)
            df = reduce(lambda a, b: a.unionByName(b), frames)
        if self.constants:
            rows = [c.row for c in self.constants]
            df = df.unionByName(self.spark.createDataFrame(rows, TRIPLE_SCHEMA))
        if distinct is True:
            df = distinct_triples(df)
        return df

    # ------------------------------------------------------------------
    # N-Triples serialization (dump-rdf sink, SURVEY §2.1 S6)
    # ------------------------------------------------------------------
    @staticmethod
    def _nt_escape(col):
        for a, b in (("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"), ("\r", "\\r"), ("\t", "\\t")):
            col = F.replace(col, F.lit(a), F.lit(b))
        return col

    @staticmethod
    def _bnode_label(col):
        """Internal blank-node ids ('_:map@@k1@@k2') carry characters
        N-Triples forbids in BLANK_NODE_LABEL ('@', spaces, …).  At
        serialization time emit `_:b<md5(internal id)>` — valid under
        the grammar, collision-free, and stable per node (the same
        internal id always serializes to the same label, preserving
        graph isomorphism, like the reference's Jena-assigned labels)."""
        return F.concat(F.lit("_:b"), F.md5(col))

    def nt_lines(self, triples: Optional[DataFrame] = None) -> DataFrame:
        t = triples if triples is not None else self.triples()
        subj = F.when(t.subj.startswith("_:"), self._bnode_label(t.subj)).otherwise(
            F.concat(F.lit("<"), t.subj, F.lit(">"))
        )
        pred = F.concat(F.lit("<"), t.pred, F.lit(">"))
        lit = F.concat(F.lit('"'), self._nt_escape(t.obj), F.lit('"'))
        lit = F.when(
            t.obj_lang.isNotNull(), F.concat(lit, F.lit("@"), t.obj_lang)
        ).otherwise(
            F.when(
                t.obj_datatype.isNotNull(),
                F.concat(lit, F.lit("^^<"), t.obj_datatype, F.lit(">")),
            ).otherwise(lit)
        )
        obj = F.when(t.is_literal, lit).otherwise(
            F.when(t.obj.startswith("_:"), self._bnode_label(t.obj)).otherwise(
                F.concat(F.lit("<"), t.obj, F.lit(">"))
            )
        )
        return t.select(
            F.concat(subj, F.lit(" "), pred, F.lit(" "), obj, F.lit(" .")).alias("line")
        )

    def dump_nt(self, path: str, triples: Optional[DataFrame] = None) -> None:
        self.nt_lines(triples).write.mode("overwrite").text(path)

    # ------------------------------------------------------------------
    # Turtle serialization (dump-rdf --format TURTLE parity)
    # ------------------------------------------------------------------
    def _default_prefixes(self) -> dict:
        return {
            "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
            "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
            "owl": "http://www.w3.org/2002/07/owl#",
            "xsd": "http://www.w3.org/2001/XMLSchema#",
            "ex": self.mapping.base_iri,
        }

    def _ttl_iri(self, col, prefixes: dict):
        """IRI column → prefixed name when the namespace matches and the
        local part is PN_LOCAL-safe (conservative: leading char must be
        a letter/digit/underscore — Turtle PN_LOCAL may not START with
        '-'), else the <…> form.  Blank nodes keep their stable _:b
        labels.

        Namespaces are applied SHORTEST-FIRST in the when/otherwise
        chain so the longest match ends OUTERMOST (evaluated first) —
        with overlapping namespaces (…/voc and …/voc2) the more
        specific prefix must win or locals mis-attach."""
        out = F.concat(F.lit("<"), col, F.lit(">"))
        for pfx, ns in sorted(prefixes.items(), key=lambda kv: len(kv[1] or "")):
            if not ns:
                continue
            local = F.substring(col, len(ns) + 1, 1 << 20)
            out = F.when(
                col.startswith(ns) & local.rlike("^[A-Za-z0-9_][A-Za-z0-9_-]*$"),
                F.concat(F.lit(pfx + ":"), local),
            ).otherwise(out)
        return F.when(col.startswith("_:"), self._bnode_label(col)).otherwise(out)

    def ttl_lines(
        self, triples: Optional[DataFrame] = None, prefixes: Optional[dict] = None
    ) -> DataFrame:
        """One Turtle line per SUBJECT: `s p1 o1 ; p2 o2 .` with sorted
        predicate-object pairs (deterministic) — the distributed shape
        of a Turtle writer (one groupBy on subj; blocks stream out of
        the aggregation, never driver-side)."""
        pfx = prefixes if prefixes is not None else self._default_prefixes()
        t = triples if triples is not None else self.triples()
        lit = F.concat(F.lit('"'), self._nt_escape(t.obj), F.lit('"'))
        lit = F.when(
            t.obj_lang.isNotNull(), F.concat(lit, F.lit("@"), t.obj_lang)
        ).otherwise(
            F.when(
                t.obj_datatype.isNotNull(),
                F.concat(lit, F.lit("^^"), self._ttl_iri(t.obj_datatype, pfx)),
            ).otherwise(lit)
        )
        obj = F.when(t.is_literal, lit).otherwise(self._ttl_iri(t.obj, pfx))
        pred = F.when(
            t.pred == "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", F.lit("a")
        ).otherwise(self._ttl_iri(t.pred, pfx))
        po = F.concat(pred, F.lit(" "), obj)
        return (
            t.select(self._ttl_iri(t.subj, pfx).alias("s"), po.alias("po"))
            .groupBy("s")
            .agg(F.array_sort(F.collect_set("po")).alias("pos"))
            .select(
                F.concat(
                    F.col("s"), F.lit(" "), F.array_join("pos", " ; "), F.lit(" .")
                ).alias("line")
            )
        )

    def dump_ttl(
        self,
        path: str,
        triples: Optional[DataFrame] = None,
        prefixes: Optional[dict] = None,
    ) -> None:
        """Write a Turtle dump: part files of subject blocks plus a
        `_prefixes.ttl` header that sorts before `part-*`, so
        `cat dir/*.ttl dir/part-*` (or any lexical concat) yields a
        valid document.  (Spark data readers skip `_`-prefixed files.)"""
        import os

        pfx = prefixes if prefixes is not None else self._default_prefixes()
        self.ttl_lines(triples, pfx).write.mode("overwrite").text(path)
        header = "".join(
            f"@prefix {p}: <{ns}> .\n" for p, ns in sorted(pfx.items()) if ns
        )
        with open(os.path.join(path, "_prefixes.ttl"), "w") as f:
            f.write(header)


class CachingGraph:
    """Memoizing find() wrapper — the analogue of ont-d2rq's
    jena/CachingGraph.java: repeated find(s,p,o) patterns return the
    persisted result (MEMORY_AND_DISK) instead of re-planning and
    re-scanning; the second call's physical plan reads an
    InMemoryRelation.  LRU eviction under a BYTE budget (``max_bytes``,
    matching the reference's size-budget semantics) with ``max_entries``
    as a secondary cap; an entry's size is Catalyst's optimized-plan
    ``sizeInBytes`` estimate — the same statistic broadcast decisions
    trust — so 128 small point-lookup frames coexist while two
    dump-sized frames already evict.  Evicted entries are unpersisted so
    cached blocks never outlive the budget; the most-recent entry
    always survives (evicting what the caller just asked for would
    thrash).  Typed lookups (o_datatype / o_lang) key separately:
    find(o='42') and find(o='42', o_datatype=xsd:integer) are different
    patterns.

    This is the package's one persisted cache that outlives a call: every
    operator reuses frames by checkpoint.stored, freed with its result.  The
    owner sizes it and calls ``clear()`` when done with it."""

    def __init__(
        self,
        graph: VirtualGraph,
        max_bytes: int = 512 << 20,
        max_entries: int = 128,
    ):
        self.graph = graph
        self.max_bytes = max_bytes
        self.max_entries = max_entries
        self._cache: "dict[tuple, DataFrame]" = {}
        self._sizes: "dict[tuple, int]" = {}
        self.total_bytes = 0
        self.hits = 0
        self.misses = 0

    @staticmethod
    def _entry_size(df: DataFrame) -> int:
        """Catalyst's optimized-plan size estimate for the frame.  An
        estimate, not a measurement — but it is available BEFORE
        materialization (a measured cached-block size would require
        blocking on the job) and errs large for joins, which is the
        safe direction for a memory budget."""
        try:
            return int(
                df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
        except Exception:
            return 0  # no JVM stats (mock/test frame): entry-count cap only

    def find(self, s=None, p=None, o=None, o_datatype=None, o_lang=None) -> DataFrame:
        from pyspark import StorageLevel

        key = (s, p, o, o_datatype, o_lang)
        hit = self._cache.pop(key, None)
        if hit is not None:
            self.hits += 1
            self._cache[key] = hit  # re-insert = most-recently-used
            return hit
        self.misses += 1
        df = self.graph.find(s, p, o, o_datatype, o_lang).persist(StorageLevel.MEMORY_AND_DISK)
        self._cache[key] = df
        self._sizes[key] = self._entry_size(df)
        self.total_bytes += self._sizes[key]
        while len(self._cache) > 1 and (
            len(self._cache) > self.max_entries or self.total_bytes > self.max_bytes
        ):
            # dicts iterate in insertion order → first key is the LRU
            old = next(iter(self._cache))
            self._cache.pop(old).unpersist()
            self.total_bytes -= self._sizes.pop(old)
        return df

    def clear(self) -> None:
        for df in self._cache.values():
            df.unpersist()
        self._cache.clear()
        self._sizes.clear()
        self.total_bytes = 0

    def __getattr__(self, name):
        return getattr(self.graph, name)
