"""Mapping → DataFrame compiler: the Spark analogue of D2RQ's algebra layer.

Reference layout (see SURVEY.md §0 provenance note):
  algebra/TripleRelation.java  — (SQL relation + S/P/O NodeMakers)
  algebra/Relation.java        — projections/joins/condition/order/limit
  nodes/TypedNodeMaker.java, values/{Column,Pattern,SQLExpression,
  BlankNodeID,Translator,ValueDecorator}.java — node/value makers
  algebra/{AliasMap,Join,JoinOptimizer}.java — aliases, joins, self-join elim

Differences by design (Spark-first, not a port):
  * A "relation" here is a lazily-built DataFrame DAG; Catalyst does
    projection pruning, predicate pushdown and join planning, so this
    compiler only decides WHAT to join/filter/mint, never how.
  * NodeSpec is the node maker: per node kind, one place decides how a
    node is minted (JVM-side Columns), its literal type, how a bound
    value unifies with it and whether two makers can mint the same
    node.  Binding (find(s,p,o) with constants) runs at plan time in
    Python — inversion yields typed equality constraints that reach
    the parquet scan as pushed filters.
  * Compile once, bind per call (SURVEY §E1 steps 1–2: MappingImpl
    compiles each bridge lazily into a TripleRelation, which
    TripleRelation.selectTriple then binds): a bridge's relation and
    its minted triple Columns are built once per compiler, on first
    use; bridge_df applies each call's constraints to those parts.
  * Union batching (CompatibleRelationGroup) becomes bridge FUSION:
    bridges over the identical relation are evaluated in ONE scan via
    explode(array(struct(...))) — one pass over the table emits all its
    triples.  This is the main 100-TB throughput lever: a table with N
    bridges is read once, not N times.
"""

from __future__ import annotations

import datetime as _dt
import re
from dataclasses import dataclass, field
from functools import reduce
from typing import Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ont_d2rq_spark.functions.lexical import datatype_for, lexical_expr
from ont_d2rq_spark.functions.pattern import UriPattern
from ont_d2rq_spark.mapping.model import (
    ClassMap,
    Mapping,
    MappingError,
    PropertyBridge,
    TranslationTable,
)

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

TRIPLE_SCHEMA = T.StructType(
    [
        T.StructField("subj", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), False),
        T.StructField("obj_datatype", T.StringType(), True),
        T.StructField("obj_lang", T.StringType(), True),
        T.StructField("is_literal", T.BooleanType(), False),
    ]
)


# A triple's identity: its subject, predicate, object and the object's
# datatype and language tag.
TRIPLE_IDENTITY = ("subj", "pred", "obj", "obj_datatype", "obj_lang")


def distinct_triples(df):
    """RDF-set identity: drop duplicate triples of a TRIPLE_SCHEMA frame."""
    return df.dropDuplicates(list(TRIPLE_IDENTITY))


_XSD_CAST = {
    "date": "date",
    "timestamp": "timestamp",
    "integer": "bigint",
    "long": "bigint",
    "decimal": "decimal(38,9)",
    "double": "double",
    "boolean": "boolean",
    "string": "string",
    "binary": "binary",
}


class _Prune(Exception):
    """A node maker can never produce the bound value: the relation is
    pruned."""


_XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"


def _norm_dt(dt: Optional[str]) -> Optional[str]:
    """RDF 1.1: a plain string literal IS an xsd:string literal — the
    datatype() FILTER builtin already maps plain → xsd:string, so
    typed-literal unification must treat the two as identical too."""
    return None if dt == _XSD_STRING else dt


# a blank node's id: "_:<map name>@@<key 1>@@<key 2>…"
_BNODE_SEP = "@@"


@dataclass(frozen=True)
class NodeSpec:
    """NodeMaker analogue (nodes/TypedNodeMaker.java): how one of S/P/O
    is produced from a row, and the one place each kind's minting,
    binding, literal type and join-compatibility are decided.
    ``is_literal`` alone says whether the nodes are literals.  The
    methods take the bridge ``cb`` (its base alias and aliases) and the
    compiler (column types); a constant reads neither."""

    kind: str  # pattern|column|expr|bnode|constant
    pattern: Optional[UriPattern] = None
    column: Optional[str] = None
    expr: Optional[str] = None
    constant: Optional[str] = None
    is_literal: bool = False
    datatype: Optional[str] = None  # explicit d2rq:datatype override
    lang: Optional[str] = None
    translate: Optional[TranslationTable] = None
    bnode_name: Optional[str] = None
    bnode_columns: tuple = ()
    value_regex: Optional[str] = None
    value_contains: Optional[str] = None
    value_max_length: Optional[int] = None

    @property
    def columns(self) -> list[str]:
        if self.kind == "pattern":
            return self.pattern.columns
        if self.kind == "column":
            return [self.column]
        if self.kind == "bnode":
            return list(self.bnode_columns)
        return []

    @property
    def _bnode_head(self) -> str:
        return f"_:{self.bnode_name}{_BNODE_SEP}"

    def literal_type(self, cb, compiler) -> tuple:
        """(is_literal, datatype, lang) of every node this maker mints; a
        column literal with neither d2rq:datatype nor d2rq:lang takes its
        column's XSD type."""
        if not self.is_literal:
            return False, None, None
        if self.kind == "column" and not (self.datatype or self.lang):
            qcol = _qualify(self.column, cb.base_alias)
            return True, datatype_for(compiler.column_type(qcol, cb.aliases)), None
        return True, self.datatype, self.lang

    def value_before_translation(self, cb, compiler) -> Column:
        """A column node's lexical value: what its translation table
        maps, and what a large table's broadcast join keys on."""
        qcol = _qualify(self.column, cb.base_alias)
        if not self.is_literal:
            return F.col(qcol).cast("string")
        return lexical_expr(F.col(qcol), compiler.column_type(qcol, cb.aliases))[0]

    def mint(self, cb, compiler, tt_col: Optional[str] = None):
        """→ (value Column, datatype Column, lang Column, required-not-null
        qualified columns).  ``tt_col``: pre-joined translated-value
        column (large translation tables) replacing the inline
        map-literal lookup."""
        resolve = lambda q: F.col(_qualify(q, cb.base_alias))
        if self.kind == "constant":
            val = F.lit(self.constant)
        elif self.kind == "pattern":
            val = self.pattern.mint_expr(resolve)
        elif self.kind == "column":
            val = self.value_before_translation(cb, compiler)
            if self.translate is not None:
                # an untranslatable value is NULL: the not-null guard drops it
                val = F.col(tt_col) if tt_col is not None else _translate(val, self.translate)
        elif self.kind == "expr":
            val = F.expr(self.expr).cast("string")
        else:  # bnode
            keys = [resolve(c).cast("string") for c in self.bnode_columns]
            val = F.concat(F.lit(self._bnode_head), F.concat_ws(_BNODE_SEP, *keys))
        _, datatype, lang = self.literal_type(cb, compiler)
        required = [_qualify(c, cb.base_alias) for c in self.columns]
        return val, F.lit(datatype).cast("string"), F.lit(lang).cast("string"), required

    def bind(self, value: str, cb, compiler, out_col: str):
        """Unify a bound node with this maker (reference: NodeMaker
        unification, values/*.valueExpression — SURVEY §3 E1 step 2) →
        (constraints {qualified col: typed const}, post_filters [Column]).
        Raises _Prune when the maker can never produce ``value``.

        A value carrying a datatype or language (graph.Lit) must match
        the literal type first (nodes/TypedNodeMaker.java); the value
        decorators prune next (values/ValueDecorator.java, P4).
        Patterns, columns (through their translation table) and blank
        node ids invert to column constants; an expression is not
        invertible, so its minted ``out_col`` is filtered instead."""
        want_dt = getattr(value, "datatype", None)
        want_lang = getattr(value, "lang", None)
        if want_dt is not None or want_lang is not None:
            is_lit, dt, lang = self.literal_type(cb, compiler)
            if (
                not is_lit
                or want_lang is not None and (lang or "").lower() != want_lang.lower()
                or want_dt is not None and _norm_dt(dt) != _norm_dt(want_dt)
            ):
                raise _Prune()
        if (
            self.value_max_length is not None and len(value) > self.value_max_length
            or self.value_contains and self.value_contains not in value
            or self.value_regex and not re.search(self.value_regex, value)
        ):
            raise _Prune()
        if self.kind == "constant":
            if self.constant != value:
                raise _Prune()
            return {}, []
        if self.kind == "expr":
            return {}, [F.col(out_col) == F.lit(value)]
        if self.kind == "pattern":
            raw = self.pattern.invert(value)
        elif self.kind == "column":
            db = value if self.translate is None else self.translate.to_db_value(value)
            raw = None if db is None else {self.column: db}
        else:  # bnode
            keys = value[len(self._bnode_head) :].split(_BNODE_SEP)
            ok = value.startswith(self._bnode_head) and len(keys) == len(self.bnode_columns)
            raw = dict(zip(self.bnode_columns, keys)) if ok else None
        if raw is None:
            raise _Prune()
        constraints = {}
        for col, v in raw.items():
            q = _qualify(col, cb.base_alias)
            try:
                constraints[q] = coerce_constant(v, compiler.column_type(q, cb.aliases))
            except (ValueError, ArithmeticError):
                raise _Prune() from None
        return constraints, []

    def _prefix(self):
        """(fixed prefix, is_exact) of every node a non-literal maker
        mints, or None when opaque (columns and expressions)."""
        if self.kind == "constant":
            return self.constant, True
        if self.kind == "pattern":
            head = self.pattern.parts[0]
            return (head if isinstance(head, str) else ""), self.pattern.is_constant
        if self.kind == "bnode":
            return self._bnode_head, False
        return None

    def compatible(self, cb, other: "NodeSpec", other_cb, compiler) -> bool:
        """Can this maker (of bridge ``cb``) and ``other`` (of
        ``other_cb``) ever produce the SAME node?  False only when
        provably disjoint (find/URIMakerRule.java): literal against
        non-literal, different literal types, or fixed prefixes that
        disagree (so blank nodes of different maps)."""
        if self.is_literal != other.is_literal:
            return False
        if self.is_literal:
            _, dt_a, la = self.literal_type(cb, compiler)
            _, dt_b, lb = other.literal_type(other_cb, compiler)
            return (la or "").lower() == (lb or "").lower() and _norm_dt(dt_a) == _norm_dt(dt_b)
        pa, pb = self._prefix(), other._prefix()
        if pa is None or pb is None:
            return True
        (sa, ea), (sb, eb) = pa, pb
        if ea and eb:
            return sa == sb
        if ea:
            return sa.startswith(sb)
        if eb:
            return sb.startswith(sa)
        return sa.startswith(sb) or sb.startswith(sa)


def _translate(value: Column, tt: TranslationTable) -> Column:
    """Dictionary translation (values/Translator.java).  Small
    inline/CSV tables become a Catalyst map literal (JVM-side,
    broadcast with the plan); a py translator becomes a vectorized
    pandas UDF.  LARGE tables never reach here — bridge_df attaches
    them as broadcast joins (_attach_large_translations).
    Untranslatable value → NULL → triple dropped (d2rq semantics)."""
    if tt.to_rdf is not None:
        from pyspark.sql.functions import pandas_udf

        return pandas_udf(tt.to_rdf, T.StringType())(value.cast("string"))
    lits = []
    for k, v in tt.load_pairs().items():
        lits.extend([F.lit(k), F.lit(v)])
    return F.element_at(F.create_map(*lits), value.cast("string"))


@dataclass
class CompiledBridge:
    """TripleRelation analogue: one relation + three node specs."""

    name: str
    class_map: ClassMap
    bridge: Optional[PropertyBridge]  # None for rdf:type relations
    subject: NodeSpec
    predicate: NodeSpec
    object: NodeSpec
    base_table: str
    base_alias: str
    aliases: dict[str, str] = field(default_factory=dict)  # alias -> table
    joins: tuple = ()
    conditions: tuple = ()
    order_column: Optional[str] = None
    order_desc: bool = False
    limit: Optional[int] = None
    distinct: bool = False


def _qualify(col: str, default_alias: str) -> str:
    return col if "." in col else f"{default_alias}.{col}"


# The CompiledBridge fields a bridge's parts read.  A variant made by
# dataclasses.replace (d2rq:limitInverse, order) shares their objects,
# and so shares the parts, which read neither limit nor order.
_PART_FIELDS = (
    "subject", "predicate", "object", "base_table", "base_alias", "aliases", "joins", "conditions"
)


class MappingCompiler:
    """Compiles a Mapping into CompiledBridges and evaluates them.

    A directed d2rq:join (``a => b``) marks b as the referenced (PK /
    dimension) side; the compiler wraps that side in ``F.broadcast``
    while it is under ``FK_BROADCAST_CAP_BYTES`` — on a 1000-executor
    cluster this turns every FK-to-dimension join into a broadcast hash
    join with no shuffle of the fact side.  Undirected joins are left
    to Catalyst/AQE.
    """

    def __init__(
        self,
        mapping: Mapping,
        spark: SparkSession,
        extra_tables: Optional[dict[str, DataFrame]] = None,
    ):
        self.mapping = mapping
        self.spark = spark
        self.extra_tables = extra_tables or {}
        self._table_cache: dict[str, DataFrame] = {}
        # per compiled bridge: {"bridge": cb, part name: part}
        self._parts: dict[tuple, dict] = {}
        for sql in mapping.database.startup_sql:
            spark.sql(sql)

    # ---------------- table access ----------------------------------
    def prefetch_tables(self, names=None) -> None:
        """Open every mapped table concurrently (guide §2.6: overlap
        independent driver work).  Each first `spark.read...load()`
        runs a small schema/footer job plus driver-side planning; done
        serially that cascade fronts every dump with one gap+job per
        table.  DataFrameReader is thread-safe; results land in the
        table cache from the main thread via the futures."""
        from concurrent.futures import ThreadPoolExecutor

        if names is None:
            names = {cm.table for cm in self.mapping.class_maps.values()}
            for a in (
                al for cm in self.mapping.class_maps.values() for al in cm.alias
            ):
                names.add(a.split()[0])
        todo = [n for n in dict.fromkeys(names) if n not in self._table_cache]
        if len(todo) < 2:
            return
        with ThreadPoolExecutor(max_workers=min(8, len(todo))) as pool:
            futs = {n: pool.submit(self._open_table, n) for n in todo}
            for n, f in futs.items():
                self._table_cache.setdefault(n, f.result())

    def table(self, name: str) -> DataFrame:
        if name in self._table_cache:
            return self._table_cache[name]
        df = self._open_table(name)
        self._table_cache[name] = df
        return df

    def _open_table(self, name: str) -> DataFrame:
        if name in self.extra_tables:
            df = self.extra_tables[name]
        else:
            from ont_d2rq_spark.sources.tables import balanced_read

            db = self.mapping.database
            df = balanced_read(
                self.spark,
                db.path_for(name),
                fmt=db.table_formats.get(name),
                schema=db.table_schemas.get(name),
                options=db.table_options.get(name),
            )
        # d2rq column-type overrides (d2rq:dateColumn etc., SURVEY §1.2)
        for qcol, xsd in self.mapping.database.column_types.items():
            t, c = qcol.split(".", 1)
            if t == name and c in df.columns:
                if xsd == "char":
                    # SQL CHAR(n) right-pad semantics (SURVEY §1.2 row 1;
                    # reference: sql/types/SQLCharacterString trims via
                    # JDBC metadata — parquet has no CHAR, so it's a
                    # declared override here): strip trailing blanks at
                    # the scan, before any pattern/translation logic
                    df = df.withColumn(c, F.rtrim(F.col(c).cast("string")))
                else:
                    df = df.withColumn(c, F.col(c).cast(_XSD_CAST[xsd]))
        return df

    def column_type(self, qcol: str, aliases: dict[str, str]) -> T.DataType:
        alias, col = qcol.split(".", 1)
        table = aliases.get(alias, alias)
        return dict(
            (f.name, f.dataType) for f in self.table(table).schema.fields
        )[col]

    # ---------------- node specs ------------------------------------
    def _subject_spec(self, cm: ClassMap) -> NodeSpec:
        tt = (
            self.mapping.translation_tables.get(cm.translate_with)
            if cm.translate_with
            else None
        )
        if cm.uri_pattern:
            return NodeSpec("pattern", pattern=UriPattern.parse(cm.uri_pattern))
        if cm.uri_column:
            return NodeSpec("column", column=cm.uri_column, translate=tt)
        if cm.uri_sql_expression:
            return NodeSpec("expr", expr=cm.uri_sql_expression)
        if cm.bnode_id_columns:
            return NodeSpec(
                "bnode", bnode_name=cm.name, bnode_columns=tuple(cm.bnode_id_columns)
            )
        return NodeSpec("constant", constant=cm.constant_value)

    def _object_spec(self, pb: PropertyBridge) -> NodeSpec:
        tt = (
            self.mapping.translation_tables.get(pb.translate_with)
            if pb.translate_with
            else None
        )
        deco = dict(
            value_regex=pb.value_regex,
            value_contains=pb.value_contains,
            value_max_length=pb.value_max_length,
        )
        if pb.refers_to_class_map:
            tgt = self.mapping.class_maps[pb.refers_to_class_map]
            return self._subject_spec(tgt)
        if pb.column:
            return NodeSpec(
                "column",
                column=pb.column,
                is_literal=True,
                datatype=pb.datatype,
                lang=pb.lang,
                translate=tt,
                **deco,
            )
        if pb.pattern:
            return NodeSpec(
                "pattern",
                pattern=UriPattern.parse(pb.pattern),
                is_literal=True,
                datatype=pb.datatype,
                lang=pb.lang,
                **deco,
            )
        if pb.sql_expression:
            return NodeSpec(
                "expr",
                expr=pb.sql_expression,
                is_literal=True,
                datatype=pb.datatype,
                lang=pb.lang,
                **deco,
            )
        if pb.uri_column:
            return NodeSpec("column", column=pb.uri_column, translate=tt, **deco)
        if pb.uri_pattern:
            return NodeSpec("pattern", pattern=UriPattern.parse(pb.uri_pattern), **deco)
        if pb.uri_sql_expression:
            return NodeSpec("expr", expr=pb.uri_sql_expression, **deco)
        if pb.bnode_id_columns:
            return NodeSpec(
                "bnode", bnode_name=pb.name, bnode_columns=tuple(pb.bnode_id_columns)
            )
        return NodeSpec(
            "constant", constant=pb.constant_value, is_literal=pb.constant_is_literal
        )

    # ---------------- compile --------------------------------------
    def compile(self) -> list[CompiledBridge]:
        """Every ClassMap type-triple + every PropertyBridge → one
        CompiledBridge (reference: MappingImpl.compile())."""
        self.mapping.validate()
        out: list[CompiledBridge] = []
        for cm in self.mapping.class_maps.values():
            subj = self._subject_spec(cm)
            base_alias, aliases = self._alias_env(cm, None)
            for cls in cm.classes:
                out.append(
                    CompiledBridge(
                        name=f"{cm.name}!type!{cls}",
                        class_map=cm,
                        bridge=None,
                        subject=subj,
                        predicate=NodeSpec("constant", constant=RDF_TYPE),
                        object=NodeSpec("constant", constant=cls),
                        base_table=cm.table,
                        base_alias=base_alias,
                        aliases=aliases,
                        joins=tuple(cm.join),
                        conditions=tuple(c for c in [cm.condition] if c),
                        distinct=cm.contains_duplicates,
                    )
                )
        for pb in self.mapping.bridges:
            cm = self.mapping.class_maps[pb.belongs_to_class_map]
            subj = self._subject_spec(cm)
            base_alias, aliases = self._alias_env(cm, pb)
            if pb.dynamic_property:
                pred = NodeSpec("pattern", pattern=UriPattern.parse(pb.dynamic_property))
            else:
                pred = NodeSpec("constant", constant=pb.properties[0])
            obj = self._object_spec(pb)
            # refersToClassMap merges the TARGET map's relation too —
            # its condition, joins and aliases (reference: relation merge
            # in map/impl/PropertyBridgeImpl; SURVEY §2.3 J2).
            tgt_cond: list = []
            tgt_joins: tuple = ()
            if pb.refers_to_class_map:
                tgt = self.mapping.class_maps[pb.refers_to_class_map]
                if tgt.condition:
                    tgt_cond.append(tgt.condition)
                tgt_joins = tuple(tgt.join)
                for a in tgt.alias:
                    parts = a.split()
                    aliases[parts[2]] = parts[0]
            conds = tuple(c for c in [cm.condition, pb.condition, *tgt_cond] if c)
            joins = tuple(cm.join) + tuple(pb.join) + tgt_joins
            if self.mapping.configuration.use_all_optimizations:
                joins = self._eliminate_self_joins(joins, base_alias, aliases)
            for prop in pb.properties or [None]:
                p = pred if pb.dynamic_property else NodeSpec("constant", constant=prop)
                out.append(
                    CompiledBridge(
                        name=pb.name if prop in (None, (pb.properties or [None])[0]) else f"{pb.name}!{prop}",
                        class_map=cm,
                        bridge=pb,
                        subject=subj,
                        predicate=p,
                        object=obj,
                        base_table=cm.table,
                        base_alias=base_alias,
                        aliases=aliases,
                        joins=joins,
                        conditions=conds,
                        order_column=pb.order_column,
                        order_desc=pb.order_desc,
                        limit=pb.limit,
                        distinct=cm.contains_duplicates,
                    )
                )
                if pb.dynamic_property:
                    break
        return out

    def _alias_env(self, cm: ClassMap, pb: Optional[PropertyBridge]):
        """alias name -> real table, from 'table AS alias' declarations."""
        aliases: dict[str, str] = {}
        specs = list(cm.alias) + (list(pb.alias) if pb else [])
        for a in specs:
            parts = a.split()
            if len(parts) != 3 or parts[1].upper() != "AS":
                raise MappingError(f"bad alias {a!r}")
            aliases[parts[2]] = parts[0]
        base_alias = cm.table
        return base_alias, aliases

    def _eliminate_self_joins(self, joins: tuple, base_alias: str, aliases):
        """Self-join elimination (reference: algebra/JoinOptimizer.java):
        a join of a table to itself over the SAME column on both sides is
        an identity join — drop it.  (The full reference rule also uses
        unique-index metadata; parquet has none, so only the provably-
        identical case is removed.)"""
        kept = []
        for j in joins:
            lt, lc = j.left.split(".", 1)
            rt, rc = j.right.split(".", 1)
            real_l, real_r = aliases.get(lt, lt), aliases.get(rt, rt)
            if real_l == real_r and lc == rc and lt == rt:
                continue
            kept.append(j)
        return tuple(kept)

    # ---------------- relation building -----------------------------
    def _part(self, cb: CompiledBridge, name: str, build):
        """One constraint-free part of bridge ``cb``, ``build(cb)`` on
        first use.  The key is the identity of the fields the parts
        read; the entry keeps the bridge, so no key's id is reused."""
        key = tuple(id(getattr(cb, f)) for f in _PART_FIELDS)
        parts = self._parts.setdefault(key, {"bridge": cb})
        if name not in parts:
            parts[name] = build(cb)
        return parts[name]

    def _build_relation(self, cb: CompiledBridge) -> DataFrame:
        """Assemble the joined/filtered DataFrame for a bridge."""
        in_plan = {cb.base_alias}
        df = self.table(cb.base_table).alias(cb.base_alias)
        pending = list(cb.joins)
        guard = 0
        while pending:
            guard += 1
            if guard > 100:
                raise MappingError(f"bridge {cb.name}: join graph not connected")
            j = pending.pop(0)
            lt, rt = j.tables()
            if lt in in_plan and rt in in_plan:
                df = df.filter(F.col(j.left) == F.col(j.right))
                continue
            if lt not in in_plan and rt not in in_plan:
                pending.append(j)  # defer until one side is in the plan
                continue
            new_alias = rt if lt in in_plan else lt
            referenced_side = j.right.split(".")[0] if j.direction == "=>" else (
                j.left.split(".")[0] if j.direction == "<=" else None
            )
            other = self.table(cb.aliases.get(new_alias, new_alias)).alias(new_alias)
            if referenced_side == new_alias and self._broadcastable(
                cb.aliases.get(new_alias, new_alias)
            ):
                other = F.broadcast(other)
            df = df.join(other, F.col(j.left) == F.col(j.right), "inner")
            in_plan.add(new_alias)
        for cond in cb.conditions:
            df = df.filter(F.expr(cond))
        return df

    # FK-broadcast size guard: the d2rq:join direction hint broadcasts
    # the REFERENCED side on the assumption it is a dimension, but a
    # fact-sized referenced table (measured: ×128-inflated customers,
    # ~1.9M keys) turns that into a multi-second SERIAL broadcast
    # build per join — the exact anti-pattern at 1000 executors.  The
    # hint only fires when the source's on-disk bytes are known and
    # under this cap; otherwise Catalyst/AQE picks the strategy from
    # its own stats (it still broadcasts genuinely small sides).
    FK_BROADCAST_CAP_BYTES = 32 << 20  # 32 MiB on disk

    def _broadcastable(self, table_name: str) -> bool:
        if table_name in self.extra_tables:
            return False  # injected frames carry no size info
        from ont_d2rq_spark.sources.tables import source_meta

        path = self.mapping.database.path_for(table_name)
        total, _stamp = source_meta(self.spark, path)
        if total is None:
            import logging

            logging.getLogger(__name__).info(
                "FK-broadcast hint suppressed for %s: source size unknown "
                "(%s); Catalyst/AQE stats decide the join strategy",
                table_name,
                path,
            )
            return False
        return total <= self.FK_BROADCAST_CAP_BYTES

    # Above this many entries a translation table joins as a broadcast
    # dict-DataFrame instead of a plan-embedded map literal (a 10M-entry
    # entity-linking dictionary would explode the plan / task binary).
    LARGE_TT_THRESHOLD = 10_000

    def _is_large_tt(self, spec: NodeSpec) -> bool:
        tt = spec.translate
        if tt is None or tt.to_rdf is not None:
            return False
        return len(tt.load_pairs()) >= self.LARGE_TT_THRESHOLD

    def _attach_large_translations(self, df: DataFrame, cb: CompiledBridge) -> DataFrame:
        """Broadcast-join each LARGE translation table onto the relation
        (left join: untranslatable → NULL → triple dropped downstream,
        same semantics as the map-literal path).  The translated value
        of position ``pos`` is column ``__tt_<pos>``, which the bridge's
        triple Columns read.

        At 100 TB the dictionary is the small side: one broadcast, no
        shuffle of the fact scan, and the plan stays O(1) in dict size
        (the reference streams the same lookup through
        values/Translator.java row-by-row).  The dictionary frame is a
        part of the bridge, shipped once; only the join is per call."""
        for pos, spec in (
            ("subject", cb.subject),
            ("predicate", cb.predicate),
            ("object", cb.object),
        ):
            if not self._is_large_tt(spec):
                continue
            tdf = self._part(cb, f"tt_{pos}", lambda _: self.spark.createDataFrame(
                list(spec.translate.load_pairs().items()),
                f"__tt_key_{pos} string, __tt_{pos} string",
            ))
            key = spec.value_before_translation(cb, self)
            df = df.join(
                F.broadcast(tdf), key == F.col(f"__tt_key_{pos}"), "left"
            ).drop(f"__tt_key_{pos}")
        return df

    def _triple_columns(self, cb: CompiledBridge) -> tuple[Column, Column]:
        """(struct(subj,pred,obj,…), not-null guard) of a bridge.  The
        guard is false when any minted value or required column is NULL
        (P6) or the object is untranslatable."""
        tt_cols = {
            pos: f"__tt_{pos}"
            for pos in ("subject", "predicate", "object")
            if self._is_large_tt(getattr(cb, pos))
        }
        s_val, _, _, s_req = cb.subject.mint(cb, self, tt_cols.get("subject"))
        p_val, _, _, p_req = cb.predicate.mint(cb, self, tt_cols.get("predicate"))
        o_val, o_dt, o_lang, o_req = cb.object.mint(cb, self, tt_cols.get("object"))
        struct = F.struct(
            s_val.cast("string").alias("subj"),
            p_val.cast("string").alias("pred"),
            o_val.cast("string").alias("obj"),
            o_dt.alias("obj_datatype"),
            o_lang.alias("obj_lang"),
            F.lit(bool(cb.object.is_literal)).alias("is_literal"),
        )
        notnull = (
            s_val.isNotNull() & p_val.isNotNull() & o_val.isNotNull()
        )
        for q in set(s_req + p_req + o_req):
            notnull = notnull & F.col(q).isNotNull()
        return struct, notnull

    # ---------------- evaluation ------------------------------------
    def bridge_df(
        self,
        cb: CompiledBridge,
        constraints: Optional[dict[str, object]] = None,
        post_filters: Optional[list] = None,
    ) -> DataFrame:
        """One bridge → triples DataFrame, with optional plan-time
        equality constraints (from node binding) pushed onto the scan.

        Compile once, bind per call (SURVEY §E1 steps 1–2): the bridge's
        relation and triple Columns are built on its first call; each
        call then applies, in order, its constraints, the large
        translation joins, the not-null guard, d2rq:orderBy, the triple
        projection, its post-filters, d2rq:limit, the
        d2rq:containsDuplicates DISTINCT and d2rq:resultSizeLimit."""
        df = self._part(cb, "relation", self._build_relation)
        for qcol, const in (constraints or {}).items():
            df = df.filter(F.col(qcol) == F.lit(const))
        df = self._attach_large_translations(df, cb)
        struct, notnull = self._part(cb, "triple", self._triple_columns)
        df = df.filter(notnull)
        if cb.order_column:
            oc = F.col(_qualify(cb.order_column, cb.base_alias))
            df = df.orderBy(oc.desc() if cb.order_desc else oc.asc())
        out = df.select(F.when(notnull, struct).alias("t")).select("t.*")
        for flt in post_filters or []:
            out = out.filter(flt)
        if cb.limit is not None:
            out = out.limit(cb.limit)
        if cb.distinct:
            out = distinct_triples(out)
        cap = self.mapping.database.result_size_limit
        if cap is not None:
            out = out.limit(cap)
        return out

    def _n_to_1_joins(self, cb: CompiledBridge) -> bool:
        """True when every join of the bridge attaches a REFERENCED (PK,
        '=>'/'<=' hint) table to the base — i.e. N:1 fact→dim hops that
        cannot multiply base rows.  Only such bridges may join-fuse."""
        if not cb.joins:
            return True
        for j in cb.joins:
            lt, rt = j.tables()
            if j.direction == "=>" and lt == cb.base_alias:
                continue
            if j.direction == "<=" and rt == cb.base_alias:
                continue
            return False
        return True

    def fused_df(self, bridges: list[CompiledBridge]) -> DataFrame:
        """Fusion: all bridges sharing a base table → ONE scan of it.

        Two levels (the Spark re-expression of union batching,
        algebra/CompatibleRelationGroup.java — SURVEY §4):
          * projection fusion: bridges over the identical relation emit
            their triples via explode(array(struct,…)) + null filter;
          * join fusion: single-hop N:1 (FK-hinted) join bridges are
            folded into the base group — their dims attach as LEFT
            broadcast joins and their conditions/join-null checks move
            into per-bridge struct guards.  A 100 TB fact table is then
            scanned ONCE for all its bridges instead of once per join
            bridge; dims are broadcast, the fact side never shuffles.
        Bridges with order/limit/distinct, multi-hop or un-hinted joins
        evaluate standalone (rare; never the hot fact path)."""
        self.prefetch_tables(
            {cb.base_table for cb in bridges}
            | {cb.aliases.get(t, t) for cb in bridges for j in cb.joins for t in j.tables()}
        )
        by_key: dict = {}
        singles: list[CompiledBridge] = []
        for cb in bridges:
            has_large_tt = any(
                self._is_large_tt(s) for s in (cb.subject, cb.predicate, cb.object)
            )
            if (
                cb.limit is not None
                or cb.order_column
                or cb.distinct
                or has_large_tt  # broadcast-dict join path → singles
                or not self._n_to_1_joins(cb)
            ):
                singles.append(cb)
                continue
            key = (cb.base_table, cb.base_alias, tuple(sorted(cb.aliases.items())))
            by_key.setdefault(key, []).append(cb)

        frames = []
        for (base_table, base_alias, aliases), group in by_key.items():
            # alias-conflict check: one join spec per joined table alias
            join_env: dict[str, tuple] = {}
            fused: list[CompiledBridge] = []
            for cb in group:
                specs = {}
                ok = True
                for j in cb.joins:
                    lt, rt = j.tables()
                    tgt = rt if lt == base_alias else lt
                    spec = (j.left, j.right)
                    if join_env.get(tgt, spec) != spec or specs.get(tgt, spec) != spec:
                        ok = False
                        break
                    specs[tgt] = spec
                if ok:
                    join_env.update(specs)
                    fused.append(cb)
                else:
                    singles.append(cb)
            if not fused:
                continue
            if len(fused) == 1 and not fused[0].joins:
                frames.append(self.bridge_df(fused[0]))
                continue
            alias_map = dict(aliases)
            df = self.table(base_table).alias(base_alias)
            for tgt, (left, right) in join_env.items():
                other = self.table(alias_map.get(tgt, tgt)).alias(tgt)
                if self._broadcastable(alias_map.get(tgt, tgt)):
                    other = F.broadcast(other)
                df = df.join(other, F.col(left) == F.col(right), "left")
            # conditions every fused bridge shares (e.g. the ClassMap-level
            # d2rq:condition) stay on the relation → pushed to the scan;
            # only per-bridge extras become struct guards
            common = frozenset.intersection(
                *[frozenset(cb.conditions) for cb in fused]
            )
            for cond in common:
                df = df.filter(F.expr(cond))
            structs = []
            for cb in fused:
                struct, guard = self._part(cb, "triple", self._triple_columns)
                # a LEFT-joined dim row that is absent leaves the join
                # columns NULL ⇒ guard false ⇒ no triple: left join +
                # guard ≡ the bridge's original inner join + filter
                for j in cb.joins:
                    guard = guard & F.col(j.left).isNotNull() & F.col(j.right).isNotNull()
                for cond in cb.conditions:
                    if cond not in common:
                        guard = guard & F.expr(cond)
                structs.append(F.when(guard, struct))
            # explode the raw array and drop NULL structs in a separate
            # Filter: array_compact is a higher-order function
            # (ArrayFilter = CodegenFallback) and at the top of the
            # stage it silently disabled WHOLE-STAGE CODEGEN for the
            # entire dump pipeline — measured on the finalized plan
            # (zero *(n) spans).  explode + isNotNull is codegen'd.
            fused_frame = (
                df.select(F.explode(F.array(*structs)).alias("t"))
                .filter(F.col("t").isNotNull())
                .select("t.*")
            )
            # d2rq:resultSizeLimit applies per relation in BOTH
            # evaluation modes (bridge_df caps singles; fuse must not
            # silently lift the cap the mapping declares)
            cap = self.mapping.database.result_size_limit
            if cap is not None:
                fused_frame = fused_frame.limit(cap)
            frames.append(fused_frame)

        for cb in singles:
            frames.append(self.bridge_df(cb))
        if not frames:
            return self.spark.createDataFrame([], TRIPLE_SCHEMA)
        return reduce(lambda a, b: a.unionByName(b), frames)


def coerce_constant(value: str, dt: T.DataType):
    """Typed constant for a pushed-down equality filter; raises
    ValueError on type mismatch (⇒ the relation is pruned — the
    reference's datatype-mismatch relation rejection)."""
    if isinstance(dt, T.StringType):
        return str(value)
    s = str(value)
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return int(s)
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return float(s)
    if isinstance(dt, T.DecimalType):
        from decimal import Decimal

        return Decimal(s)
    if isinstance(dt, T.BooleanType):
        if s.lower() in ("true", "1"):
            return True
        if s.lower() in ("false", "0"):
            return False
        raise ValueError(s)
    if isinstance(dt, T.DateType):
        return _dt.date.fromisoformat(s)
    if isinstance(dt, T.TimestampType):
        return _dt.datetime.fromisoformat(s.replace("T", " ").rstrip("Z"))
    return s
