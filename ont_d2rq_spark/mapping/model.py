"""Typed mapping object model — the Spark analogue of D2RQ's map layer.

Mirrors the d2rq: vocabulary 1:1 (reference layout:
src/main/java/de/fuberlin/wiwiss/d2rq/map/{Mapping,Database,ClassMap,
PropertyBridge,TranslationTable,DownloadMap,Configuration}.java and
map/impl/* in the ont-d2rq refactor; SURVEY.md §1.1).  Field names keep
the d2rq: property names in snake_case so a D2RQ user can transcribe a
Turtle mapping mechanically.

Validation errors raise :class:`MappingError` (the analogue of
D2RQException from parser/MapParser.java validation).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Callable, Optional

from ont_d2rq_spark.functions.pattern import UriPattern


class MappingError(ValueError):
    """Invalid mapping (conflicting value makers, unknown refs, …)."""


@dataclass
class Join:
    """``d2rq:join "t1.c1 = t2.c2"`` / directed ``=>`` / ``<=``.

    Direction is the FK hint (reference: algebra/Join.java): ``a => b``
    means a's column is the FK referencing b (b is the "one" side).
    The compiler uses it to pick the broadcast side.
    """

    left: str
    right: str
    direction: Optional[str] = None  # None | '=>' | '<='

    @classmethod
    def parse(cls, s: str) -> "Join":
        for op in ("<=", "=>", "="):
            if op in s:
                l, r = s.split(op, 1)
                return cls(l.strip(), r.strip(), None if op == "=" else op)
        raise MappingError(f"unparseable d2rq:join {s!r}")

    def tables(self) -> tuple[str, str]:
        return self.left.split(".")[0], self.right.split(".")[0]


@dataclass
class TranslationTable:
    """db-value ↔ rdf-value dictionary (reference: map/TranslationTable,
    values/Translator.java, csv/TranslationTableParser.java).

    One of: ``translations`` (inline pairs), ``href`` (2-column CSV,
    db,rdf), or ``py_class`` (vectorized translator: a pair of
    pandas Series→Series callables — the analogue of d2rq:javaClass)."""

    name: str
    translations: dict[str, str] = field(default_factory=dict)
    href: Optional[str] = None
    to_rdf: Optional[Callable] = None  # pandas.Series -> pandas.Series
    to_db: Optional[Callable] = None

    def load_pairs(self) -> dict[str, str]:
        if self.href:
            import csv

            pairs = dict(self.translations)
            with open(self.href, newline="") as f:
                for row in csv.reader(f):
                    if len(row) >= 2:
                        pairs[row[0]] = row[1]
            return pairs
        return self.translations

    def to_db_value(self, rdf_value: str) -> Optional[str]:
        """Reverse translation for plan-time node binding (P3)."""
        if self.to_db is not None:
            import pandas as pd

            return self.to_db(pd.Series([rdf_value])).iloc[0]
        inv = {v: k for k, v in self.load_pairs().items()}
        return inv.get(rdf_value)


@dataclass
class Database:
    """Source catalog (reference: map/Database + sql/ConnectedDB.java).

    Instead of a JDBC URL this holds a directory of parquet/Iceberg
    tables (``base_dir/<table>.parquet``) or explicit per-table paths.
    ``column_types`` force a column's RDF datatype, the analogue of
    d2rq:textColumn / numericColumn / dateColumn / … overrides.
    ``startup_sql`` mirrors d2rq:startupSQLScript (run once per session).
    ``result_size_limit`` mirrors d2rq:resultSizeLimit (global row cap).
    """

    base_dir: Optional[str] = None
    tables: dict[str, str] = field(default_factory=dict)  # table -> path
    # per-table source format ("csv"/"json"/"orc"/"parquet"; default
    # inferred from the path extension), reader options, and an explicit
    # DDL schema — give csv/json tables a schema at scale or Spark's
    # inference adds a full pre-scan of the source
    table_formats: dict[str, str] = field(default_factory=dict)
    table_options: dict[str, dict] = field(default_factory=dict)
    table_schemas: dict[str, str] = field(default_factory=dict)
    column_types: dict[str, str] = field(default_factory=dict)  # "t.c" -> xsd local name
    startup_sql: list[str] = field(default_factory=list)
    result_size_limit: Optional[int] = None

    def path_for(self, table: str) -> str:
        if table in self.tables:
            return self.tables[table]
        if self.base_dir:
            return f"{self.base_dir}/{table}.parquet"
        raise MappingError(f"no path for table {table!r}")


@dataclass
class Configuration:
    """reference: map/Configuration.java + ont-d2rq additions."""

    serve_vocabulary: bool = True
    use_all_optimizations: bool = True


@dataclass
class ClassMap:
    """How rows of a table become resources (reference: map/ClassMap).

    Exactly one resource-identity maker must be set:
    uri_pattern / uri_column / uri_sql_expression / bnode_id_columns /
    constant_value.
    """

    name: str
    table: Optional[str] = None
    uri_pattern: Optional[str] = None
    uri_column: Optional[str] = None
    uri_sql_expression: Optional[str] = None
    bnode_id_columns: Optional[list[str]] = None  # qualified "t.c"
    constant_value: Optional[str] = None
    classes: list[str] = field(default_factory=list)  # d2rq:class
    condition: Optional[str] = None  # d2rq:condition (Spark SQL dialect)
    alias: list[str] = field(default_factory=list)  # "t AS u"
    join: list[Join] = field(default_factory=list)
    contains_duplicates: bool = False  # d2rq:containsDuplicates
    translate_with: Optional[str] = None
    class_definition_label: Optional[str] = None  # feeds the schema graph

    def __post_init__(self):
        makers = [
            self.uri_pattern,
            self.uri_column,
            self.uri_sql_expression,
            self.bnode_id_columns,
            self.constant_value,
        ]
        n = sum(1 for m in makers if m)
        if n != 1:
            raise MappingError(
                f"ClassMap {self.name!r}: exactly one of uriPattern/uriColumn/"
                f"uriSqlExpression/bNodeIdColumns/constantValue required, got {n}"
            )
        if self.table is None:
            # infer from the identity maker's columns
            cols = self._identity_columns()
            if cols:
                object.__setattr__(self, "table", cols[0].split(".")[0])
            elif not self.constant_value:
                raise MappingError(f"ClassMap {self.name!r}: cannot infer table")

    def _identity_columns(self) -> list[str]:
        if self.uri_pattern:
            return UriPattern.parse(self.uri_pattern).columns
        if self.uri_column:
            return [self.uri_column]
        if self.bnode_id_columns:
            return list(self.bnode_id_columns)
        if self.uri_sql_expression:
            # qualified "t.c" references outside '…' string literals
            unquoted = re.sub(r"'(?:[^']|'')*'", "", self.uri_sql_expression)
            return re.findall(r"\b[A-Za-z_]\w*\.[A-Za-z_]\w*", unquoted)
        return []


@dataclass
class PropertyBridge:
    """How columns become property triples (reference: map/PropertyBridge).

    ``properties``: constant predicate URIs (d2rq:property — may repeat);
    or ``dynamic_property``: a URI pattern minted per row (F7).
    Exactly one object value maker: column / pattern / sql_expression /
    uri_column / uri_pattern / uri_sql_expression / bnode_id_columns /
    refers_to_class_map / constant_value.
    """

    name: str
    belongs_to_class_map: str = ""
    properties: list[str] = field(default_factory=list)
    dynamic_property: Optional[str] = None
    # object makers ------------------------------------------------------
    column: Optional[str] = None
    pattern: Optional[str] = None
    sql_expression: Optional[str] = None
    uri_column: Optional[str] = None
    uri_pattern: Optional[str] = None
    uri_sql_expression: Optional[str] = None
    bnode_id_columns: Optional[list[str]] = None
    refers_to_class_map: Optional[str] = None
    constant_value: Optional[str] = None
    constant_is_literal: bool = False
    # literal decoration ---------------------------------------------------
    datatype: Optional[str] = None  # d2rq:datatype (URI)
    lang: Optional[str] = None  # d2rq:lang
    translate_with: Optional[str] = None
    # relation shaping ------------------------------------------------------
    join: list[Join] = field(default_factory=list)
    condition: Optional[str] = None
    alias: list[str] = field(default_factory=list)
    limit: Optional[int] = None  # d2rq:limit
    limit_inverse: Optional[int] = None  # d2rq:limitInverse
    order_column: Optional[str] = None  # d2rq:orderAsc / orderDesc
    order_desc: bool = False
    # optimizer hints (P4: values/ValueDecorator.java) -----------------------
    value_regex: Optional[str] = None
    value_contains: Optional[str] = None
    value_max_length: Optional[int] = None

    def __post_init__(self):
        makers = [
            self.column,
            self.pattern,
            self.sql_expression,
            self.uri_column,
            self.uri_pattern,
            self.uri_sql_expression,
            self.bnode_id_columns,
            self.refers_to_class_map,
            self.constant_value,
        ]
        n = sum(1 for m in makers if m)
        if n != 1:
            raise MappingError(
                f"PropertyBridge {self.name!r}: exactly one object maker required, got {n}"
            )
        if not self.properties and not self.dynamic_property:
            raise MappingError(f"PropertyBridge {self.name!r}: no d2rq:property")

    @property
    def object_is_literal(self) -> bool:
        if self.constant_value:
            return self.constant_is_literal
        return bool(self.column or self.pattern or self.sql_expression)


@dataclass
class DownloadMap:
    """d2rq:DownloadMap — serve one row's binary column
    (reference: map/DownloadMap, download/DownloadContentQuery.java)."""

    name: str
    table: str
    uri_pattern: str
    content_column: str  # qualified binary/text column
    media_type: Optional[str] = None
    condition: Optional[str] = None


@dataclass
class Mapping:
    """Root object (reference: map/Mapping + map/impl/MappingImpl)."""

    database: Database = field(default_factory=Database)
    class_maps: dict[str, ClassMap] = field(default_factory=dict)
    bridges: list[PropertyBridge] = field(default_factory=list)
    translation_tables: dict[str, TranslationTable] = field(default_factory=dict)
    download_maps: dict[str, DownloadMap] = field(default_factory=dict)
    configuration: Configuration = field(default_factory=Configuration)
    base_iri: str = ""

    def add_class_map(self, cm: ClassMap) -> "Mapping":
        self.class_maps[cm.name] = cm
        return self

    def add_bridge(self, pb: PropertyBridge) -> "Mapping":
        self.bridges.append(pb)
        return self

    def validate(self) -> None:
        """Cross-object validation (reference: MapParser + MappingImpl)."""
        for pb in self.bridges:
            if pb.belongs_to_class_map not in self.class_maps:
                raise MappingError(
                    f"bridge {pb.name!r}: unknown classmap {pb.belongs_to_class_map!r}"
                )
            if pb.refers_to_class_map and pb.refers_to_class_map not in self.class_maps:
                raise MappingError(
                    f"bridge {pb.name!r}: unknown refersToClassMap {pb.refers_to_class_map!r}"
                )
            if pb.refers_to_class_map and not pb.join:
                cm = self.class_maps[pb.belongs_to_class_map]
                tgt = self.class_maps[pb.refers_to_class_map]
                if cm.table != tgt.table:
                    raise MappingError(
                        f"bridge {pb.name!r}: refersToClassMap across tables needs d2rq:join"
                    )
            if pb.translate_with and pb.translate_with not in self.translation_tables:
                raise MappingError(
                    f"bridge {pb.name!r}: unknown translation table {pb.translate_with!r}"
                )
        for cm in self.class_maps.values():
            if cm.translate_with and cm.translate_with not in self.translation_tables:
                raise MappingError(
                    f"classmap {cm.name!r}: unknown translation table {cm.translate_with!r}"
                )
