"""Turtle loader for d2rq:* mapping files.

The analogue of parser/MapParser.java over the D2RQ mapping language:
a user of the reference can point this at their existing mapping-*.ttl
and get the typed model of mapping/model.py.

Scope: the Turtle subset the d2rq: vocabulary uses — @prefix, triple
statements with `;` predicate lists and `,` object lists, IRIs,
prefixed names, `a`, string literals (quoted/long-quoted, with
@lang / ^^datatype), numbers, booleans, and blank-node property lists
as objects (the inline ``d2rq:translation [ … ]`` form).

Vocabulary (vocab/D2RQ.java): ``VOCAB`` below is the one table of
d2rq properties, per resource type, that both this reader and the
writer in mapping/serialize.py walk.  A d2rq property not in its
type's rows raises MappingError; the JDBC connection properties in
``CONNECTION_ONLY`` are accepted and ignored (parquet catalogs replace
JDBC, see ``load_mapping_ttl(base_dir=)``).
"""

from __future__ import annotations

import re
from typing import Optional

from ont_d2rq_spark.mapping.model import (
    ClassMap,
    Configuration,
    Database,
    DownloadMap,
    Join,
    Mapping,
    MappingError,
    PropertyBridge,
    TranslationTable,
)

_TOKEN = re.compile(
    r"""
    (?P<comment>\#[^\n]*)
  | (?P<longstr>\"\"\"(?:[^"\\]|\\.|"(?!""))*\"\"\")
  | (?P<str>"(?:[^"\\\n]|\\.)*")
  | (?P<iri><[^>]*>)
  | (?P<punct>\^\^|[;,.\[\]()])
  | (?P<pname>[A-Za-z_][\w.-]*)?:(?P<local>(?:[\w-]|\.(?=[\w.-]*[\w-]))*)
  | (?P<lang>@[A-Za-z][\w-]*)
  | (?P<num>[+-]?\d+(?:\.\d+)?)
  | (?P<kw>@prefix|@base|a|true|false)
  | (?P<ws>\s+)
""",
    re.VERBOSE,
)

_ESCAPES = {"n": "\n", "t": "\t", "r": "\r"}


def _tokens(text: str):
    pos = 0
    while pos < len(text):
        m = _TOKEN.match(text, pos)
        if not m:
            raise MappingError(f"ttl: cannot tokenize at …{text[pos:pos+40]!r}")
        pos = m.end()
        kind = m.lastgroup
        if kind in ("ws", "comment"):
            continue
        yield m


def _unescape(s: str) -> str:
    return re.sub(r"\\(.)", lambda e: _ESCAPES.get(e.group(1), e.group(1)), s, flags=re.S)


class _Parser:
    def __init__(self, text: str):
        self.toks = list(_tokens(text))
        self.i = 0
        self.prefixes: dict[str, str] = {}
        # statements: subject -> predicate IRI -> [objects]; an object is
        # ("iri", v), ("lit", v, lang, datatype) or ("bnode", {pred: [objects]})
        self.st: dict[str, dict[str, list]] = {}

    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self):
        t = self.peek()
        if t is None:
            raise MappingError("ttl: unexpected EOF")
        self.i += 1
        return t

    def parse(self):
        while self.peek() is not None:
            t = self.peek()
            if t.group(0) == "@prefix":
                self.next()
                pfx_tok = self.next()  # pname with empty local
                pfx = pfx_tok.group("pname") or ""
                iri = self.next().group("iri")[1:-1]
                self.prefixes[pfx] = iri
                dot = self.next()
                if dot.group(0) != ".":
                    raise MappingError("ttl: expected '.' after @prefix")
            else:
                subj = self.term()
                if subj[0] != "iri":
                    raise MappingError("ttl: subject must be an IRI in d2rq mappings")
                self.predicate_objects(self.st.setdefault(subj[1], {}), end=".")
        return self.st

    def term(self):
        t = self.next()
        g = t.group(0)
        if t.lastgroup == "iri":
            return ("iri", g[1:-1])
        if t.lastgroup == "longstr":
            return ("lit", _unescape(g[3:-3]), None, None)
        if t.lastgroup == "str":
            val = _unescape(g[1:-1])
            nxt = self.peek()
            if nxt is not None and nxt.lastgroup == "lang":
                self.next()
                return ("lit", val, nxt.group(0)[1:], None)
            if nxt is not None and nxt.group(0) == "^^":
                self.next()
                dt = self.term()
                return ("lit", val, None, dt[1])
            return ("lit", val, None, None)
        if t.lastgroup == "num":
            return ("lit", g, None, "number")
        if g in ("true", "false"):
            return ("lit", g, None, "boolean")
        if g == "a":
            return ("iri", RDF_TYPE)
        if g == "[":
            props: dict[str, list] = {}
            self.predicate_objects(props, end="]")
            return ("bnode", props)
        if t.group("local") is not None:
            pfx = t.group("pname") or ""
            if pfx not in self.prefixes:
                raise MappingError(f"ttl: unknown prefix {pfx!r}:")
            return ("iri", self.prefixes[pfx] + t.group("local"))
        raise MappingError(f"ttl: unexpected token {g!r}")

    def predicate_objects(self, props: dict, end: str):
        """`p o, o ; p o` up to ``end`` ('.' or ']'); a trailing ';' is
        allowed."""
        while True:
            if self.peek() is not None and self.peek().group(0) == end:
                self.next()
                return
            pred = self.term()
            if pred[0] != "iri":
                raise MappingError("ttl: predicate must be an IRI")
            while True:
                props.setdefault(pred[1], []).append(self.term())
                sep = self.next().group(0)
                if sep != ",":
                    break
            if sep == end:
                return
            if sep != ";":
                raise MappingError(f"ttl: expected ';' ',' or {end!r}, got {sep!r}")


D2RQ = "http://www.wiwiss.fu-berlin.de/suhl/bizer/D2RQ/0.1#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

# value kinds: how a property's Turtle objects map to its model field
LIT, IRI, INT, BOOL = "lit", "iri", "int", "bool"  # one value
LITS, IRIS = "lits", "iris"  # repeated values, a list
COLS = "cols"  # one comma-joined column list, a list
JOIN = "join"  # repeated d2rq:join, a list of Join
CLASS_MAP, TABLE = "class_map", "table"  # reference to a ClassMap / TranslationTable, by name
CONSTANT = "constant"  # literal or IRI; a literal sets constant_is_literal
ORDER_ASC, ORDER_DESC = "order_asc", "order_desc"  # set order_column and order_desc
COLUMN_TYPE = "column_type"  # *Column: one column_types entry per value
TRANSLATION = "translation"  # [ databaseValue ; rdfValue ] pairs

# *Column property → the xsd local name it sets in Database.column_types
COLUMN_TYPES = {
    "textColumn": "string",
    "numericColumn": "long",
    "booleanColumn": "boolean",
    "dateColumn": "date",
    "timestampColumn": "timestamp",
    "binaryColumn": "binary",
}
# the two properties of one inline d2rq:translation pair
TRANSLATION_PAIR = ("databaseValue", "rdfValue")
# JDBC connection properties: accepted and ignored
CONNECTION_ONLY = frozenset(
    {"jdbcDSN", "jdbcDriver", "username", "password", "fetchSize", "dataStorage"}
)

_CM, _PB, _DM = ClassMap, PropertyBridge, DownloadMap
# (d2rq local name, model field, value kind, resource types it applies to)
_PROPERTIES = [
    ("resultSizeLimit", "result_size_limit", INT, (Database,)),
    ("startupSQLScript", "startup_sql", LITS, (Database,)),
    *((p, "column_types", COLUMN_TYPE, (Database,)) for p in COLUMN_TYPES),
    ("serveVocabulary", "serve_vocabulary", BOOL, (Configuration,)),
    ("useAllOptimizations", "use_all_optimizations", BOOL, (Configuration,)),
    ("href", "href", LIT, (TranslationTable,)),
    ("translation", "translations", TRANSLATION, (TranslationTable,)),
    ("belongsToClassMap", "belongs_to_class_map", CLASS_MAP, (_PB,)),
    ("property", "properties", IRIS, (_PB,)),
    ("dynamicProperty", "dynamic_property", LIT, (_PB,)),
    ("column", "column", LIT, (_PB,)),
    ("pattern", "pattern", LIT, (_PB,)),
    ("sqlExpression", "sql_expression", LIT, (_PB,)),
    ("uriColumn", "uri_column", LIT, (_CM, _PB)),
    ("uriPattern", "uri_pattern", LIT, (_CM, _PB, _DM)),
    ("uriSqlExpression", "uri_sql_expression", LIT, (_CM, _PB)),
    ("bNodeIdColumns", "bnode_id_columns", COLS, (_CM, _PB)),
    ("refersToClassMap", "refers_to_class_map", CLASS_MAP, (_PB,)),
    ("constantValue", "constant_value", CONSTANT, (_CM, _PB)),
    ("class", "classes", IRIS, (_CM,)),
    ("datatype", "datatype", IRI, (_PB,)),
    ("lang", "lang", LIT, (_PB,)),
    ("translateWith", "translate_with", TABLE, (_CM, _PB)),
    ("join", "join", JOIN, (_CM, _PB)),
    ("condition", "condition", LIT, (_CM, _PB, _DM)),
    ("alias", "alias", LITS, (_CM, _PB)),
    ("containsDuplicates", "contains_duplicates", BOOL, (_CM,)),
    ("classDefinitionLabel", "class_definition_label", LIT, (_CM,)),
    ("limit", "limit", INT, (_PB,)),
    ("limitInverse", "limit_inverse", INT, (_PB,)),
    ("orderAsc", "order_column", ORDER_ASC, (_PB,)),
    ("orderDesc", "order_column", ORDER_DESC, (_PB,)),
    ("valueRegex", "value_regex", LIT, (_PB,)),
    ("valueContains", "value_contains", LIT, (_PB,)),
    ("valueMaxLength", "value_max_length", INT, (_PB,)),
    ("contentDownloadColumn", "content_column", LIT, (_DM,)),
    ("mediaType", "media_type", LIT, (_DM,)),
]
TYPES = (Database, Configuration, TranslationTable, ClassMap, PropertyBridge, DownloadMap)
# resource type → its rows [(d2rq local name, model field, value kind)];
# the model class names are the d2rq class local names
VOCAB = {t: [(n, f, k) for n, f, k, ts in _PROPERTIES if t in ts] for t in TYPES}


def _local_name(iri: str) -> str:
    return iri.rsplit("#", 1)[-1].rsplit("/", 1)[-1]


def _text(obj: tuple, where: str) -> str:
    if obj[0] == "bnode":
        raise MappingError(f"ttl: {where}: unexpected blank node")
    return obj[1]


def _pair(obj: tuple, where: str) -> tuple[str, str]:
    keys = [D2RQ + p for p in TRANSLATION_PAIR]
    if obj[0] != "bnode" or set(obj[1]) != set(keys) or any(len(obj[1][k]) != 1 for k in keys):
        raise MappingError(
            f"ttl: {where}: expected [ d2rq:{TRANSLATION_PAIR[0]} … ; d2rq:{TRANSLATION_PAIR[1]} … ]"
        )
    return _text(obj[1][keys[0]][0], where), _text(obj[1][keys[1]][0], where)


_REPEATED = {LITS, IRIS, JOIN, COLUMN_TYPE}


def _read(cls, subject: str, props: dict):
    """One d2rq-typed subject → its model object."""
    name = _local_name(subject)
    kw: dict = {"name": name} if cls not in (Database, Configuration) else {}
    rows = {n: (f, k) for n, f, k in VOCAB[cls]}
    for pred, objs in props.items():
        if pred == RDF_TYPE or not pred.startswith(D2RQ):
            continue
        prop = pred[len(D2RQ):]
        if prop in CONNECTION_ONLY:
            continue
        where = f"d2rq:{prop} on {cls.__name__} {name!r}"
        if prop not in rows:
            raise MappingError(f"ttl: unknown property {where}")
        field, kind = rows[prop]
        if kind == TRANSLATION:
            kw[field] = dict(_pair(o, where) for o in objs)
            continue
        texts = [_text(o, where) for o in objs]
        if kind not in _REPEATED and len(texts) != 1:
            raise MappingError(f"ttl: {where} takes one value, got {len(texts)}")
        v = texts[0]
        if kind in (LIT, IRI):
            kw[field] = v
        elif kind == INT:
            if not re.fullmatch(r"[+-]?\d+", v):
                raise MappingError(f"ttl: {where}: expected an integer, got {v!r}")
            kw[field] = int(v)
        elif kind == BOOL:
            if v not in ("true", "false"):
                raise MappingError(f"ttl: {where}: expected true or false, got {v!r}")
            kw[field] = v == "true"
        elif kind in (LITS, IRIS):
            kw[field] = texts
        elif kind == COLS:
            kw[field] = [c.strip() for c in v.split(",")]
        elif kind == JOIN:
            kw[field] = [Join.parse(t) for t in texts]
        elif kind in (CLASS_MAP, TABLE):
            kw[field] = _local_name(v)
        elif kind == CONSTANT:
            kw[field] = v
            if objs[0][0] == "lit":
                if cls is not PropertyBridge:
                    raise MappingError(f"ttl: {where} must be an IRI")
                kw["constant_is_literal"] = True
        elif kind in (ORDER_ASC, ORDER_DESC):
            if field in kw:
                raise MappingError(f"ttl: {where}: d2rq:orderAsc and orderDesc both given")
            kw[field] = v
            kw["order_desc"] = kind == ORDER_DESC
        elif kind == COLUMN_TYPE:
            kw.setdefault(field, {}).update((t, COLUMN_TYPES[prop]) for t in texts)
    if cls is DownloadMap and "content_column" in kw:
        kw["table"] = kw["content_column"].split(".")[0]
    try:
        return cls(**kw)
    except TypeError as e:  # a required property is missing
        raise MappingError(f"ttl: {cls.__name__} {name!r}: {e}") from None


def load_mapping_ttl(path_or_text: str, base_dir: Optional[str] = None) -> Mapping:
    """Parse a d2rq Turtle mapping.  ``base_dir`` is the parquet table
    directory that stands in for the file's JDBC connection."""
    text = path_or_text
    if "\n" not in path_or_text and path_or_text.endswith((".ttl", ".n3")):
        with open(path_or_text) as f:
            text = f.read()
    by_name = {t.__name__: t for t in TYPES}
    m = Mapping()
    for s, props in _Parser(text).parse().items():
        for t in props.get(RDF_TYPE, []):
            if t[0] != "iri" or not t[1].startswith(D2RQ):
                continue
            cls = by_name.get(t[1][len(D2RQ):])
            if cls is None:
                raise MappingError(f"ttl: unsupported resource type {t[1]} on {s}")
            obj = _read(cls, s, props)
            if cls is Database:
                m.database = obj
            elif cls is Configuration:
                m.configuration = obj
            elif cls is TranslationTable:
                m.translation_tables[obj.name] = obj
            elif cls is ClassMap:
                m.add_class_map(obj)
            elif cls is PropertyBridge:
                m.add_bridge(obj)
            else:
                m.download_maps[obj.name] = obj
    m.database.base_dir = base_dir
    m.validate()
    return m

