"""Serialize a Mapping back to d2rq Turtle.

The reference's MappingGenerator writes a .ttl mapping file (mapgen/
MappingGenerator.java); this is the matching writer so
generate_mapping() output can be saved, diffed against golden files,
hand-edited, and re-loaded with mapping/ttl.py.  It walks the same
vocabulary table (``ttl.VOCAB``) as the reader, and raises
MappingError for any value the reader would not give back."""

from __future__ import annotations

import dataclasses

from ont_d2rq_spark.mapping.model import ClassMap, Mapping, MappingError
from ont_d2rq_spark.mapping.ttl import (
    BOOL,
    CLASS_MAP,
    COLS,
    COLUMN_TYPE,
    COLUMN_TYPES,
    CONSTANT,
    D2RQ,
    INT,
    IRI,
    IRIS,
    JOIN,
    LIT,
    LITS,
    ORDER_ASC,
    ORDER_DESC,
    TABLE,
    TRANSLATION,
    TRANSLATION_PAIR,
    VOCAB,
    load_mapping_ttl,
)

_ESCAPES = {"\\": "\\\\", '"': '\\"', "\n": "\\n", "\r": "\\r", "\t": "\\t"}


def _lit(v) -> str:
    return '"' + "".join(_ESCAPES.get(c, c) for c in str(v)) + '"'


def _iri(v: str) -> str:
    return f"<{v}>"


def _objects(kind: str, prop: str, v, obj) -> list[str]:
    """A field value → the Turtle objects of its d2rq property."""
    if kind == LIT:
        return [_lit(v)]
    if kind == IRI:
        return [_iri(v)]
    if kind == INT:
        return [str(v)]
    if kind == BOOL:
        return ["true" if v else "false"]
    if kind == LITS:
        return [_lit(x) for x in v]
    if kind == IRIS:
        return [_iri(x) for x in v]
    if kind == COLS:
        return [_lit(",".join(v))]
    if kind == JOIN:
        return [_lit(f"{j.left} {j.direction or '='} {j.right}") for j in v]
    if kind in (CLASS_MAP, TABLE):
        return [f"map:{v}"]
    if kind == CONSTANT:
        return [_lit(v) if getattr(obj, "constant_is_literal", False) else _iri(v)]
    if kind in (ORDER_ASC, ORDER_DESC):
        return [_lit(v)] if obj.order_desc == (kind == ORDER_DESC) else []
    if kind == COLUMN_TYPE:
        return [_lit(c) for c, t in v.items() if t == COLUMN_TYPES[prop]]
    if kind == TRANSLATION:
        db, rdf = TRANSLATION_PAIR
        return [f"[ d2rq:{db} {_lit(a)} ; d2rq:{rdf} {_lit(b)} ]" for a, b in v.items()]
    raise AssertionError(kind)


def _default(cls, field: str):
    f = cls.__dataclass_fields__[field]
    if f.default_factory is not dataclasses.MISSING:
        return f.default_factory()
    return f.default


def _resources(m: Mapping) -> list[tuple[str, object]]:
    return [
        ("database", m.database),
        ("configuration", m.configuration),
        *((t.name, t) for t in m.translation_tables.values()),
        *((c.name, c) for c in m.class_maps.values()),
        *((b.name, b) for b in m.bridges),
        *((d.name, d) for d in m.download_maps.values()),
    ]


def to_ttl(m: Mapping) -> str:
    """Emit every vocabulary row whose field differs from the dataclass
    default.  ``base_iri`` and ``database.base_dir`` are not part of a
    d2rq mapping; ``load_mapping_ttl(base_dir=)`` supplies the latter."""
    out = [f"@prefix d2rq: <{D2RQ}> .", "@prefix map: <#> .", ""]
    for name, obj in _resources(m):
        cls = type(obj)
        lines = [f"map:{name} a d2rq:{cls.__name__}"]
        if cls is ClassMap:
            lines.append("    d2rq:dataStorage map:database")
        for prop, field, kind in VOCAB[cls]:
            v = getattr(obj, field)
            if v != _default(cls, field):
                lines += [f"    d2rq:{prop} {o}" for o in _objects(kind, prop, v, obj)]
        out.append(" ;\n".join(lines) + " .\n")
    text = "\n".join(out)
    _check_reloads(m, text)
    return text


def _check_reloads(m: Mapping, text: str) -> None:
    """Raise MappingError naming the first value ``text`` loses: a field
    with no d2rq property (a Python translator, a per-table source
    setting), a column type with no *Column property, a name that is
    not a Turtle local name."""
    back = load_mapping_ttl(text, base_dir=m.database.base_dir)
    ours, theirs = _resources(m), _resources(back)
    for (name, a), (_, b) in zip(ours, theirs):
        if a != b:
            for f in dataclasses.fields(a):
                if getattr(a, f.name) != getattr(b, f.name):
                    raise MappingError(
                        f"to_ttl: {type(a).__name__} {name!r}: {f.name}="
                        f"{getattr(a, f.name)!r} has no d2rq Turtle form"
                    )
    if len(ours) != len(theirs) or any(
        getattr(back, k) != getattr(m, k)
        for k in ("translation_tables", "class_maps", "download_maps")
    ):
        raise MappingError("to_ttl: resource names are not unique d2rq local names")
