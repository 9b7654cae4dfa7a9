"""Mapping → Turtle → Mapping round trip (MappingGenerator writer parity):
the writer and the reader walk one vocabulary table, so a reload gives
back the same dataclasses, names included."""

import pytest

from ont_d2rq_spark.examples import tpch_mapping
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
from ont_d2rq_spark.mapping.serialize import to_ttl
from ont_d2rq_spark.mapping.ttl import COLUMN_TYPES, VOCAB, load_mapping_ttl

X = "http://x/"
DATA = "/data/tpch"  # a path string only: nothing here reads the tables
PARTS = ("database", "configuration", "class_maps", "bridges", "translation_tables", "download_maps")


def every_row_mapping() -> Mapping:
    """Sets every VOCAB row of every resource type at least once."""
    m = Mapping(
        database=Database(
            base_dir="/tmp/db",
            result_size_limit=500,
            startup_sql=["SET a = 1", 'SELECT "q\\\\" \n 2'],
            column_types={f"t.c{i}": xsd for i, xsd in enumerate(COLUMN_TYPES.values())},
        ),
        configuration=Configuration(serve_vocabulary=False, use_all_optimizations=False),
    )
    m.translation_tables["tt"] = TranslationTable(
        name="tt", translations={"A": X + "a", "B": "b \"quoted\""}, href="/tmp/tt.csv"
    )
    m.add_class_map(
        ClassMap(
            name="t.cm",
            uri_pattern=X + "@@t.id@@",
            classes=[X + "C", X + "D"],
            condition="t.id > 0",
            alias=["t AS t2"],
            join=[Join("t.id", "t2.id")],
            contains_duplicates=True,
            class_definition_label="t",
        )
    )
    m.add_class_map(ClassMap(name="ucol", uri_column="u.iri", translate_with="tt"))
    m.add_class_map(ClassMap(name="uexpr", table="u", uri_sql_expression="concat('x', u.id)"))
    m.add_class_map(ClassMap(name="bn", bnode_id_columns=["v.a", "v.b"]))
    m.add_class_map(ClassMap(name="const", constant_value=X + "thing"))
    cm = "t.cm"
    bridges = [
        dict(properties=[X + "p", X + "q"], column="t.a", lang="en", limit=5,
             limit_inverse=2, order_column="t.a", value_regex="^a", value_contains="a",
             value_max_length=9),
        dict(dynamic_property=X + "@@t.k@@", pattern="v @@t.a@@", datatype=X + "dt",
             order_column="t.a", order_desc=True),
        dict(properties=[X + "p"], sql_expression="t.a + 1", condition="t.a IS NOT NULL",
             alias=["t AS t3"], join=[Join("t.id", "t3.id", "<=")]),
        dict(properties=[X + "p"], uri_column="t.u", translate_with="tt"),
        dict(properties=[X + "p"], uri_pattern=X + "u/@@t.u@@"),
        dict(properties=[X + "p"], uri_sql_expression="concat('x', t.u)"),
        dict(properties=[X + "p"], bnode_id_columns=["t.a", "t.b"]),
        dict(properties=[X + "p"], refers_to_class_map="ucol", join=[Join("t.u", "u.id", "=>")]),
        dict(properties=[X + "p"], constant_value="hello", constant_is_literal=True),
        dict(properties=[X + "p"], constant_value=X + "hello"),
    ]
    for i, kw in enumerate(bridges):
        m.add_bridge(PropertyBridge(name=f"t.b{i}", belongs_to_class_map=cm, **kw))
    m.download_maps["dl"] = DownloadMap(
        name="dl", table="t", uri_pattern=X + "f/@@t.id@@", content_column="t.blob",
        media_type="image/png", condition="t.blob IS NOT NULL",
    )
    m.validate()
    return m


def assert_round_trip(m: Mapping) -> str:
    ttl = to_ttl(m)
    back = load_mapping_ttl(ttl, base_dir=m.database.base_dir)
    for part in PARTS:
        assert getattr(back, part) == getattr(m, part), part
    return ttl


def test_roundtrip_tpch_mapping():
    m = tpch_mapping(DATA)
    ttl = assert_round_trip(m)
    assert "map:customer.name a d2rq:PropertyBridge" in ttl
    assert len(m.translation_tables["segments"].translations) == 5


def test_roundtrip_every_vocabulary_row():
    ttl = assert_round_trip(every_row_mapping())
    written: dict[str, set] = {}
    for block in ttl.split("\n\n")[1:]:
        head, *lines = block.strip().splitlines()
        props = written.setdefault(head.split("d2rq:")[1].split()[0], set())
        props |= {line.split()[0][len("d2rq:"):] for line in lines}
    for cls, rows in VOCAB.items():
        assert {prop for prop, _, _ in rows} <= written[cls.__name__], cls.__name__


def test_serve_vocabulary_false_survives_round_trip():
    m = tpch_mapping(DATA)
    m.configuration = Configuration(serve_vocabulary=False)
    back = load_mapping_ttl(to_ttl(m), base_dir=DATA)
    assert back.configuration.serve_vocabulary is False


@pytest.mark.parametrize("xsd", ["double", "decimal", "char", "integer"])
def test_writer_rejects_column_type_without_property(xsd):
    m = tpch_mapping(DATA)
    m.database.column_types["customer.c_acctbal"] = xsd
    with pytest.raises(MappingError, match="column_types"):
        to_ttl(m)


def test_writer_rejects_python_translator():
    m = tpch_mapping(DATA)
    m.translation_tables["segments"].to_rdf = lambda s: s
    with pytest.raises(MappingError, match="to_rdf"):
        to_ttl(m)
