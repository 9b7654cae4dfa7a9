"""Mapping model + Turtle loader validation (reference: MapParser/MappingTest-style)."""

import pytest

from ont_d2rq_spark.mapping.model import (
    ClassMap,
    Join,
    Mapping,
    MappingError,
    PropertyBridge,
    TranslationTable,
)
from ont_d2rq_spark.mapping.ttl import load_mapping_ttl


def test_classmap_requires_exactly_one_maker():
    with pytest.raises(MappingError):
        ClassMap(name="x", table="t")
    with pytest.raises(MappingError):
        ClassMap(name="x", table="t", uri_pattern="a@@t.c@@", uri_column="t.c")


def test_bridge_requires_object_maker_and_property():
    with pytest.raises(MappingError):
        PropertyBridge(name="b", belongs_to_class_map="x", properties=["p"])
    with pytest.raises(MappingError):
        PropertyBridge(name="b", belongs_to_class_map="x", column="t.c")


def test_join_parse_directions():
    j = Join.parse("a.x => b.y")
    assert (j.left, j.right, j.direction) == ("a.x", "b.y", "=>")
    assert Join.parse("a.x = b.y").direction is None
    with pytest.raises(MappingError):
        Join.parse("nonsense")


def test_validate_unknown_classmap_ref():
    m = Mapping()
    m.add_class_map(ClassMap(name="c", table="t", uri_pattern="u@@t.k@@"))
    m.add_bridge(
        PropertyBridge(
            name="b", belongs_to_class_map="c", properties=["p"], refers_to_class_map="zzz"
        )
    )
    with pytest.raises(MappingError):
        m.validate()


def test_refers_across_tables_needs_join():
    m = Mapping()
    m.add_class_map(ClassMap(name="a", table="ta", uri_pattern="u@@ta.k@@"))
    m.add_class_map(ClassMap(name="b", table="tb", uri_pattern="v@@tb.k@@"))
    m.add_bridge(
        PropertyBridge(
            name="x", belongs_to_class_map="a", properties=["p"], refers_to_class_map="b"
        )
    )
    with pytest.raises(MappingError):
        m.validate()


def test_translation_table_csv(tmp_path):
    f = tmp_path / "tt.csv"
    f.write_text("db1,rdf1\ndb2,rdf2\n")
    tt = TranslationTable(name="t", href=str(f))
    assert tt.load_pairs() == {"db1": "rdf1", "db2": "rdf2"}
    assert tt.to_db_value("rdf2") == "db2"
    assert tt.to_db_value("nope") is None


PREFIXES = """
@prefix d2rq: <http://www.wiwiss.fu-berlin.de/suhl/bizer/D2RQ/0.1#> .
@prefix map: <#> .
"""


def test_turtle_mapping_loader():
    ttl = PREFIXES + """
map:c a d2rq:ClassMap ;
    d2rq:uriPattern "http://ex/@@t.k@@" ;
    d2rq:class <http://ex/C> .
map:c.name a d2rq:PropertyBridge ;
    d2rq:belongsToClassMap map:c ;
    d2rq:property <http://ex/name> ;
    d2rq:column "t.n" ;
    d2rq:lang "en" .
map:c.ref a d2rq:PropertyBridge ;
    d2rq:belongsToClassMap map:c ;
    d2rq:property <http://ex/r> ;
    d2rq:refersToClassMap map:d ;
    d2rq:join "t.fk => u.pk" .
map:d a d2rq:ClassMap ;
    d2rq:uriPattern "http://ex/d/@@u.pk@@" .
"""
    m = load_mapping_ttl(ttl, base_dir="/tmp")
    assert set(m.class_maps) == {"c", "d"}
    assert m.class_maps["c"].table == "t" and m.class_maps["d"].table == "u"
    assert [b.name for b in m.bridges] == ["c.name", "c.ref"]
    ref = [b for b in m.bridges if b.refers_to_class_map][0]
    assert ref.join[0].direction == "=>"


def test_misspelled_d2rq_property_rejected():
    """A typo'd property must not silently drop its filter."""
    ttl = PREFIXES + """
map:c a d2rq:ClassMap ;
    d2rq:uriPattern "u@@t.k@@" .
map:b a d2rq:PropertyBridge ;
    d2rq:belongsToClassMap map:c ;
    d2rq:property <http://ex/p> ;
    d2rq:column "t.n" ;
    d2rq:conditon "t.n IS NOT NULL" .
"""
    with pytest.raises(MappingError, match=r"d2rq:conditon on PropertyBridge 'b'"):
        load_mapping_ttl(ttl, base_dir="/tmp")
