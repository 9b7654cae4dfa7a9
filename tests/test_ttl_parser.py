"""Turtle mapping loader — real d2rq: mapping files parse to the typed
mapping model (MapParser parity)."""

import pytest

from ont_d2rq_spark.mapping.model import MappingError
from ont_d2rq_spark.mapping.ttl import load_mapping_ttl

ISWC_TTL = """
@prefix d2rq: <http://www.wiwiss.fu-berlin.de/suhl/bizer/D2RQ/0.1#> .
@prefix map: <#> .
@prefix iswc: <http://annotation.semanticweb.org/iswc/iswc.daml#> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .

map:Database1 a d2rq:Database ;
    d2rq:jdbcDSN "jdbc:mysql://localhost/iswc" ;
    d2rq:jdbcDriver "com.mysql.jdbc.Driver" ;
    d2rq:numericColumn "conferences.ConfID" ;
    d2rq:resultSizeLimit "500" .

map:Conference a d2rq:ClassMap ;
    d2rq:dataStorage map:Database1 ;
    d2rq:uriPattern "http://conferences.org/comp/confno@@conferences.ConfID@@" ;
    d2rq:class iswc:Conference ;
    d2rq:classDefinitionLabel "conference" ;
    d2rq:condition "conferences.ConfID > 0" .

map:eventTitle a d2rq:PropertyBridge ;
    d2rq:belongsToClassMap map:Conference ;
    d2rq:property <http://purl.org/dc/elements/1.1/title> ;
    d2rq:column "conferences.Name" ;
    d2rq:lang "en" ;
    d2rq:limit 50 ;
    d2rq:orderDesc "conferences.ConfID" .

map:Paper a d2rq:ClassMap ;
    d2rq:dataStorage map:Database1 ;
    d2rq:uriPattern "http://www.conference.org/conf02004/paper#Paper@@papers.PaperID@@" ;
    d2rq:class iswc:InProceedings .

map:paperConference a d2rq:PropertyBridge ;
    d2rq:belongsToClassMap map:Paper ;
    d2rq:property iswc:conference ;
    d2rq:refersToClassMap map:Conference ;
    d2rq:join "papers.Conference => conferences.ConfID" .
"""


def test_parse_iswc_style_mapping():
    m = load_mapping_ttl(ISWC_TTL, base_dir="/tmp/db")
    assert set(m.class_maps) == {"Conference", "Paper"}
    cm = m.class_maps["Conference"]
    assert cm.uri_pattern.endswith("@@conferences.ConfID@@")
    assert cm.classes == ["http://annotation.semanticweb.org/iswc/iswc.daml#Conference"]
    assert cm.condition == "conferences.ConfID > 0"
    assert cm.class_definition_label == "conference"
    assert m.database.result_size_limit == 500
    assert m.database.column_types["conferences.ConfID"] == "long"
    assert m.database.base_dir == "/tmp/db"

    titles = [b for b in m.bridges if b.name == "eventTitle"]
    assert len(titles) == 1
    t = titles[0]
    assert t.properties == ["http://purl.org/dc/elements/1.1/title"]
    assert t.column == "conferences.Name" and t.lang == "en"
    assert t.limit == 50 and t.order_desc and t.order_column == "conferences.ConfID"

    ref = [b for b in m.bridges if b.name == "paperConference"][0]
    assert ref.refers_to_class_map == "Conference"
    assert ref.join[0].direction == "=>"


def test_comma_object_lists_and_comments():
    ttl = """
@prefix d2rq: <http://www.wiwiss.fu-berlin.de/suhl/bizer/D2RQ/0.1#> .
@prefix map: <#> .
# a comment
map:X a d2rq:ClassMap ;
    d2rq:uriPattern "http://x/@@t.id@@" ;
    d2rq:class <http://x/A>, <http://x/B> .
map:p a d2rq:PropertyBridge ;
    d2rq:belongsToClassMap map:X ;
    d2rq:property <http://x/p1>, <http://x/p2> ;
    d2rq:column "t.c" .
"""
    m = load_mapping_ttl(ttl, base_dir="/tmp")
    assert m.class_maps["X"].classes == ["http://x/A", "http://x/B"]
    assert m.bridges[0].properties == ["http://x/p1", "http://x/p2"]


PREFIXES = """
@prefix d2rq: <http://www.wiwiss.fu-berlin.de/suhl/bizer/D2RQ/0.1#> .
@prefix map: <#> .
"""

CLASS_MAP = """
map:X a d2rq:ClassMap ;
    d2rq:uriPattern "http://x/@@t.id@@" .
"""


def test_constant_value_keeps_term_kind():
    ttl = PREFIXES + CLASS_MAP + """
map:lit a d2rq:PropertyBridge ;
    d2rq:belongsToClassMap map:X ;
    d2rq:property <http://x/p> ;
    d2rq:constantValue "hello" .
map:iri a d2rq:PropertyBridge ;
    d2rq:belongsToClassMap map:X ;
    d2rq:property <http://x/q> ;
    d2rq:constantValue <http://x/hello> .
"""
    lit, iri = load_mapping_ttl(ttl, base_dir="/tmp").bridges
    assert lit.constant_value == "hello" and lit.object_is_literal
    assert iri.constant_value == "http://x/hello" and not iri.object_is_literal


def test_inline_translation_table():
    """The D2RQ manual's blank-node form, trailing ';' included; the
    table is registered once, under its local name."""
    ttl = PREFIXES + CLASS_MAP + """
map:colors a d2rq:TranslationTable ;
    d2rq:translation [ d2rq:databaseValue "R" ; d2rq:rdfValue <http://x/red> ; ] ;
    d2rq:translation [ d2rq:databaseValue "G" ; d2rq:rdfValue "green" ] .
map:color a d2rq:PropertyBridge ;
    d2rq:belongsToClassMap map:X ;
    d2rq:property <http://x/color> ;
    d2rq:uriColumn "t.color" ;
    d2rq:translateWith map:colors .
"""
    m = load_mapping_ttl(ttl, base_dir="/tmp")
    assert list(m.translation_tables) == ["colors"]
    assert m.translation_tables["colors"].translations == {"R": "http://x/red", "G": "green"}
    assert m.bridges[0].translate_with == "colors"


def test_unknown_d2rq_type_and_repeated_single_value_raise():
    with pytest.raises(MappingError, match="AdditionalProperty"):
        load_mapping_ttl(PREFIXES + "map:a a d2rq:AdditionalProperty .", base_dir="/tmp")
    twice = CLASS_MAP.replace(" .\n", ' ;\n    d2rq:condition "a" , "b" .\n')
    with pytest.raises(MappingError, match="takes one value"):
        load_mapping_ttl(PREFIXES + twice, base_dir="/tmp")


def test_unknown_prefix_raises():
    with pytest.raises(MappingError):
        load_mapping_ttl("zzz:X a zzz:Thing .", base_dir="/tmp")


def test_ttl_roundtrip_executes(spark, tmp_path):
    """A ttl mapping over the driver tables compiles and runs."""
    ttl = """
@prefix d2rq: <http://www.wiwiss.fu-berlin.de/suhl/bizer/D2RQ/0.1#> .
@prefix map: <#> .
map:nation a d2rq:ClassMap ;
    d2rq:uriPattern "http://example.org/nation/@@nation.n_nationkey@@" ;
    d2rq:class <http://example.org/Nation> .
map:nname a d2rq:PropertyBridge ;
    d2rq:belongsToClassMap map:nation ;
    d2rq:property <http://example.org/name> ;
    d2rq:column "nation.n_name" .
"""
    from ont_d2rq_spark.graph import VirtualGraph

    m = load_mapping_ttl(ttl, base_dir="/root/testdata/sf0.001")
    g = VirtualGraph(m, spark)
    assert g.find(p="http://example.org/name").count() == 25
