"""ont_d2rq_spark — a PySpark-native knowledge-graph construction engine.

Re-expresses the capabilities of owlcs/ont-d2rq (D2RQ: declarative
relational-to-RDF mapping over Apache Jena / ONT-API) as idiomatic
Spark DataFrame transforms.  This is NOT a port: the reference is a
row-at-a-time JVM engine that compiles mappings to per-query SQL
statements executed over JDBC; this engine compiles the same mapping
semantics to lazy, columnar Catalyst plans over parquet/Iceberg tables
and lets Spark pick the physical strategy.

Public surface:
  mapping.model      — Mapping / ClassMap / PropertyBridge / TranslationTable
                       (reference: de/fuberlin/wiwiss/d2rq/map/*, parser/MapParser.java)
  mapping.ttl        — d2rq Turtle mapping loader and the d2rq vocabulary table
                       (reference: parser/MapParser.java, vocab/D2RQ.java)
  mapping.serialize  — Mapping → d2rq Turtle writer (reference: mapgen/MappingGenerator.java)
  functions.pattern  — invertible URI patterns + encoders
                       (reference: values/Pattern.java, mapgen/IRIEncoder.java)
  functions.lexical  — canonical RDF literal lexical forms (reference: sql/types/*.java)
  compiler           — mapping → per-bridge DataFrame "TripleRelation"s
                       (reference: algebra/TripleRelation.java, algebra/Relation.java)
  graph              — VirtualGraph: find(s,p,o), BGP joins, full dump
                       (reference: jena/GraphD2RQ.java, engine/QueryEngineD2RQ.java)
  mapgen             — auto-generate mapping from table schemas
                       (reference: mapgen/MappingGenerator.java)
  schema_graph       — OWL vocabulary graph from the mapping
                       (reference: ont-d2rq map/impl/schema/*)
  operators.*        — scale extensions: connected components, dedup,
                       similarity search, text analysis, multimodal plumbing
  pipeline.docs      — north-star interleaved-document KG pipeline
"""

__version__ = "0.1.0"

TRIPLE_COLUMNS = ["subj", "pred", "obj", "obj_datatype", "obj_lang", "is_literal"]

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
XSD = "http://www.w3.org/2001/XMLSchema#"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"
OWL = "http://www.w3.org/2002/07/owl#"
OWL_SAMEAS = OWL + "sameAs"
