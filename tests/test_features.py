"""Feature-level mapping tests: aliases/self-join, blank nodes, dynamic
properties, sqlExpression, order/limit, value-constraint pruning,
pandas-UDF translator, column-type overrides, mapgen, schema graph,
DownloadMap."""

import pandas as pd
import pytest

from ont_d2rq_spark.graph import VirtualGraph
from ont_d2rq_spark.mapping.model import (
    ClassMap,
    Configuration,
    Database,
    Join,
    Mapping,
    PropertyBridge,
    TranslationTable,
)

EX = "http://f/"


def mk(spark, tables, mapping):
    return VirtualGraph(mapping, spark, extra_tables=tables)


def base_mapping():
    return Mapping(configuration=Configuration(serve_vocabulary=False))


def rows(df):
    return {tuple(r) for r in df.collect()}


@pytest.fixture(scope="module")
def emp(spark):
    return {
        "emp": spark.createDataFrame(
            pd.DataFrame(
                {
                    "id": [1, 2, 3],
                    "name": ["a", "b", "c"],
                    "boss": [None, 1, 1],
                    "salary": [10.5, 20.25, 30.0],
                }
            ).astype({"boss": "Int64"})
        )
    }


def test_alias_self_join(spark, emp):
    """d2rq:alias 'emp AS manager' (P5/J4 fixture): employee→boss link."""
    m = base_mapping()
    m.add_class_map(
        ClassMap(name="emp", table="emp", uri_pattern=EX + "e@@emp.id@@")
    )
    m.add_bridge(
        PropertyBridge(
            name="emp.boss",
            belongs_to_class_map="emp",
            properties=[EX + "boss"],
            uri_pattern=EX + "e@@manager.id@@",
            alias=["emp AS manager"],
            join=[Join("emp.boss", "manager.id", "=>")],
        )
    )
    g = mk(spark, emp, m)
    assert rows(g.find(p=EX + "boss")) == {
        (EX + "e2", EX + "boss", EX + "e1", None, None, False),
        (EX + "e3", EX + "boss", EX + "e1", None, None, False),
    }


def test_self_join_elimination(spark, emp):
    """A join of a table to itself on the same column is dropped (J4)."""
    m = base_mapping()
    m.add_class_map(
        ClassMap(name="emp", table="emp", uri_pattern=EX + "e@@emp.id@@")
    )
    m.add_bridge(
        PropertyBridge(
            name="emp.name",
            belongs_to_class_map="emp",
            properties=[EX + "name"],
            column="emp.name",
            join=[Join("emp.id", "emp.id")],
        )
    )
    g = mk(spark, emp, m)
    cb = next(b for b in g.bridges if b.bridge is not None)
    assert cb.joins == ()  # eliminated at compile time
    assert g.find(p=EX + "name").count() == 3


def test_bnode_and_null(spark, emp):
    m = base_mapping()
    m.add_class_map(
        ClassMap(name="emp", table="emp", bnode_id_columns=["emp.id", "emp.boss"])
    )
    m.add_bridge(
        PropertyBridge(
            name="emp.name",
            belongs_to_class_map="emp",
            properties=[EX + "name"],
            column="emp.name",
        )
    )
    g = mk(spark, emp, m)
    got = rows(g.find(p=EX + "name"))
    # emp 1 has NULL boss → no bnode id → no triple (P6)
    assert got == {
        ("_:emp@@2@@1", EX + "name", "b", None, None, True),
        ("_:emp@@3@@1", EX + "name", "c", None, None, True),
    }
    # bound bnode label → constraint
    assert rows(g.find(s="_:emp@@3@@1")) == {
        ("_:emp@@3@@1", EX + "name", "c", None, None, True)
    }
    # N-Triples serialization sanitizes internal labels ('@' is not
    # legal in BLANK_NODE_LABEL): _:b<md5(id)>, stable per node
    import re

    lines = sorted(r[0] for r in g.nt_lines(g.find(p=EX + "name")).collect())
    assert len(lines) == 2 and lines[0] != lines[1]
    for ln in lines:
        assert re.match(r'^_:b[0-9a-f]{32} <', ln), ln


def test_dynamic_property_and_invert(spark, emp):
    m = base_mapping()
    m.add_class_map(ClassMap(name="emp", table="emp", uri_pattern=EX + "e@@emp.id@@"))
    m.add_bridge(
        PropertyBridge(
            name="emp.dyn",
            belongs_to_class_map="emp",
            dynamic_property=EX + "attr/@@emp.name@@",
            column="emp.salary",
        )
    )
    g = mk(spark, emp, m)
    assert g.find(p=EX + "attr/b").count() == 1
    assert g.find(p=EX + "attr/zz").count() == 0


def test_sql_expression_object(spark, emp):
    m = base_mapping()
    m.add_class_map(ClassMap(name="emp", table="emp", uri_pattern=EX + "e@@emp.id@@"))
    m.add_bridge(
        PropertyBridge(
            name="emp.double_salary",
            belongs_to_class_map="emp",
            properties=[EX + "ds"],
            sql_expression="CAST(emp.salary * 2 AS DOUBLE)",
        )
    )
    g = mk(spark, emp, m)
    got = {(r["subj"], r["obj"]) for r in g.find(p=EX + "ds").collect()}
    assert got == {(EX + "e1", "21.0"), (EX + "e2", "40.5"), (EX + "e3", "60.0")}


def test_order_limit(spark, emp):
    m = base_mapping()
    m.add_class_map(ClassMap(name="emp", table="emp", uri_pattern=EX + "e@@emp.id@@"))
    m.add_bridge(
        PropertyBridge(
            name="emp.top",
            belongs_to_class_map="emp",
            properties=[EX + "topSalary"],
            column="emp.salary",
            order_column="emp.salary",
            order_desc=True,
            limit=1,
        )
    )
    g = mk(spark, emp, m)
    got = rows(g.find(p=EX + "topSalary"))
    assert {t[2] for t in got} == {"30.0"}


def test_value_constraint_pruning(spark, emp):
    """valueRegex prunes the relation for a non-matching bound object (P4)."""
    m = base_mapping()
    m.add_class_map(ClassMap(name="emp", table="emp", uri_pattern=EX + "e@@emp.id@@"))
    m.add_bridge(
        PropertyBridge(
            name="emp.name",
            belongs_to_class_map="emp",
            properties=[EX + "name"],
            column="emp.name",
            value_regex="^[a-c]$",
            value_max_length=1,
        )
    )
    g = mk(spark, emp, m)
    assert g.find(p=EX + "name", o="b").count() == 1
    # regex can't match → relation pruned without a Spark job
    assert g.find(p=EX + "name", o="zzz").count() == 0


def test_pandas_udf_translator(spark, emp):
    """d2rq:javaClass Translator analogue: vectorized pandas UDF (X1)."""
    m = base_mapping()
    m.translation_tables["up"] = TranslationTable(
        name="up",
        to_rdf=lambda s: s.str.upper(),
        to_db=lambda s: s.str.lower(),
    )
    m.add_class_map(ClassMap(name="emp", table="emp", uri_pattern=EX + "e@@emp.id@@"))
    m.add_bridge(
        PropertyBridge(
            name="emp.uname",
            belongs_to_class_map="emp",
            properties=[EX + "uname"],
            column="emp.name",
            translate_with="up",
        )
    )
    g = mk(spark, emp, m)
    assert {t[2] for t in rows(g.find(p=EX + "uname"))} == {"A", "B", "C"}
    # reverse translation binds through the udf pair
    assert g.find(p=EX + "uname", o="B").count() == 1


def test_constant_value_and_multi_property(spark, emp):
    m = base_mapping()
    m.add_class_map(ClassMap(name="emp", table="emp", uri_pattern=EX + "e@@emp.id@@"))
    m.add_bridge(
        PropertyBridge(
            name="emp.const",
            belongs_to_class_map="emp",
            properties=[EX + "p1", EX + "p2"],
            constant_value=EX + "thing",
        )
    )
    g = mk(spark, emp, m)
    assert g.find(p=EX + "p1").count() == 3
    assert g.find(p=EX + "p2").count() == 3


def test_datatype_mismatch_prunes(spark, emp):
    """Binding a non-numeric constant against an int column prunes the
    relation entirely (reference: datatype-mismatch rejection)."""
    m = base_mapping()
    m.add_class_map(ClassMap(name="emp", table="emp", uri_pattern=EX + "e@@emp.id@@"))
    g = mk(spark, emp, m)
    assert g.find(s=EX + "enotanumber").count() == 0


def test_schema_graph():
    from ont_d2rq_spark.schema_graph import schema_rows

    m = base_mapping()
    m.add_class_map(
        ClassMap(
            name="emp",
            table="emp",
            uri_pattern=EX + "e@@emp.id@@",
            classes=[EX + "Emp"],
            class_definition_label="employee",
        )
    )
    m.add_bridge(
        PropertyBridge(
            name="emp.name",
            belongs_to_class_map="emp",
            properties=[EX + "name"],
            column="emp.name",
        )
    )
    rws = schema_rows(m)
    assert (EX + "Emp", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
            "http://www.w3.org/2002/07/owl#Class", None, None, False) in rws
    assert any(r[1] == "http://www.w3.org/2000/01/rdf-schema#label" for r in rws)
    assert any(r[2] == "http://www.w3.org/2002/07/owl#DatatypeProperty" for r in rws)


def test_find_serves_vocabulary(spark, emp):
    """serveVocabulary: find() answers from the schema graph too."""
    from ont_d2rq_spark.mapping.model import Configuration

    m = base_mapping()
    m.configuration = Configuration(serve_vocabulary=True)
    m.add_class_map(
        ClassMap(name="emp", table="emp", uri_pattern=EX + "e@@emp.id@@",
                 classes=[EX + "Emp"])
    )
    g = mk(spark, emp, m)
    owl_class = "http://www.w3.org/2002/07/owl#Class"
    got = rows(g.find(o=owl_class))
    assert (EX + "Emp", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
            owl_class, None, None, False) in got
    # data + vocabulary both answer the type-pattern find
    types = g.find(p="http://www.w3.org/1999/02/22-rdf-syntax-ns#type")
    assert types.count() == 3 + 1  # 3 emp rows + 1 owl:Class triple


def test_mapgen_directmapping(spark):
    from ont_d2rq_spark.mapgen import generate_mapping

    m = generate_mapping(
        spark,
        "/root/testdata/sf0.001",
        ["region", "nation"],
        foreign_keys={"nation.n_regionkey": "region.r_regionkey"},
        direct_mapping=True,
    )
    g = VirtualGraph(m, spark)
    t = g.triples(distinct=True)
    preds = {r[0] for r in t.select("pred").distinct().collect()}
    assert "http://example.org/nation#n_name" in preds
    # FK became an object property join
    ref = g.find(p="http://example.org/nation#n_regionkey")
    assert ref.count() == 25
    assert not ref.first()["is_literal"]


def test_column_type_override(spark):
    """d2rq:dateColumn analogue: orders.o_orderdate forced to xsd:date."""
    m = base_mapping()
    m.database = Database(base_dir="/root/testdata/sf0.001",
                          column_types={"orders.o_orderdate": "date"})
    m.add_class_map(
        ClassMap(name="orders", table="orders", uri_pattern=EX + "o@@orders.o_orderkey@@")
    )
    m.add_bridge(
        PropertyBridge(
            name="orders.date",
            belongs_to_class_map="orders",
            properties=[EX + "date"],
            column="orders.o_orderdate",
        )
    )
    g = VirtualGraph(m, spark)
    r = g.find(p=EX + "date").first()
    assert r["obj_datatype"] == "http://www.w3.org/2001/XMLSchema#date"
    assert len(r["obj"]) == 10  # yyyy-MM-dd


def test_startup_sql_script(spark, emp):
    """d2rq:startupSQLScript runs once at compiler construction (S5)."""
    m = base_mapping()
    m.database = Database(
        base_dir="/root/testdata/sf0.001",
        startup_sql=["CREATE OR REPLACE TEMPORARY VIEW startup_probe AS SELECT 42 AS v"],
    )
    m.add_class_map(ClassMap(name="emp", table="emp", uri_pattern=EX + "e@@emp.id@@"))
    mk(spark, emp, m)
    assert spark.table("startup_probe").first()["v"] == 42


def test_contains_duplicates_distinct(spark):
    """d2rq:containsDuplicates → per-relation DISTINCT (U2)."""
    dup = spark.createDataFrame([(1, "a"), (1, "a"), (2, "b")], "id int, name string")
    m = base_mapping()
    m.add_class_map(
        ClassMap(
            name="d", table="dup", uri_pattern=EX + "d@@dup.id@@", contains_duplicates=True
        )
    )
    m.add_bridge(
        PropertyBridge(
            name="d.name", belongs_to_class_map="d", properties=[EX + "n"], column="dup.name"
        )
    )
    g = mk(spark, {"dup": dup}, m)
    assert g.find(p=EX + "n").count() == 2  # deduped
    for distinct in ("auto", False):  # False keeps the per-relation DISTINCT
        t = g.triples(distinct=distinct)
        assert t.filter(t.pred == EX + "n").count() == 2
    m2 = base_mapping()
    m2.add_class_map(
        ClassMap(name="d", table="dup", uri_pattern=EX + "d@@dup.id@@")
    )
    m2.add_bridge(
        PropertyBridge(
            name="d.name", belongs_to_class_map="d", properties=[EX + "n"], column="dup.name"
        )
    )
    assert mk(spark, {"dup": dup}, m2).find(p=EX + "n").count() == 3  # kept


def test_result_size_limit(spark, emp):
    """d2rq:resultSizeLimit caps every relation's result (O3)."""
    m = base_mapping()
    m.database = Database(base_dir="/root/testdata/sf0.001", result_size_limit=2)
    m.add_class_map(ClassMap(name="emp", table="emp", uri_pattern=EX + "e@@emp.id@@"))
    m.add_bridge(
        PropertyBridge(
            name="emp.name", belongs_to_class_map="emp", properties=[EX + "n"], column="emp.name"
        )
    )
    g = mk(spark, emp, m)
    assert g.find(p=EX + "n").count() == 2
    # the cap holds in BOTH evaluation modes (it is per generated
    # relation, as in the reference's per-SQL-query LIMIT: fusion packs
    # both bridges into ONE relation → one cap; unfused = one per bridge)
    assert g.triples(fuse=True).count() == 2
    assert g.triples(fuse=False).count() <= 4


def _big_translation_graph(spark):
    """Table ``t`` whose codes translate through a 100k-entry dictionary."""
    n = 100_000
    big = {f"k{i}": f"{EX}v/{i}" for i in range(n)}
    tables = {
        "t": spark.createDataFrame(
            pd.DataFrame({"id": [1, 2, 3, 4], "code": ["k7", "k42", "k99999", "nope"]})
        )
    }
    m = base_mapping()
    m.translation_tables["big"] = TranslationTable(name="big", translations=big)
    m.add_class_map(ClassMap(name="t", table="t", uri_pattern=EX + "t@@t.id@@"))
    m.add_bridge(
        PropertyBridge(
            name="t.code",
            belongs_to_class_map="t",
            properties=[EX + "code"],
            uri_column="t.code",
            translate_with="big",
        )
    )
    return mk(spark, tables, m)


def test_large_translation_table_broadcast_join(spark):
    """F5 at entity-linking scale: a 100k-entry dictionary must become a
    broadcast dict-DataFrame join, NOT a 100k-literal create_map in the
    plan (which would explode plan size / task binaries at 10M entries)."""
    g = _big_translation_graph(spark)
    df = g.find(p=EX + "code")
    got = rows(df)
    assert got == {
        (EX + "t1", EX + "code", EX + "v/7", None, None, False),
        (EX + "t2", EX + "code", EX + "v/42", None, None, False),
        (EX + "t3", EX + "code", EX + "v/99999", None, None, False),
        # id 4: untranslatable → no triple
    }
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the plan must not embed the dictionary as a create_map literal
    logical = df._jdf.queryExecution().analyzed().toString()
    assert "create_map" not in logical
    assert len(logical) < 200_000, f"plan too large: {len(logical)} chars"
    # fused evaluation routes the bridge to the singles path — same rows
    assert rows(g.triples(fuse=True).filter("pred = '%scode'" % EX)) == got


def test_large_translation_dictionary_shipped_once(spark, monkeypatch):
    """The dictionary frame is built once per bridge and position; only
    its join is bound per call."""
    g = _big_translation_graph(spark)
    made = []
    create = spark.createDataFrame
    monkeypatch.setattr(spark, "createDataFrame", lambda *a, **k: made.append(1) or create(*a, **k))
    plans = [g.find(p=EX + "code") for _ in range(3)]
    plans += [g.find(s=EX + f"t{i}", p=EX + "code") for i in (1, 2)]
    monkeypatch.undo()
    assert len(made) == 1
    assert rows(plans[2]) == rows(plans[0]) and len(rows(plans[0])) == 3
    assert rows(plans[3]) == {(EX + "t1", EX + "code", EX + "v/7", None, None, False)}


def test_char_column_rtrim(spark):
    """'char' column-type override: CHAR(n) right-padding is trimmed at
    the scan (SURVEY §1.2 row 1), so minted URIs/literals and bound
    lookups see the logical value."""
    import pandas as pd

    tables = {
        "t": spark.createDataFrame(
            pd.DataFrame({"id": [1, 2], "code": ["AB   ", "CD "]})
        )
    }
    m = base_mapping()
    m.database = Database(column_types={"t.code": "char"})
    m.add_class_map(ClassMap(name="t", table="t", uri_pattern=EX + "t@@t.id@@"))
    m.add_bridge(
        PropertyBridge(
            name="t.code",
            belongs_to_class_map="t",
            properties=[EX + "code"],
            column="t.code",
        )
    )
    g = mk(spark, tables, m)
    assert {r["obj"] for r in g.find(p=EX + "code").collect()} == {"AB", "CD"}
    # bound lookup on the TRIMMED value works (pushed equality)
    assert g.find(p=EX + "code", o="AB").count() == 1
    assert g.find(p=EX + "code", o="AB   ").count() == 0


def test_download_map(spark, emp):
    """DownloadMap (S7): fetch one row's content column by minted URI."""
    from ont_d2rq_spark.sources.download import download_content

    m = base_mapping()
    m.download_maps["d"] = __import__(
        "ont_d2rq_spark.mapping.model", fromlist=["DownloadMap"]
    ).DownloadMap(
        name="d",
        table="emp",
        uri_pattern=EX + "file/@@emp.id@@",
        content_column="emp.name",
        media_type="text/plain",
    )
    g = mk(spark, emp, m)
    content, media = download_content(g, EX + "file/2")
    assert content == "b" and media == "text/plain"
    assert download_content(g, EX + "file/99") == (None, "text/plain")


def test_lexical_forms(spark):
    """Canonical lexical form and XSD datatype per Spark type
    (functions/lexical.py)."""
    from ont_d2rq_spark.functions.lexical import XSD, lexical_expr

    df = spark.sql(
        "SELECT CAST(-42 AS BIGINT) i, CAST(3.50 AS DECIMAL(10,2)) d,"
        " CAST(1.0E-7 AS DOUBLE) f, CAST(2.5 AS DOUBLE) f2, true b,"
        " DATE'2024-02-29' dt, TIMESTAMP'2024-02-29 13:05:10' ts,"
        " TIMESTAMP'2024-02-29 13:05:09.120' ts2, X'0AFF' bin"
    )
    forms = [lexical_expr(df[c], df.schema[c].dataType) for c in df.columns]
    got = df.select(*[col.alias(c) for (col, _), c in zip(forms, df.columns)]).first()
    assert got.asDict() == {
        "i": "-42",
        "d": "3.50",
        "f": "1.0E-7",
        "f2": "2.5",
        "b": "true",
        "dt": "2024-02-29",
        "ts": "2024-02-29T13:05:10",
        "ts2": "2024-02-29T13:05:09.12",
        "bin": "0AFF",
    }
    assert [dt[len(XSD):] for _, dt in forms] == [
        "integer", "decimal", "double", "double", "boolean",
        "date", "dateTime", "dateTime", "hexBinary",
    ]
