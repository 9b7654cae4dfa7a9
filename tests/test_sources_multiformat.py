"""Multi-format mapped sources (CSV / TSV / JSON) — the Spark analogue
of the reference's JDBC driver choice (map/Database): a D2RQ "database"
here is any directory of Spark-readable files; format comes from the
path extension or an explicit database.table_formats entry, and
csv/json tables can carry an explicit DDL schema so no inference
pre-scan runs at scale."""

import pytest

from ont_d2rq_spark.graph import VirtualGraph
from ont_d2rq_spark.mapping.model import (
    ClassMap,
    Database,
    Join,
    Mapping,
    PropertyBridge,
)

EX = "http://example.org/"


@pytest.fixture(scope="module")
def src_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("multifmt")
    (d / "people.csv").write_text("person_id,pname\n1,Alice\n2,Bob\n3,Carol\n")
    (d / "pets.jsonl").write_text(
        '{"pet_id": 10, "owner": 1, "pet": "cat"}\n'
        '{"pet_id": 11, "owner": 2, "pet": "dog"}\n'
    )
    (d / "cities.tsv").write_text("city_id\tcity\n1\tParis\n2\tOslo\n")
    return d


def _mapping(d):
    m = Mapping(
        database=Database(
            tables={
                "people": str(d / "people.csv"),
                "pets": str(d / "pets.jsonl"),
                "cities": str(d / "cities.tsv"),
            },
            # explicit DDL schema: no csv inference pre-scan
            table_schemas={"people": "person_id INT, pname STRING"},
        )
    )
    m.add_class_map(
        ClassMap(
            name="person",
            table="people",
            uri_pattern=EX + "person/@@people.person_id@@",
            classes=[EX + "Person"],
        )
    )
    m.add_bridge(
        PropertyBridge(
            name="person.name",
            belongs_to_class_map="person",
            properties=[EX + "name"],
            column="people.pname",
        )
    )
    m.add_class_map(
        ClassMap(
            name="pet",
            table="pets",
            uri_pattern=EX + "pet/@@pets.pet_id@@",
            classes=[EX + "Pet"],
        )
    )
    m.add_bridge(
        PropertyBridge(
            name="pet.owner",
            belongs_to_class_map="pet",
            properties=[EX + "ownedBy"],
            refers_to_class_map="person",
            join=[Join("pets.owner", "people.person_id", "=>")],
        )
    )
    m.add_class_map(
        ClassMap(
            name="city",
            table="cities",
            uri_pattern=EX + "city/@@cities.city_id@@",
            classes=[EX + "City"],
        )
    )
    m.add_bridge(
        PropertyBridge(
            name="city.name",
            belongs_to_class_map="city",
            properties=[EX + "name"],
            column="cities.city",
        )
    )
    m.validate()
    return m


def test_csv_json_tsv_tables_mint_and_join(spark, src_dir):
    g = VirtualGraph(_mapping(src_dir), spark)
    rows = {(r["subj"], r["pred"], r["obj"]) for r in g.triples().collect()}
    assert (EX + "person/1", EX + "name", "Alice") in rows
    # csv→json cross-format FK join
    assert (EX + "pet/10", EX + "ownedBy", EX + "person/1") in rows
    # tsv with tab separator inferred from extension
    assert (EX + "city/2", EX + "name", "Oslo") in rows


def test_find_pushdown_over_csv(spark, src_dir):
    g = VirtualGraph(_mapping(src_dir), spark)
    hits = g.find(s=EX + "person/2", p=EX + "name").collect()
    assert [h["obj"] for h in hits] == ["Bob"]


def test_balanced_read_sees_file_added_inside_partition(spark, tmp_path):
    """The handle cache keys on every data file under the path: a file
    added inside an existing partition directory (top-level mtime
    unchanged) re-opens the table instead of serving the stale
    listing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ont_d2rq_spark.sources.tables import balanced_read

    root = tmp_path / "facts"
    for k in (1, 2):
        (root / f"k={k}").mkdir(parents=True)
        pq.write_table(pa.table({"v": [k, k + 10]}), root / f"k={k}" / "part-0.parquet")
    (root / "_SUCCESS").write_bytes(b"")
    assert balanced_read(spark, str(root)).count() == 4
    assert balanced_read(spark, str(root)) is balanced_read(spark, str(root))
    pq.write_table(pa.table({"v": [7, 8, 9]}), root / "k=1" / "part-1.parquet")
    assert balanced_read(spark, str(root)).count() == 7
