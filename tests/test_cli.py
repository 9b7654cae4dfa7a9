"""CLI commands (bin/ analogues): generate-mapping, validate, owl and
sparql (d2r-query)."""

import tempfile

from ont_d2rq_spark.cli import main
from ont_d2rq_spark.examples import tpch_mapping
from ont_d2rq_spark.mapping.serialize import to_ttl

SF = "/root/testdata/sf0.001"


def _mapping_file() -> str:
    ttl = to_ttl(tpch_mapping(SF))
    f = tempfile.NamedTemporaryFile(mode="w", suffix=".ttl", delete=False)
    f.write(ttl)
    f.close()
    return f.name


def test_cli_validate(capsys):
    path = _mapping_file()
    assert main(["validate", "-m", path, "-d", SF]) == 0
    assert "1 translation tables" in capsys.readouterr().out


def test_cli_owl(capsys):
    path = _mapping_file()
    assert main(["owl", "-m", path, "-d", SF]) == 0
    out = capsys.readouterr().out
    assert "Ontology(<" in out
    assert "Declaration(Class(<http://example.org/Customer>))" in out


def test_cli_sparql(spark, capsys):
    path = _mapping_file()
    rc = main(
        [
            "sparql",
            "-m",
            path,
            "-d",
            SF,
            "-q",
            """PREFIX ex: <http://example.org/>
               SELECT ?name (COUNT(*) AS ?n) WHERE {
                   ?c ex:inNation ?nn . ?nn ex:name ?name .
               } GROUP BY ?name ORDER BY ?name LIMIT 3""",
            "--limit",
            "5",
        ]
    )
    out = capsys.readouterr().out
    assert rc == 0
    lines = [l for l in out.strip().splitlines() if l]
    assert lines[0].split("\t") == ["name", "n"]
    assert len(lines) == 4  # header + 3 rows
    assert all(int(l.split("\t")[1]) > 0 for l in lines[1:])


def test_cli_generate_validate_sparql_through_files(spark, capsys, tmp_path):
    """generate-mapping writes Turtle that validate and sparql read back,
    and the file reloads to the mapping generate_mapping builds."""
    from ont_d2rq_spark.mapgen import generate_mapping
    from ont_d2rq_spark.mapping.ttl import load_mapping_ttl

    path = str(tmp_path / "gen.ttl")
    fk = "customer.c_nationkey=nation.n_nationkey"
    gen = ["generate-mapping", "-d", SF, "-t", "customer,nation", "--fk", fk, "-o", path]
    assert main(gen) == 0
    assert main(["validate", "-m", path, "-d", SF]) == 0
    assert "OK: 2 class maps" in capsys.readouterr().out

    built = generate_mapping(
        spark, SF, ["customer", "nation"], foreign_keys=dict([fk.split("=")])
    )
    loaded = load_mapping_ttl(path, base_dir=SF)
    for part in ("database", "configuration", "class_maps", "bridges",
                 "translation_tables", "download_maps"):
        assert getattr(loaded, part) == getattr(built, part), part

    ex = "http://example.org/"
    q = f"""SELECT (COUNT(*) AS ?n) WHERE {{
        ?c <{ex}customer_c_nationkey> ?nat . ?nat <{ex}nation_n_name> ?name }}"""
    assert main(["sparql", "-m", path, "-d", SF, "-q", q]) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert lines[0] == "n"
    assert int(lines[1]) == spark.read.parquet(f"{SF}/customer.parquet").count()
