"""Oracle parity: every registry query returns, on Spark, the rows its
DuckDB oracle SQL returns over the same tables, sf0.01 unless
$ORACLE_SF_DIR names others (the check ``tools/check_oracles.py`` runs
from the command line)."""

import pytest

import __spark_entry__
from tools.check_oracles import SF_DIR, connect, mismatch


@pytest.fixture(scope="module")
def duck():
    con = connect(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", list(__spark_entry__.queries()))
def test_oracle_parity(spark, duck, name):
    assert mismatch(spark, duck, name, SF_DIR) is None
