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
    spark.catalog.clearCache()  # what earlier test modules persisted
    assert mismatch(spark, duck, name, SF_DIR) is None
    # no operator leaves a persisted frame in the session for its caller
    # to clear: reuse inside an operator is a localCheckpoint, freed with
    # the result
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_dedup_exact_representative_is_min_doc_id(spark, tmp_path):
    """The sf0.01 documents have no exact-duplicate group, so parity
    alone cannot tell min from max: plant one."""
    import pandas as pd

    from ont_d2rq_spark.queries import QUERIES

    pd.DataFrame(
        {"doc_id": [7, 3, 9, 5], "text": ["Hello World", " hello world  ", "HELLO WORLD", "other"]}
    ).to_parquet(tmp_path / "documents.parquet")
    rows = QUERIES["dedup_exact"](spark, str(tmp_path)).collect()
    assert sorted((r["representative"], r["n_dups"]) for r in rows) == [(3, 3), (5, 1)]
