"""One way to reuse a frame: ``checkpoint.stored`` fills it at once,
and it is the package's only local checkpoint."""

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from conftest import assert_filled
from ont_d2rq_spark.checkpoint import stored

PACKAGE = Path(__file__).resolve().parents[1] / "ont_d2rq_spark"


def test_local_checkpoint_only_in_checkpoint_module():
    users = sorted(
        str(p.relative_to(PACKAGE))
        for p in PACKAGE.rglob("*.py")
        if "localCheckpoint" in p.read_text()
    )
    assert users == ["checkpoint.py"]


def test_stored_frame_is_filled_and_a_lazy_one_is_not(spark):
    df = spark.range(100).groupBy((F.col("id") % 7).alias("k")).count()
    assert_filled(stored(df))
    with pytest.raises(AssertionError, match="unfilled checkpoint leaves"):
        assert_filled(df.localCheckpoint(eager=False))
