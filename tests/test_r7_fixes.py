"""Zoned date-accessor semantics and the seeded-closure broadcast guard."""

import pytest
from pyspark.sql import functions as F


def test_date_accessors_zoned_literals(spark):
    """SPARQL 17.4.5 / XPath accessors return the component of the
    value's OWN timezone; the session-tz cast must not shift it."""
    from ont_d2rq_spark.graph import resolver
    from ont_d2rq_spark.sparql import _P, to_column

    def col(text):
        return to_column(_P(text)._expression(), resolver(()))

    cases = [
        ("HOURS('2011-01-10T14:45:13.815-05:00')", 14),
        ("MINUTES('2011-01-10T10:15:00+05:30')", 15),
        ("YEAR('2011-01-01T00:30:00+05:30')", 2011),
        ("DAY('2011-01-01T00:30:00+05:30')", 1),
        ("HOURS('2011-01-10T14:45:13Z')", 14),
        ("HOURS('2011-01-10T14:45:13')", 14),  # zone-less unchanged
        ("MONTH('1995-07-16')", 7),  # xsd:date unchanged
    ]
    row = spark.range(1).select(
        *[col(e).alias(f"c{i}") for i, (e, _) in enumerate(cases)]
    ).first()
    for i, (e, want) in enumerate(cases):
        assert row[f"c{i}"] == want, e
    sec = col("SECONDS('2011-01-10T00:00:13.500-05:00')")
    from decimal import Decimal

    assert spark.range(1).select(sec.alias("s")).first()["s"] == Decimal("13.500")


def _chain_edges(spark, n=6):
    rows = [(f"n{i}", f"n{i+1}") for i in range(n)]
    return spark.createDataFrame(rows, "src string, dst string")


def test_closure_from_broadcast_guarded(spark):
    """closure_from only self-hints broadcast while the reached count
    stays under the row cap (an unconditional hint would force-ship a
    hub's multi-million-row reach set past autoBroadcastJoinThreshold)."""
    from ont_d2rq_spark.operators.closure import closure_from

    e = _chain_edges(spark)
    probe = spark.createDataFrame([(f"n{i}",) for i in range(7)], "dst string")

    out = closure_from(e, "n0")
    assert out is not None and out.count() == 6
    # the hint only survives into a consuming join's plan
    plan = probe.join(out, "dst")._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" in plan

    capped = closure_from(e, "n0", broadcast_rows=2)
    assert capped is not None and capped.count() == 6
    plan2 = probe.join(capped, "dst")._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in plan2
