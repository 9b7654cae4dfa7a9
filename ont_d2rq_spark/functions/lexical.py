"""Canonical RDF literal lexical forms per Spark type.

Re-expresses D2RQ's SQL-type → XSD-datatype mapping (reference layout:
src/main/java/de/fuberlin/wiwiss/d2rq/sql/types/*.java; SURVEY.md §1.2).
All formatting is Catalyst expressions — no Python in the row path.
Centralized here so golden N-Triples fixtures have one source of truth
(SURVEY.md §7 hard-parts register #2).
"""

from __future__ import annotations

from typing import Optional, Tuple

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

XSD = "http://www.w3.org/2001/XMLSchema#"


def datatype_for(dt: T.DataType) -> Optional[str]:
    """XSD datatype URI for a Spark type; None ⇒ plain string literal."""
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return XSD + "integer"
    if isinstance(dt, T.DecimalType):
        return XSD + "decimal"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return XSD + "double"
    if isinstance(dt, T.BooleanType):
        return XSD + "boolean"
    if isinstance(dt, T.DateType):
        return XSD + "date"
    if isinstance(dt, T.TimestampType):
        return XSD + "dateTime"
    if isinstance(dt, T.BinaryType):
        return XSD + "hexBinary"
    if isinstance(dt, T.DayTimeIntervalType):
        return XSD + "duration"
    return None  # StringType and unknowns → plain literal


def lexical_expr(col: Column, dt: T.DataType) -> Tuple[Column, Optional[str]]:
    """(canonical lexical-form string column, XSD datatype URI or None).

    Canonical forms (pinned by tests/test_features.py::test_lexical_forms):
      integer   → decimal digits, no '+' (SQLExactNumeric)
      decimal   → plain notation as rendered by Spark's decimal→string
      double    → Java Double.toString-style (Spark double→string cast)
      boolean   → 'true' / 'false'
      date      → yyyy-MM-dd
      dateTime  → yyyy-MM-ddTHH:mm:ss[.fff] (trailing fraction zeros trimmed)
      hexBinary → uppercase hex (SQLBinary hex-encodes)
      CHAR      → caller applies rtrim via mapping column override
    """
    datatype = datatype_for(dt)
    if isinstance(dt, T.BooleanType):
        return F.when(col, F.lit("true")).otherwise(F.lit("false")), datatype
    if isinstance(dt, T.DateType):
        return F.date_format(col, "yyyy-MM-dd"), datatype
    if isinstance(dt, T.TimestampType):
        # canonical xsd:dateTime: seconds always present, sub-second only
        # when non-zero (regexp strips trailing zero fraction).
        s = F.date_format(col, "yyyy-MM-dd'T'HH:mm:ss.SSS")
        s = F.regexp_replace(s, r"\.?0+$", "")
        return s, datatype
    if isinstance(dt, T.BinaryType):
        return F.hex(col), datatype
    return col.cast("string"), datatype
