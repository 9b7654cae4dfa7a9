"""Oracle parity: run every ``queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet tables, and
compare columns, row count and order-insensitive normalized values.
``tests/test_oracles.py`` runs the same check on every registry key.

Usage: python tools/check_oracles.py [name ...]
  data: $ORACLE_SF_DIR (default: the sf0.01 test tables)
"""

from __future__ import annotations

import decimal
import math
import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
if __name__ == "__main__":
    # as a script, this directory would shadow the stdlib ``profile``
    # module that cProfile (imported by pyspark) loads
    sys.path[0] = str(REPO)

SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, decimal.Decimal):
        return str(v.normalize())
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(round(v, 9))
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return str(v)


def rowset(df_pandas):
    cols = sorted(df_pandas.columns)
    out = []
    for _, row in df_pandas[cols].iterrows():
        out.append(tuple(norm(v) for v in row))
    return sorted(out, key=repr), cols  # repr-key: rows may hold None/bool/str mixes


def connect(sf_dir: str):
    """DuckDB connection with one view per parquet table of ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def mismatch(con, name: str, sdf) -> str | None:
    """None when ``sdf``, registry query ``name``'s Spark frame,
    returns the rows its DuckDB oracle returns, else what differs.
    Errors of either engine propagate."""
    import __spark_entry__ as entry_mod

    ddf = con.sql(entry_mod.oracle_sql()[name]).df()
    srows, scols = rowset(sdf.toPandas())
    drows, dcols = rowset(ddf)
    if scols != dcols:
        return f"columns spark={scols} duck={dcols}"
    if len(srows) != len(drows):
        return f"rows spark={len(srows)} duck={len(drows)}"
    if srows != drows:
        diff = [(a, b) for a, b in zip(srows, drows) if a != b][:3]
        return f"value mismatch, first diffs: {diff}"
    return None


def main():
    import __spark_entry__ as entry_mod
    from ont_d2rq_spark.session import get_spark

    spark = get_spark(app="check_oracles")  # local[<available CPUs>]
    con = connect(SF_DIR)
    names = sys.argv[1:] or list(entry_mod.queries())
    failures = []
    for name in names:
        try:
            why = mismatch(con, name, entry_mod.queries()[name](spark, SF_DIR))
        except Exception as e:
            why = f"{type(e).__name__}: {e}"
        if why:
            failures.append(name)
            print(f"FAIL  {name}: {why}")
        else:
            print(f"ok    {name}")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
