"""Expected values for the correctness gate, fixed before timing starts.

Three sources, as the benchmark README describes:
  * the registry's DuckDB oracle SQL (``queries.oracles()``), run once
    per benchmark run over the same parquet files;
  * templated variants of ``SQL_FIND_BOUND_SUBJECT`` for seeded lookups;
  * line counts and order-insensitive checksums recorded in
    ``expected.json`` for outputs no SQL oracle covers (N-Triples dumps,
    xxhash64 MinHash pairs).
"""

from __future__ import annotations

import decimal
import hashlib
import json
import math
import os
import re

from perfbench import data

EX = "http://example.org/"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents", "embeddings"]
EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")

_FIND_BY_NATION = """
SELECT '{ex}' || kind || '/' || CAST(k AS VARCHAR) AS subj,
       '{ex}inNation' AS pred, '{ex}nation/{n}' AS obj,
       CAST(NULL AS VARCHAR) AS obj_datatype, CAST(NULL AS VARCHAR) AS obj_lang,
       FALSE AS is_literal
FROM (SELECT 'customer' AS kind, c_custkey AS k, c_nationkey AS nk FROM customer
      UNION ALL
      SELECT 'supplier', s_suppkey, s_nationkey FROM supplier)
JOIN nation ON nk = n_nationkey
WHERE n_nationkey = {n}
"""


def norm(v):
    if v is None or isinstance(v, bool):
        return v
    if isinstance(v, decimal.Decimal):
        return str(v.normalize())
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return str(v)


def rowset(columns, rows) -> tuple:
    """Order-insensitive canonical form: columns sorted by name, values
    normalised, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = sorted((tuple(norm(r[i]) for i in order) for r in rows), key=repr)
    return tuple(columns[i] for i in order), tuple(out)


def checksum(lines) -> tuple[int, str]:
    """(count, order-insensitive checksum): the sum mod 2**64 of each
    line's 8-byte BLAKE2b digest."""
    n, acc = 0, 0
    for line in lines:
        n += 1
        acc += int.from_bytes(hashlib.blake2b(line.encode(), digest_size=8).digest(), "big")
    return n, f"{acc % (1 << 64):016x}"


def read_text_dir(path: str):
    for name in sorted(os.listdir(path)):
        if name.startswith("part-"):
            with open(os.path.join(path, name), encoding="utf-8") as f:
                for line in f:
                    yield line.rstrip("\n")


def rows_as_lines(columns, rows):
    _, canon = rowset(columns, rows)
    return ["\t".join(map(repr, r)) for r in canon]


def find_subject_sql(key: int) -> str:
    from ont_d2rq_spark.queries import SQL_FIND_BOUND_SUBJECT

    sql, n1 = re.subn(r"c_custkey = 7\b", f"c_custkey = {key}", SQL_FIND_BOUND_SUBJECT)
    sql, n2 = re.subn(r"customer/7'", f"customer/{key}'", sql)
    if n1 != 1 or n2 < 1:
        raise RuntimeError("SQL_FIND_BOUND_SUBJECT no longer has the customer/7 shape")
    return sql


def find_by_nation_sql(nation: int) -> str:
    return _FIND_BY_NATION.format(ex=EX, n=nation)


class Oracle:
    """DuckDB views over the benchmark's parquet tables."""

    def __init__(self, data_dir: str):
        import duckdb

        self.con = duckdb.connect()
        for t in TABLES:
            self.con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )

    def rows(self, sql: str) -> tuple:
        rel = self.con.sql(sql)
        return rowset(list(rel.columns), rel.fetchall())

    def close(self) -> None:
        self.con.close()


def load_expected(scale: float) -> dict:
    with open(EXPECTED_PATH) as f:
        table = json.load(f)
    if data.key(scale) not in table:
        raise RuntimeError(f"expected.json has no entry for {data.key(scale)}")
    return table[data.key(scale)]
