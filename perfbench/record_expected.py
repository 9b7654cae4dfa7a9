"""Record the expected outputs that no SQL oracle covers.

    python3 perfbench/record_expected.py

Writes ``expected.json``: for each data scale the benchmark runs at, the
line count and order-insensitive checksum of the N-Triples dump and of
the xxhash64 MinHash pairs.  Run it only when the generated data
(``data.VERSION``) or the intended program output changes; both dump
modes must agree before anything is written.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALES = (1.0, 0.1)


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench import harness

    harness.isolate_scratch(ROOT)
    from ont_d2rq_spark.examples import tpch_mapping
    from ont_d2rq_spark.graph import VirtualGraph
    from ont_d2rq_spark.operators.dedup import minhash_dedup
    from ont_d2rq_spark.session import get_spark, ship_package
    from ont_d2rq_spark.sources.tables import balanced_read
    from perfbench import data, oracle, workloads

    work = os.path.join(ROOT, "perfbench", "_work")
    spark = get_spark(app="perfbench-record", master=f"local[{len(os.sched_getaffinity(0))}]")
    ship_package(spark)
    table = {}
    try:
        for scale in SCALES:
            data_dir = data.ensure(os.path.join(work, "data"), scale)
            sums = []
            for distinct in ("auto", True):
                out = os.path.join(work, "record-dump")
                g = VirtualGraph(tpch_mapping(data_dir), spark)
                g.dump_nt(out, g.triples(fuse=True, distinct=distinct))
                sums.append(list(oracle.checksum(oracle.read_text_dir(out))))
                shutil.rmtree(out)
            if sums[0] != sums[1]:
                raise RuntimeError(f"dump modes disagree at scale {scale}: {sums}")
            docs = balanced_read(spark, f"{data_dir}/documents.parquet")
            df = minhash_dedup(docs, hash_family="xxhash64", **workloads.MINHASH)
            pairs = oracle.checksum(oracle.rows_as_lines(df.columns, df.collect()))
            table[data.key(scale)] = {"dump": sums[0], "minhash_xxhash64": list(pairs)}
            print(data.key(scale), table[data.key(scale)], flush=True)
    finally:
        spark.stop()
    with open(oracle.EXPECTED_PATH, "w") as f:
        json.dump(table, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
