"""ontspark benchmark: one workload run, one JSON result line.

    python3 perfbench/run.py --workload graph --seed 1 --seconds 20 --trace 0

Run from the repository root.  The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``: end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``.  Exits non-zero when
an operation fails or returns a wrong result, and when the program is
not importable.  Everything the run writes stays under
``perfbench/_work``.  See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["graph", "kg_build"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=None,
                    help="data scale, 1.0 = sf0.01 row counts (default: the workload's)")
    ap.add_argument("--corrupt-first", dest="corrupt", action="store_true",
                    help="self-test only: corrupt the first measured result")
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import ont_d2rq_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    from perfbench import harness

    harness.isolate_scratch(ROOT)
    result, code = harness.run(args, ROOT, T_START)
    for name, m in result["metrics"].items():
        print(f"perfbench: {name} = {m['value']:.6g} {m['unit']}", file=sys.stderr)
    sys.stdout.flush()
    print(json.dumps(result), flush=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
