"""Crawl-engine benchmark: run one named workload and print its metrics.

    python3 perfbench/run.py --workload crawl_discover --seed 1 \
        --seconds 10 --trace 0

Run from the repository root.  The last line of standard output is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  Scratch output goes to ``.perfbench_work/`` under the
root and is replaced on the next run.  The command exits non-zero,
printing no result, when the engine cannot be imported from the
checkout.  See README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOAD_NAMES = ("frontier_standing", "crawl_discover", "curate")


def import_engine() -> str | None:
    """Import the engine from this checkout; return an error or None."""
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401
        import spider_man_spark
    except ImportError as e:
        return f"cannot import the engine: {e}"
    where = os.path.dirname(os.path.realpath(spider_man_spark.__file__))
    if where != os.path.realpath(os.path.join(ROOT, "spider_man_spark")):
        return f"spider_man_spark imported from {where}, not from {ROOT}"
    return None


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    err = import_engine()
    if err:
        print(err, file=sys.stderr)
        return 2
    from workloads import run_workload

    result = run_workload(ROOT, args.workload, args.seed, args.seconds,
                          bool(args.trace))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
