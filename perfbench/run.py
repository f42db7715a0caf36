"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Prints diagnostics on stderr and, as the
last line of stdout, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``).  Exits non-zero when any operation
failed or returned a wrong result, and when the package under test is
missing.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join("flink_big_query_connector_spark", "__init__.py")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="input size; 'tiny' is for the benchmark's own test")
    p.add_argument("--corrupt", choices=("readback", "scan"), default=None,
                   help="falsify one checked result (tests the checks)")
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: program under test not found: no {PACKAGE} "
              f"under {ROOT}", file=sys.stderr)
        return 2
    # import the benchmark as a package from the checkout root, and keep
    # its module names from shadowing anything on the path
    sys.path[:] = [ROOT] + [
        x for x in sys.path if os.path.abspath(x or os.curdir) != HERE
    ]
    from perfbench import catalog, harness

    if args.workload not in catalog.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{', '.join(catalog.WORKLOADS)}", file=sys.stderr)
        return 2
    result = harness.run(
        ROOT, args.workload, args.seed, args.seconds, bool(args.trace),
        args.scale, args.corrupt,
    )
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
