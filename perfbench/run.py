"""Benchmark entry point.

    python3 perfbench/run.py --workload warehouse_sql --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of this repository. Prints a report line
(run context, every metric by name and unit, output checks) and, as the
last line, the result record ``{"correct", "attempted", "failed",
"metrics"}``: end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``. ``--workload all`` runs every workload in turn, each
in its own process. Exits non-zero without a result when the engine
package is not next to this directory.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOAD_NAMES = ("warehouse_sql", "llm_corpus", "event_stream")


def parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=(*WORKLOAD_NAMES, "all"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="tiny: smoke-test inputs, not for measurement")
    return p.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "flink_1_19_source_spark", "__init__.py")):
        print(f"engine package flink_1_19_source_spark not found under {ROOT}", file=sys.stderr)
        return 2
    if args.workload == "all":
        rc = 0
        for name in WORKLOAD_NAMES:
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(args.trace), "--size", args.size]
            rc = max(rc, subprocess.run(cmd, cwd=ROOT).returncode)
        return rc
    sys.path.insert(0, ROOT)
    from perfbench.harness import run
    from perfbench.workloads import WORKLOADS

    result, report = run(WORKLOADS[args.workload], args.seed, args.seconds,
                         bool(args.trace), args.size, ROOT, T_PROCESS)
    print(json.dumps({"report": report}, default=str))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
