"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload event_stream --seeds 1-10 [--seconds 10]

Runs the benchmark once per seed (untraced), then prints, per metric, the
median and the distance between the first and third quartile as a share
of the median -- the figure a metric's regression bound must exceed --
plus each run's wall time.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import stats  # noqa: E402


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    p.add_argument("--seconds", default="10")
    a = p.parse_args(argv)
    first, last = (int(x) for x in a.seeds.split("-"))
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    values: dict[str, list[float]] = {}
    walls, bad = [], 0
    for seed in range(first, last + 1):
        t = time.monotonic()
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", a.workload, "--seed", str(seed),
             "--seconds", a.seconds, "--trace", "0"],
            cwd=root, capture_output=True, text=True)
        walls.append(time.monotonic() - t)
        lines = out.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if out.returncode == 0 and lines else None
        if res is None or not res["correct"]:
            bad += 1
            print(f"seed {seed}: rc={out.returncode} result={res}", flush=True)
            continue
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(f"seed {seed}: wall={walls[-1]:.1f}s " +
              " ".join(f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()), flush=True)
    for k, v in values.items():
        if len(v) >= 2:
            print(f"{k}: n={len(v)} median={stats.median(v):.6g} spread={stats.quartile_spread(v):.4f}")
    print(f"wall: median={stats.median(walls):.1f}s max={max(walls):.1f}s failed_runs={bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
