#!/usr/bin/env python3
"""Run the benchmark once per seed and report, for each metric, the median
and the interquartile spread as a share of the median (``statistics.quantiles``
with ``n=4``). This is how a benchmark change is checked for steadiness: each
end-to-end metric's spread should stay well inside its bound in
``BENCHMARK.json``.

    python3 perfbench/spread.py --workload store_maintenance --seeds 1-5
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_of(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    values: dict[str, list[float]] = {}
    for seed in seeds_of(args.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"),
               "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                             check=True).stdout
        result = json.loads(out.strip().splitlines()[-1])
        if not result["correct"]:
            print(f"seed {seed}: INCORRECT {result}", file=sys.stderr)
            return 1
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(json.dumps({"seed": seed, **{k: v["value"] for k, v in
                                          result["metrics"].items()}}),
              flush=True)

    report = {}
    for name, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4)
        report[name] = {
            "median": med,
            "spread": (q3 - q1) / med if med else None,
            "bound": bounds.get(name),
        }
    print(json.dumps({"workload": args.workload, "runs": len(xs),
                      "metrics": report}, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
