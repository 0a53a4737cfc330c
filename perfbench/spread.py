#!/usr/bin/env python3
"""Steadiness check: runs the benchmark once per seed and reports, per
end-to-end metric, the inter-quartile spread as a share of the median
against the metric's bound (the acceptance rule for BENCHMARK.json).

    python3 perfbench/spread.py --workload flagship --seeds 1-10
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="first-last, inclusive")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    lo, hi = (int(x) for x in args.seeds.split("-"))
    values = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in range(lo, hi + 1):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", args.workload, "--seed", str(seed),
                            "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                           cwd=ROOT, capture_output=True, text=True)
        if p.returncode != 0:
            sys.exit(f"seed {seed} failed:\n{p.stderr[-2000:]}")
        lines = p.stdout.strip().splitlines()
        context, result = json.loads(lines[-2])["context"], json.loads(lines[-1])
        if not result["correct"]:
            sys.exit(f"seed {seed}: incorrect output: {p.stdout[-2000:]}")
        for k, v in result["metrics"].items():
            values[k].append(v["value"])
        print(json.dumps({"seed": seed, "cpu_steal_share": context["cpu_steal_share"],
                          **{k: v["value"] for k, v in result["metrics"].items()}}), flush=True)
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        spread = stats.quartile_spread(xs) if len(xs) >= 2 else float("nan")
        print(f"{m['name']:32s} median {stats.median(xs):14.6g}  spread {spread:7.4f}  "
              f"bound {m['bound']:.3f}  {'ok' if spread < m['bound'] / 3 else 'WIDE'}")


if __name__ == "__main__":
    main()
