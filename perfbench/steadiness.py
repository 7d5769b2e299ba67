"""Run the benchmark on several seeds and record each metric's spread.

    python3 perfbench/steadiness.py --runs 10 --label first --out perfbench/STEADINESS.json

For every workload of ``BENCHMARK.json`` it runs ``run.py`` once per
seed, one run at a time, and records each metric's median and its
spread: the distance between the first and third quartile of the runs'
values (``statistics.quantiles(values, n=4)``) as a share of the median.
The set is stored under ``--label`` in ``--out``, beside earlier sets.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workload", action="append", help="default: all")
    ap.add_argument("--label", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    names = args.workload or [w["name"] for w in bench["workloads"]]
    report = {
        "recorded": time.strftime("%Y-%m-%d %H:%M"),
        "machine": f"{os.cpu_count()} CPUs, {platform.machine()}, Linux {platform.release()}",
        "run_seconds": bench["run_seconds"],
        "trace": args.trace,
        "workloads": {},
    }
    for name in names:
        values: dict[str, list[float]] = {}
        runs = []
        for seed in range(args.first_seed, args.first_seed + args.runs):
            t0 = time.time()
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
                 "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                 "--trace", str(args.trace)],
                cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
            )
            result = json.loads(out.stdout.strip().splitlines()[-1])
            runs.append({"seed": seed, "wall_s": round(time.time() - t0, 1),
                         "correct": result["correct"], "attempted": result["attempted"],
                         "failed": result["failed"]})
            for metric, v in result["metrics"].items():
                values.setdefault(metric, []).append(v["value"])
            print(f"{name} seed {seed}: {runs[-1]}", flush=True)
        report["workloads"][name] = {
            "runs": runs,
            "metrics": {
                metric: {
                    "median": stats.median(v),
                    "spread": stats.spread(v),
                    "bound": bounds.get(metric),
                    "values": v,
                }
                for metric, v in values.items()
            },
        }
        for metric, m in report["workloads"][name]["metrics"].items():
            print(f"  {metric}: median {m['median']:.4g} spread {m['spread']:.3f}"
                  f" bound {m['bound']}", flush=True)
    sets = {}
    if os.path.exists(args.out):
        with open(args.out) as f:
            sets = json.load(f)
    sets[args.label] = report
    with open(args.out, "w") as f:
        json.dump(sets, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
