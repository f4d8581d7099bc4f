#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload cdc_rebuild --runs 10 --first-seed 1

Runs the benchmark once per seed (seeds first-seed .. first-seed+runs-1,
one after another), then prints for every end-to-end metric its median
and its spread: the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median. The
summary goes to stdout as JSON; ``--out`` also writes it to a file.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics as M  # noqa: E402


def spread(values: list) -> float:
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def run_once(workload: str, seed: int, seconds: float) -> dict:
    cmd = [
        sys.executable,
        os.path.join(HERE, "run.py"),
        "--workload", workload,
        "--seed", str(seed),
        "--seconds", str(seconds),
        "--trace", "0",
    ]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise RuntimeError(f"{workload} seed {seed} exited {out.returncode}")
    lines = out.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    res["calibration_s"] = json.loads(lines[-2])["context"]["calibration_s"]
    return res


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--seconds", type=float)
    p.add_argument("--out")
    args = p.parse_args()
    if args.seconds is None:
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            args.seconds = json.load(f)["run_seconds"]
    runs = []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        res = run_once(args.workload, seed, args.seconds)
        runs.append(res)
        print(f"seed {seed}: " + json.dumps(
            {k: round(v["value"], 4) for k, v in res["metrics"].items()}
        ), file=sys.stderr)
    summary = {
        "workload": args.workload,
        "seeds": list(range(args.first_seed, args.first_seed + args.runs)),
        "seconds": args.seconds,
        "all_correct": all(r["correct"] for r in runs),
        "attempted": sum(r["attempted"] for r in runs),
        "failed": sum(r["failed"] for r in runs),
        "calibration_s": [r["calibration_s"] for r in runs],
        "metrics": {},
    }
    for name, _unit, _better, bound in M.END_TO_END:
        vals = [r["metrics"][name]["value"] for r in runs]
        summary["metrics"][name] = {
            "median": statistics.median(vals),
            "spread": spread(vals),
            "bound": bound,
            "values": vals,
        }
    text = json.dumps(summary, indent=1)
    print(text)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
