#!/usr/bin/env python3
"""Run the benchmark on several seeds and summarise each metric.

    python3 perfbench/repeat.py --workload ann_batch --seeds 1-10 \\
        [--out runs.jsonl]

Runs ``perfbench/run.py`` untraced once per seed, one run at a time, for
the ``run_seconds`` that ``BENCHMARK.json`` fixes, and prints
per metric the median, the quartiles and the spread (interquartile
range over median, from ``statistics.quantiles(values, n=4)``). Each
run's result line is appended to ``--out`` when given, so that two
checkouts (a change and its parent) can be compared run by run.
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


def seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def summarise(results: list[dict]) -> dict:
    table = {}
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(vals)
        if len(vals) >= 2:
            q1, _, q3 = statistics.quantiles(vals, n=4)
        else:
            q1 = q3 = med
        table[name] = {"median": med, "q1": q1, "q3": q3,
                       "spread": (q3 - q1) / med if med else 0.0}
    return table


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = str(json.load(f)["run_seconds"])
    results = []
    for seed in seeds(args.seeds):
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"),
             "--workload", args.workload, "--seed", str(seed),
             "--seconds", seconds, "--trace", "0"],
            capture_output=True, text=True)
        if proc.returncode != 0:
            print(proc.stderr[-2000:], file=sys.stderr)
            return proc.returncode
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        results.append(res)
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps(dict(res, seed=seed,
                                        workload=args.workload)) + "\n")
        print(f"seed {seed}: correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']}",
              file=sys.stderr)
    for name, row in summarise(results).items():
        print(f"{name:36s} median {row['median']:12.4f}  "
              f"q1 {row['q1']:12.4f}  q3 {row['q3']:12.4f}  "
              f"spread {row['spread']:.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
