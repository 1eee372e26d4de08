#!/usr/bin/env python3
"""Runs the benchmark on several seeds and reports, per end-to-end metric,
the median, the quartiles and the spread (quartile distance over median)
against the metric's bound in BENCHMARK.json.

    python3 iotbench/steady.py <workload> <runs> [first_seed]
"""
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main():
    workload, runs = sys.argv[1], int(sys.argv[2])
    first = int(sys.argv[3]) if len(sys.argv) > 3 else 1
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values, shares, correct = {}, [], True
    for seed in range(first, first + runs):
        out = subprocess.run(
            bench["command"] + ["--workload", workload, "--seed", str(seed),
                                "--seconds", str(bench["run_seconds"]),
                                "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True)
        r = json.loads(out.stdout.strip().splitlines()[-1])
        correct &= r["correct"]
        shares.append(r["failed"] / r["attempted"])
        for k, v in r["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
            flush=True)
    print(f"{workload}: {runs} runs, correct={correct}, "
          f"failed shares={sorted(set(shares))}")
    for k, xs in values.items():
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med
        print(f"  {k:12s} median {med:10.4f}  q1 {q1:10.4f}  q3 {q3:10.4f}  "
              f"spread {spread:6.3f}  bound {bounds[k]:.2f}  "
              f"{'ok' if spread < bounds[k] / 3 else 'WIDE'}")


if __name__ == "__main__":
    main()
