#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each metric's spread.

Usage (from the root of a graft checkout):
  python3 perfbench/spread.py --workload dq_fact --seeds 1-10 [--seconds 12] [--trace 0]

For every metric it prints the median over the runs and the distance
between the first and third quartile as a share of the median
(`statistics.quantiles(values, n=4)`), plus each run's wall-clock time.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="12")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    runs = []
    for seed in seeds(args.seeds):
        t0 = time.time()
        out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", args.workload,
                              "--seed", str(seed), "--seconds", args.seconds,
                              "--trace", args.trace],
                             capture_output=True, text=True)
        took = time.time() - t0
        if out.returncode != 0:
            sys.stderr.write(out.stderr[-3000:])
            raise SystemExit(f"seed {seed}: exit {out.returncode}")
        res = json.loads(out.stdout.strip().splitlines()[-1])
        runs.append(res)
        vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                        if not k.startswith("op."))
        print(f"seed {seed}: {took:.1f} s correct={res['correct']} failed={res['failed']} {vals}",
              flush=True)
        walls = [ln for ln in out.stderr.splitlines() if "pass walls" in ln]
        print("   " + (walls[-1].split("pass walls", 1)[1] if walls else ""), flush=True)
    print(f"{args.workload}: {len(runs)} runs")
    for name in runs[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(values)
        q = statistics.quantiles(values, n=4) if len(values) > 1 else [med, med, med]
        spread = (q[2] - q[0]) / med if med else 0.0
        print(f"  {name:28s} median {med:12.5g}  spread {spread:7.4f}")


if __name__ == "__main__":
    main()
