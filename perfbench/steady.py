#!/usr/bin/env python3
"""Steadiness runner: repeat the benchmark and show how far its
end-to-end metrics move between runs of the same code.

    python3 perfbench/steady.py --workload query_mix [--runs 10] [--seconds 10]
                                [--first-seed 1]

Each run gets its own seed (first-seed, first-seed+1, ...). For every
metric it prints the median, the first and third quartiles
(statistics.quantiles(n=4)), the quartile spread as a share of the
median, and the largest deviation from the median, plus the failed
share of every run and each run's wall time. The bounds in
BENCHMARK.json are set from this output.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    values, shares = {}, []
    for i in range(a.runs):
        seed = a.first_seed + i
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", a.workload, "--seed", str(seed),
                            "--seconds", str(a.seconds), "--trace", "0"],
                           capture_output=True, text=True)
        if p.returncode != 0:
            sys.stderr.write(p.stderr[-3000:])
            raise SystemExit(f"run with seed {seed} failed")
        res = json.loads(p.stdout.strip().splitlines()[-1])
        shares.append(res["failed"] / res["attempted"])
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(f"seed {seed} ({time.time() - t0:.0f} s): correct={res['correct']} "
              f"attempted={res['attempted']} "
              f"failed={res['failed']} " +
              " ".join(f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()),
              flush=True)
    print(f"\n{'metric':16s} {'median':>10s} {'q1':>10s} {'q3':>10s} "
          f"{'iqr/med':>8s} {'maxdev':>8s}")
    for k, v in values.items():
        med = statistics.median(v)
        q1, _, q3 = statistics.quantiles(v, n=4)
        print(f"{k:16s} {med:10.4g} {q1:10.4g} {q3:10.4g} "
              f"{(q3 - q1) / med:8.3f} {max(abs(x - med) for x in v) / med:8.3f}")
    print(f"failed share per run: {sorted(set(shares))}")


if __name__ == "__main__":
    main()
