#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, as a later change is judged.

    python3 graftbench/spread.py --workload shard_report --seeds 1-10 --seconds 15

Runs run.py once per seed (one run at a time) and prints, per metric, the
median of the runs and the spread: the distance between the first and third
quartile (statistics.quantiles, n=4) as a share of the median. Appends each
run's result line to --out when given.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="15")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out")
    a = ap.parse_args()
    values = {}
    for seed in seeds(a.seeds):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             a.workload, "--seed", str(seed), "--seconds", a.seconds,
             "--trace", a.trace],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: run failed (exit {p.returncode})")
            continue
        diag = next((l for l in lines if l.startswith("graftbench diag")), "")
        res = json.loads(lines[-1])
        if a.out:
            with open(a.out, "a") as fh:
                fh.write(json.dumps({"workload": a.workload, "seed": seed,
                                     "result": res, "diagnostics": diag})
                         + "\n")
        print(f"seed {seed}: correct={res['correct']} " + " ".join(
            f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()),
            flush=True)
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    for k, vs in values.items():
        if len(vs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vs, n=4)
        print(f"{k}: median {statistics.median(vs):.6g} "
              f"spread {(q3 - q1) / statistics.median(vs):.4f} (n={len(vs)})")


if __name__ == "__main__":
    main()
