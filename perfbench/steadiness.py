#!/usr/bin/env python3
"""Steadiness report: runs each workload with several seeds and prints,
per end-to-end metric, the median, the quartiles and the spread
(inter-quartile distance over the median) next to the metric's bound.

    python3 perfbench/steadiness.py [--runs 10] [--first-seed 1] [workload ...]

Workloads default to those in BENCHMARK.json; run length is its
run_seconds. Each run is a fresh `run.py` process, one at a time.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def main():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("workloads", nargs="*", default=[w["name"] for w in bench["workloads"]])
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok = True
    for w in a.workloads:
        values = {}
        for seed in range(a.first_seed, a.first_seed + a.runs):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", str(seed),
                   "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            res = json.loads(r.stdout.strip().splitlines()[-1]) if r.stdout.strip() else None
            if r.returncode != 0 or not res or not res["correct"]:
                print(f"{w} seed {seed}: FAILED (exit {r.returncode})")
                ok = False
                continue
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{w} seed {seed}: " + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  flush=True)
        print(f"\n{w}: {a.runs} runs")
        print(f"{'metric':<14}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>8}")
        for k, vs in values.items():
            if len(vs) < 2:
                continue
            q1, _, q3 = statistics.quantiles(vs, n=4)
            sp = stats.spread(vs)
            flag = "" if k == "setup_s" or sp <= bounds[k] / 3 else "  <- above bound/3"
            print(f"{k:<14}{statistics.median(vs):>12.4g}{q1:>12.4g}{q3:>12.4g}{sp:>9.3f}{bounds[k]:>8}{flag}")
        print()
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
