#!/usr/bin/env python3
"""Run one workload over several seeds and report, per metric, the median
and the quartile spread (Q3 - Q1) / median next to the metric's bound.

    python3 perfbench/spread.py <workload> [--seeds 1-10] [--trace 0]

Each run is a separate `run.py` process, exactly as the benchmark is
driven; per-run results are appended to .bench_out/spread-<workload>.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("workload")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    out = os.path.join(ROOT, ".bench_out", f"spread-{args.workload}.jsonl")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    values = {}
    for seed in seeds(args.seeds):
        t0 = time.time()
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"),
             "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(spec["run_seconds"]), "--trace", args.trace],
            cwd=ROOT, capture_output=True, text=True)
        wall = time.time() - t0
        if r.returncode != 0:
            print(f"seed {seed}: exit {r.returncode}\n{r.stderr[-3000:]}")
            continue
        res = json.loads(r.stdout.strip().splitlines()[-1])
        with open(out, "a") as fh:
            fh.write(json.dumps({"seed": seed, "wall_s": wall, **res}) + "\n")
        print(f"seed {seed}: {wall:.1f} s wall, correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        if len(vs) < 2:
            continue
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        sp = (q3 - q1) / med if med else float("inf")
        b = bounds.get(k)
        flag = "" if b is None else ("  ok" if sp < b / 3 else
                                     ("  within bound" if sp <= b else "  OVER"))
        print(f"{k:28s} median {med:12.5g}  spread {sp:6.3f}"
              + (f"  bound {b}" if b is not None else "") + flag)


if __name__ == "__main__":
    main()
