#!/usr/bin/env python3
"""graft's benchmark of record.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. Builds graft and the harness from
source (perfbench/build.py), generates the workload's inputs from the seed,
runs one benchmark JVM on a `graft.Graft.session(local[nproc], nproc)`,
checks the outputs, and prints one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics of BENCHMARK.json, measured with
no listener attached; `--trace 1` reports its per-layer metrics from a run
with a SparkListener, a QueryExecutionListener and a StreamingQueryListener
attached, and writes that run's spans to `.bench_out/`. A per-layer metric
reads 0 on a workload that does not exercise its layer. See README.md.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # keep the benchmark directory free of build output

import build  # noqa: E402
import tables  # noqa: E402

WORKLOADS = ("live_tail", "wallet_analytics")
RUN_LIMIT_S = 165  # the JVM and the oracle check share it; 180 s is the cap
JVM_OPTS = [
    # a fixed heap keeps the resident high-water mark from following G1's
    # run-to-run heap sizing decisions
    "-Xms3g", "-Xmx3g",
    # matches the repo's own run settings: one compiled class per query
    # stage fills the JDK's default code cache over a pass of heavy queries
    "-XX:ReservedCodeCacheSize=1g",
    # no hsperfdata file outside the checkout
    "-XX:-UsePerfData",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def oracle_check(work, deadline):
    """Hash-mode compare of the measured pass's outputs against the oracle
    SQL, by the repo's own checker. Returns {query: passed}."""
    checker = os.path.join(ROOT, "tools", "check_oracle.py")
    env = dict(os.environ, GRAFT_HASH_MODE="1")
    r = subprocess.run(
        [sys.executable, checker, os.path.join(work, "oracle"),
         os.path.join(work, "out")],
        env=env, capture_output=True, text=True,
        timeout=max(5.0, deadline - time.time()))
    verdict = {}
    for line in r.stdout.splitlines():
        m = re.match(r"(PASS|FAIL) (\w+)", line)
        if m:
            verdict[m.group(2)] = m.group(1) == "PASS"
            if m.group(1) == "FAIL":
                log(line)
    return verdict


def run(args, deadline):
    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        cp, secs = build.build()
        if secs:
            log(f"built in {secs:.1f} s")
        shares = {}
        if args.workload == "wallet_analytics":
            shares = tables.events(args.seed, work)
        cmd = [build.java()] + JVM_OPTS + [
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--cores", str(os.cpu_count() or 1)]
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
        jvm_log = os.path.join(work, "jvm.log")
        with open(jvm_log, "w") as fh:
            p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT,
                                 cwd=work, env=env)
            try:
                p.wait(timeout=max(1.0, deadline - time.time()))
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                raise SystemExit("benchmark JVM ran past the time limit")
        with open(jvm_log) as fh:
            for line in fh:
                if line.startswith("[bench]"):
                    sys.stderr.write(line)
        result_file = os.path.join(work, "result.json")
        if p.returncode != 0 or not os.path.exists(result_file):
            with open(jvm_log) as fh:
                sys.stderr.write(fh.read()[-6000:])
            raise SystemExit(f"benchmark JVM failed (exit {p.returncode})")
        res = json.load(open(result_file))
        attempted, failed = res["attempted"], res["failed"]
        info = res.get("info", {})
        if args.workload == "wallet_analytics":
            verdict = oracle_check(work, deadline)
            info["oracle"] = verdict
            # a first-pass query that ran but does not match its oracle
            failed += sum(1 for q in info["first_pass_ok"]
                          if not verdict.get(q, False))
        info.update(shares)
        out_dir = os.path.join(ROOT, ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        with open(os.path.join(out_dir, f"info-{tag}.json"), "w") as fh:
            json.dump({"info": info, "metrics": res["metrics"]}, fh,
                      indent=1, sort_keys=True)
        if args.trace:
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(out_dir, f"spans-{tag}.jsonl"))
        return attempted, failed, res["metrics"], info
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for need in (os.path.join(ROOT, "src", "main", "scala", "graft"),
                 os.path.join(ROOT, "tools", "check_oracle.py")):
        if not os.path.exists(need):
            raise SystemExit(f"not a graft checkout: {need} is missing")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    # the first run in a checkout also builds
    deadline = time.time() + RUN_LIMIT_S + (
        0 if os.path.exists(os.path.join(build.OUT, "stamp")) else 600)
    attempted, failed, got, info = run(args, deadline)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        if m["name"] in got:
            v = got[m["name"]]["value"]
        elif args.trace:
            v = 0.0  # the workload does not exercise this layer
        else:
            raise SystemExit(f"end-to-end metric {m['name']} not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for k, v in sorted(info.items()):
        if k.endswith("share"):
            log(f"input {k} = {v:.4f}")
    for k, v in sorted(metrics.items()):
        log(f"{k} = {v['value']:.6g} {v['unit']}")
    log(f"attempted {attempted}, failed {failed}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
