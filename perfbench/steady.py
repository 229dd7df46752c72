#!/usr/bin/env python3
"""Steadiness check: runs one workload once per seed (untraced) and prints,
for each end-to-end metric, the median of the runs and the distance
between the first and third quartile as a share of that median
(`statistics.quantiles(values, n=4)`), next to the metric's bound in
BENCHMARK.json. A spread should stay well below its bound (setup_s is
exempt from the spread rule).

    python3 perfbench/steady.py query_mix 1 2 3 4 5 6 7 8 9 10
    python3 perfbench/steady.py ingest_mixed --seconds 10 101 102 103

Each run's result line is appended to .bench_build/steady-<workload>.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # keep perfbench/ free of build output
import build  # noqa: E402


def main():
    p = argparse.ArgumentParser()
    p.add_argument("workload")
    p.add_argument("seeds", nargs="+", type=int)
    p.add_argument("--seconds", type=int)
    a = p.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    seconds = a.seconds or bench["run_seconds"]
    log = os.path.join(build.build_dir(), "steady-%s.jsonl" % a.workload)
    os.makedirs(os.path.dirname(log), exist_ok=True)
    values = {}
    for seed in a.seeds:
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        if r.returncode != 0:
            sys.exit("seed %d: run failed (exit %d)" % (seed, r.returncode))
        lines = r.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        with open(log, "a") as fh:
            fh.write(json.dumps({"seed": seed, "report": json.loads(lines[-2]), "result": result}) + "\n")
        print("seed %d: correct=%s %s" % (seed, result["correct"], {
            k: round(v["value"], 4) for k, v in result["metrics"].items()}), flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    if len(a.seeds) < 2:
        return
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for k, xs in values.items():
        q = statistics.quantiles(xs, n=4)
        med = statistics.median(xs)
        print("%-28s median=%-12.6g spread=%.4f bound=%s" % (k, med, (q[2] - q[0]) / med, bounds.get(k)))


if __name__ == "__main__":
    main()
