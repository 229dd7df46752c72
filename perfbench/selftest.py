#!/usr/bin/env python3
"""Self-test of the benchmark at a tiny size (about four minutes).

    python3 perfbench/selftest.py

For each workload it checks that
  * an untraced run is correct and prints exactly the end-to-end metrics of
    BENCHMARK.json, with their units, as its last line;
  * its report line carries the workload's full end-to-end table
    (ENDTOEND_TABLE below) with units;
  * a traced run prints exactly the per-layer metrics of BENCHMARK.json;
  * a run with one deliberately tampered answer (--tamper 1) is caught:
    failed >= 1, correct is false and failed_ops_frac > 0.
Exits non-zero on the first failed check.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# the full end-to-end table of each workload, as the report line names it
ENDTOEND_TABLE = {
    "query_mix": {
        "query_p50_ms": "ms", "query_p95_ms": "ms", "queries_per_s": "queries/s",
        "build_turns_per_s": "turns/s",
        "index_bytes_per_text_byte": "ratio", "retained_heap_mb": "MB", "setup_s": "s",
        "failed_ops_frac": "fraction",
    },
    "ingest_mixed": {
        "query_p50_ms": "ms", "append_p50_ms": "ms", "upsert_p50_ms": "ms",
        "fresh_query_p50_ms": "ms", "compact_p50_ms": "ms", "build_turns_per_s": "turns/s",
        "index_bytes_per_text_byte": "ratio", "retained_heap_mb": "MB", "setup_s": "s",
        "failed_ops_frac": "fraction",
    },
}


def run(workload, trace, tamper="0"):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", trace, "--scale", "tiny",
           "--tamper", tamper]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=600)
    check(r.returncode == 0, "%s trace=%s tamper=%s exited %d" % (workload, trace, tamper, r.returncode))
    lines = r.stdout.strip().splitlines()
    report, result = json.loads(lines[-2]), json.loads(lines[-1])
    check(sorted(result) == ["attempted", "correct", "failed", "metrics"],
          "result keys %s" % sorted(result))
    return report, result


def check(ok, what):
    if not ok:
        sys.exit("selftest FAILED: " + what)


def units(spec):
    return {m["name"]: m["unit"] for m in spec}


def got_units(metrics):
    return {k: v["unit"] for k, v in metrics.items()}


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    e2e, layers = units(bench["end_to_end"]), units(bench["per_layer"])
    for w in [x["name"] for x in bench["workloads"]]:
        report, result = run(w, "0")
        check(result["correct"] and result["failed"] == 0, "%s: untraced run not correct: %s"
              % (w, report["errors"]))
        check(got_units(result["metrics"]) == e2e, "%s: end-to-end metrics %s" % (w, result["metrics"]))
        table = got_units(report["end_to_end"])
        missing = {k: u for k, u in ENDTOEND_TABLE[w].items() if table.get(k) != u}
        check(not missing, "%s: report lacks %s" % (w, missing))
        print("ok  %-13s untraced: %d metrics, %d table rows" % (w, len(result["metrics"]), len(table)))

        report, result = run(w, "1")
        check(result["correct"], "%s: traced run not correct: %s" % (w, report["errors"]))
        check(got_units(result["metrics"]) == layers, "%s: per-layer metrics differ: %s"
              % (w, set(got_units(result["metrics"])) ^ set(layers)))
        print("ok  %-13s traced: %d per-layer metrics" % (w, len(result["metrics"])))

        report, result = run(w, "0", tamper="1")
        frac = report["end_to_end"]["failed_ops_frac"]["value"]
        check(result["failed"] >= 1 and not result["correct"] and frac > 0,
              "%s: tampered answer not caught (failed=%s)" % (w, result["failed"]))
        print("ok  %-13s tampered answer caught: failed=%d, failed_ops_frac=%.3f"
              % (w, result["failed"], frac))
    print("selftest passed")


if __name__ == "__main__":
    main()
