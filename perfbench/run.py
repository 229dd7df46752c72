#!/usr/bin/env python3
"""Benchmark of the search engine: builds the engine from source, runs one
workload in a fresh JVM and prints its result.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 20 --trace 0

Workloads: query_mix (the read path) and ingest_mixed (commits beside
reads); see perfbench/README.md. The last line of standard output is one
JSON object with the keys correct, attempted, failed and metrics: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
The line before it is the full report (host header, every end-to-end
figure, per-layer detail). Spark's logs go to standard error.

Extra flags for the self-test: --scale tiny (small corpora) and --tamper 1
(corrupt one answer before it is checked).

Everything the run writes stays under the build dir (.bench_build, or
CARGO_TARGET_DIR): the compiled classes, one scratch dir per run that is
removed at exit, and the span files of traced runs under traces/.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # keep perfbench/ free of build output
import build  # noqa: E402

TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def git_commit():
    try:
        r = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=["query_mix", "ingest_mixed"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", choices=["0", "1"], required=True)
    p.add_argument("--scale", choices=["full", "tiny"], default="full")
    p.add_argument("--tamper", choices=["0", "1"], default="0")
    a = p.parse_args()

    cp, sha = build.build()
    out = build.build_dir()
    work = os.path.join(out, "run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java"] + [x for o in ADD_OPENS for x in ("--add-opens", o + "=ALL-UNNAMED")] +
           ["-Xmx" + HEAP, "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--scale", a.scale, "--tamper", a.tamper,
            "--work", work, "--trace-dir", os.path.join(out, "traces"),
            "--commit", git_commit(), "--source-hash", sha])
    proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE,
                            start_new_session=True, text=True)
    try:
        stdout, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit("perfbench: run exceeded %d s" % TIMEOUT_S)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        raise
    shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(stdout)
    sys.stdout.flush()
    if proc.returncode != 0:
        sys.exit("perfbench: benchmark JVM exited with %d" % proc.returncode)


if __name__ == "__main__":
    main()
