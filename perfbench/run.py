#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <tile_pipeline|geo_join|ingest_query>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The engine and the benchmark are compiled
from source on first use (see build.py); one JVM then runs the workload at
local[nproc]. With --trace 0 the result carries the end-to-end metrics,
with --trace 1 the per-layer metrics of the traced rounds (which alternate
with untraced ones). A context/detail
JSON line (run context, the workload's own named metrics, output digests,
failures) precedes the result line. Scratch files live under .bench_tmp/.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("tile_pipeline", "geo_join", "ingest_query")
TMP = ".bench_tmp"
# A run must end within 180 s; the JVM is killed before that.
TIMEOUT_S = 170.0
# Fixed, pre-touched heap: resident memory does not drift with how far the
# collector happened to grow the heap, so peak_rss_mb repeats run to run.
HEAP_FLAGS = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch"]
# no hsperfdata file outside the checkout
NO_PERF_DATA = "-XX:-UsePerfData"
# Spark on JDK 17 outside spark-submit needs these (JavaModuleOptions).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile("build.sbt") and os.path.isdir(os.path.join("src", "main", "scala"))):
        build.fail("run from the repository root (build.sbt and src/main/scala not found)")
    cp = build.ensure_built()
    t_run = time.time()

    work = os.path.abspath(os.path.join(TMP, f"{a.workload}-{os.getpid()}"))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    result = os.path.join(work, "result.json")
    log4j = os.path.join(os.path.dirname(os.path.abspath(__file__)), "log4j2.properties")
    cmd = ["java", *HEAP_FLAGS, NO_PERF_DATA, "-Xss16m", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j.configurationFile={log4j}",
           *ADD_OPENS, "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--out", result, "--work", work]
    # SIGTERM becomes SystemExit, so the handler below stops the JVM too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(10.0, TIMEOUT_S - (t_run - t_start)))
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        build.fail("workload timed out or was interrupted")
    sys.stdout.write(out)
    ok = proc.returncode == 0 and os.path.exists(result)
    line = open(result).read().strip() if ok else ""
    shutil.rmtree(work, ignore_errors=True)
    if not ok:
        build.fail(f"workload JVM exited with code {proc.returncode} and no result")
    print(line, flush=True)


if __name__ == "__main__":
    main()
