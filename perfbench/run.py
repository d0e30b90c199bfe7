#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the nats_scan engine.

    python3 perfbench/run.py --workload scan_decode --seed 1 --seconds 10 --trace 0

Builds the program from source (perfbench/build.py), then runs one workload
in one JVM: the workload's inputs are generated from --seed, driven through
the program's public APIs for --seconds, and every operation's output is
checked. The last stdout line is the JSON result; the lines before it are a
human-readable report (seed, tail percentile and sample count, steal and
load telemetry). --trace 1 runs the workload untraced and then traced,
prints the per-layer metrics and the tracing overhead, and writes the span
trace under .bench_build/perfbench/traces/.

Workloads, metrics and the layer map: perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("scan_decode", "range_probe", "ingest_tail", "dedup_gate")
# Spark on JDK 17 outside spark-submit needs these opens (the program's
# build.sbt sets the same list for its own runs).
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io",
         "java.base/java.net", "java.base/java.nio",
         "java.base/java.util", "java.base/java.util.concurrent",
         "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs",
         "java.base/sun.security.action", "java.base/sun.util.calendar"]
RUN_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build.classpath()
    started = time.monotonic()
    work = os.path.join(build.BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    traces = os.path.join(build.BUILD, "traces")
    os.makedirs(traces, exist_ok=True)
    here = os.path.dirname(os.path.abspath(__file__))
    cmd = (["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
            "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(here, 'log4j2.properties')}",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work, "--traces", traces])
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=build.ROOT)

    def stop(signum, _frame):  # never leave the JVM behind
        p.kill()
        p.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        try:
            out, _ = p.communicate(timeout=max(30.0, RUN_TIMEOUT_S - (time.monotonic() - started)))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            print("perfbench: run timed out", file=sys.stderr)
            return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        print(f"perfbench: benchmark JVM exited with code {p.returncode}", file=sys.stderr)
        return 1
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        print("perfbench: the JVM printed no result line", file=sys.stderr)
        return 1
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
