#!/usr/bin/env python3
"""ELT benchmark for graft: builds the program from source, runs one
workload in a fresh JVM and prints its metrics.

Usage:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                           [--size full|smoke|sf0.1]

Workloads: incremental_merge, corpus_curate (see perfbench/METRICS.md
for why each exists and what each metric means). With --trace 0
the last stdout line carries the end-to-end metrics of an untraced run;
with --trace 1 it carries the per-layer metrics of a traced run. The
lines before it print every metric by name with its unit. Every input is
generated from --seed inside .bench_build/work, which is removed again
when the run ends.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("incremental_merge", "corpus_curate")
TIMEOUT_S = 170
# what spark-submit would pass to a JDK 17 JVM
# (org.apache.spark.launcher.JavaModuleOptions)
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke", "sf0.1"), default="full")
    a = ap.parse_args()

    try:
        classes = build.build()
        jars = build.jars_dir()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    work = os.path.join(build.BUILD_DIR, "work")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xss4m", "-XX:TieredStopAtLevel=1",
           "-XX:ReservedCodeCacheSize=256m", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--size", a.size, "--work", work]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"timed out after {TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").split("\n")
    if proc.returncode != 0:
        sys.stderr.write(out)
        print(f"benchmark JVM exited with {proc.returncode}", file=sys.stderr)
        return 4
    result = json.loads(lines[-1])
    for ln in lines[:-1]:
        print(ln)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
