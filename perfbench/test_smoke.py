#!/usr/bin/env python3
"""The benchmark's own test: every workload at the smoke size (sf0.001-
shaped inputs), untraced and traced, with all output checks. Each run
must pass its checks and report exactly the metrics BENCHMARK.json
names.

Usage: python3 perfbench/test_smoke.py [workload ...]
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {0: {m["name"] for m in spec["end_to_end"]},
            1: {m["name"] for m in spec["per_layer"]}}
    names = sys.argv[1:] or [w["name"] for w in spec["workloads"]]
    bad = []
    for w in names:
        for trace in (0, 1):
            cmd = spec["command"] + ["--workload", w, "--seed", "7", "--seconds", "1",
                                     "--trace", str(trace), "--size", "smoke"]
            r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                               text=True)
            lines = r.stdout.strip().splitlines()
            try:
                res = json.loads(lines[-1])
            except (IndexError, json.JSONDecodeError):
                bad.append(f"{w} trace={trace}: exit {r.returncode}, no result")
                continue
            got = set(res["metrics"])
            problems = []
            if r.returncode != 0:
                problems.append(f"exit {r.returncode}")
            if not res["correct"] or res["failed"] != 0 or res["attempted"] < 1:
                problems.append(f"checks: attempted={res['attempted']} failed={res['failed']}")
            if got != want[trace]:
                problems.append(f"metrics missing {sorted(want[trace] - got)} "
                                f"extra {sorted(got - want[trace])}")
            status = "FAIL " + "; ".join(problems) if problems else "ok"
            print(f"{w} trace={trace}: {status}")
            if problems:
                bad.append(f"{w} trace={trace}")
                print("\n".join(ln for ln in lines if "FAILED" in ln))
    print("PASS" if not bad else f"FAILED: {', '.join(bad)}")
    return 0 if not bad else 1


if __name__ == "__main__":
    sys.exit(main())
