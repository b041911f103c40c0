#!/usr/bin/env python3
"""Diff two job censuses taken with `graft.Soak`, by query and call site.

Usage: python3 tools/census_diff.py BEFORE AFTER

A census is what one `runMain graft.Soak <dir> <q1,q2,...>` prints: one
JSON line per query run on stdout ({"query", "jobs", "rows", ...}) and,
on stderr, one `[soak] <q> jobs=<n> site=<frame>` line per call site of
that run. BEFORE and AFTER each name the capture's files, joined by a
comma (`soak.out,soak.err`), or one file holding both streams
(`2>&1`). Other lines are ignored.

A query run more than once reads as the mean per run, with its job
range. Call sites match across the two trees with their line numbers
dropped (`Foo.scala:71` reads `Foo.scala`).

The report lists every query whose jobs or rows differ and, under it,
the call sites whose jobs moved; the last line sums the queries present
in both captures. A row count that differs is flagged, since a job
count is only comparable when the output is the same: the exit status
is 1 when any query's rows differ, else 0.
"""
import json
import re
import sys
from collections import defaultdict

SITE = re.compile(r"^\[soak\] (\S+) jobs=(\d+) site=(.*)$")
LINE = re.compile(r"(\.(?:scala|java)):\d+\)")


def read_census(spec):
    """{query: {"jobs": [..], "rows": [..], "sites": {site: total}}}"""
    census = defaultdict(lambda: {"jobs": [], "rows": [], "sites": defaultdict(int)})
    for path in spec.split(","):
        with open(path, encoding="utf-8", errors="replace") as f:
            for line in f:
                line = line.rstrip("\n")
                if line.startswith('{"query"'):
                    run = json.loads(line)
                    census[run["query"]]["jobs"].append(run["jobs"])
                    census[run["query"]]["rows"].append(run["rows"])
                    continue
                m = SITE.match(line)
                if m:
                    census[m.group(1)]["sites"][LINE.sub(r"\1)", m.group(3))] += int(m.group(2))
    return census


def mean(xs):
    return sum(xs) / len(xs)


def fmt(x):
    return str(int(x)) if x == int(x) else f"{x:.1f}"


def jobs(q):
    spread = f" [{min(q['jobs'])}-{max(q['jobs'])}]" if len(set(q["jobs"])) > 1 else ""
    return fmt(mean(q["jobs"])) + spread


def per_run(q):
    """Mean jobs per run at each call site."""
    return {s: n / len(q["jobs"]) for s, n in q["sites"].items()}


def main(argv):
    if len(argv) != 2:
        sys.exit(__doc__)
    before, after = read_census(argv[0]), read_census(argv[1])
    total_b = total_a = 0.0
    rows_differ = False
    for name in sorted(set(before) | set(after)):
        b, a = before.get(name), after.get(name)
        if not (b and b["jobs"] and a and a["jobs"]):
            print(f"{name}: only {'before' if b and b['jobs'] else 'after'}")
            continue
        jb, ja = mean(b["jobs"]), mean(a["jobs"])
        total_b += jb
        total_a += ja
        differ = sorted(set(b["rows"])) != sorted(set(a["rows"]))
        rows_differ |= differ
        if jb == ja and not differ:
            continue
        flag = f"  ROWS DIFFER {sorted(set(b['rows']))} -> {sorted(set(a['rows']))}" \
            if differ else ""
        print(f"{name}: {jobs(b)} -> {jobs(a)} ({ja - jb:+g}){flag}")
        sb, sa = per_run(b), per_run(a)
        moved = [(s, sb.get(s, 0.0), sa.get(s, 0.0)) for s in set(sb) | set(sa)
                 if sb.get(s, 0.0) != sa.get(s, 0.0)]
        for site, nb, na in sorted(moved, key=lambda m: (-abs(m[2] - m[1]), m[0])):
            print(f"    {fmt(nb):>6} -> {fmt(na):<6} {site}")
    print(f"total over queries in both: {fmt(total_b)} -> {fmt(total_a)} "
          f"({total_a - total_b:+g})")
    return 1 if rows_differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
