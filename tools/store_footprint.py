#!/usr/bin/env python3
"""Where the bytes of a graft table store go.

Usage: python3 tools/store_footprint.py <store> [--json]

A store is a directory of tables, each a directory holding `_CURRENT`.
For every table this reads the footer of each parquet file under it
(segments, tombstones, driver-written ledger files) with pyarrow and
splits the table's parquet bytes into

  data   the column chunks (sum of `total_compressed_size` over every
         column of every row group), and
  other  everything else in the files: bloom filters, page and column
         indexes, footers and the magic bytes.

It splits the same parquet bytes a second way, by which manifests name
the file's segment or tombstone:

  live      the current manifest (`_CURRENT`) names it: the table as
            read today;
  retained  only older manifests name it: kept for time travel until
            a vacuum drops those manifests.

A file no manifest names counts in neither. It also counts parquet
files, segment/tombstone directories under `data/`, the non-parquet
bytes (manifests, `_CURRENT`, CRCs) and `tombstones`, the live
tombstone lines of the current manifest (merge-on-read deletes not yet
folded away: `compact` and an SCD2 fold clear them past 16), and lists
the distinct codecs of the column chunks (`codecs`), so a file left in
an older codec shows. An SCD2 tombstone's id file is that load's closed
segment, so it adds a tombstone line but no directory or bytes. The
last row sums the tables and joins their codecs. `--json` prints
the rows as one JSON list.
"""
import json
import os
import sys
from urllib.parse import unquote_plus

import pyarrow.parquet as pq


COUNTS = ("files", "dirs", "parquet_bytes", "data_bytes", "other_bytes",
          "live_bytes", "retained_bytes", "non_parquet_bytes", "tombstones")


def manifest_names(path):
    """Segment and tombstone names one manifest references: a segment
    line starts with its name, a tombstone line is `!<TAB>name<TAB>...`
    with the name URL-encoded."""
    names = set()
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if line.startswith("!"):
                names.add(unquote_plus(line.split("\t")[1]))
            elif line:
                names.add(line.split("\t")[0])
    return names


def current_manifest(table_dir):
    with open(os.path.join(table_dir, "_CURRENT"), encoding="utf-8") as f:
        return f.read().strip()


def referenced(table_dir):
    """(names the current manifest references, names only older ones do)."""
    current = current_manifest(table_dir)
    live, older = set(), set()
    for e in os.scandir(table_dir):
        if e.name.startswith("manifest-") and e.name.endswith(".txt"):
            (live if e.name == current else older).update(manifest_names(e.path))
    return live, older - live


def live_tombstones(table_dir):
    """The tombstone lines (`!`-prefixed) of the current manifest."""
    with open(os.path.join(table_dir, current_manifest(table_dir)),
              encoding="utf-8") as f:
        return sum(1 for line in f if line.startswith("!"))


def table_footprint(table_dir):
    row = dict.fromkeys(COUNTS, 0)
    codecs = set()
    live, retained = referenced(table_dir)
    row["tombstones"] = live_tombstones(table_dir)
    data_dir = os.path.join(table_dir, "data")
    if os.path.isdir(data_dir):
        row["dirs"] = sum(1 for e in os.scandir(data_dir) if e.is_dir())
    for base, _dirs, names in os.walk(table_dir):
        for n in names:
            path = os.path.join(base, n)
            size = os.path.getsize(path)
            if not n.endswith(".parquet"):
                row["non_parquet_bytes"] += size
                continue
            md = pq.ParquetFile(path).metadata
            columns = [md.row_group(g).column(c)
                       for g in range(md.num_row_groups)
                       for c in range(md.num_columns)]
            chunks = sum(c.total_compressed_size for c in columns)
            codecs.update(c.compression for c in columns)
            row["files"] += 1
            row["parquet_bytes"] += size
            row["data_bytes"] += chunks
            row["other_bytes"] += size - chunks
            # the segment or tombstone a file belongs to: `data/<dir>` for
            # a Spark-written one, the file itself for a driver-written one
            rel = os.path.relpath(path, table_dir).split(os.sep)
            owner = "/".join(rel[:2])
            if owner in live:
                row["live_bytes"] += size
            elif owner in retained:
                row["retained_bytes"] += size
    row["codecs"] = sorted(codecs)
    return row


def footprint(store):
    tables = sorted(e.name for e in os.scandir(store)
                    if e.is_dir() and os.path.exists(os.path.join(e.path, "_CURRENT")))
    rows = [dict(table=t, **table_footprint(os.path.join(store, t))) for t in tables]
    total = {"table": "(all)"}
    for k in COUNTS:
        total[k] = sum(r[k] for r in rows)
    total["codecs"] = sorted({c for r in rows for c in r["codecs"]})
    return rows + [total]


def main(argv):
    args = [a for a in argv if a != "--json"]
    if len(args) != 1 or not os.path.isdir(args[0]):
        print(__doc__.strip(), file=sys.stderr)
        return 2
    rows = footprint(args[0])
    if "--json" in argv:
        print(json.dumps(rows))
        return 0
    cols = ("table",) + COUNTS + ("other_share", "codecs")
    cells = [cols] + [tuple(str(r[c]) for c in cols[:-2]) +
                      (f"{r['other_bytes'] / r['parquet_bytes']:.3f}"
                       if r["parquet_bytes"] else "-",
                       ",".join(r["codecs"]) or "-") for r in rows]
    widths = [max(len(row[i]) for row in cells) for i in range(len(cols))]
    for row in cells:
        print("  ".join(c.ljust(w) if i == 0 else c.rjust(w)
                        for i, (c, w) in enumerate(zip(row, widths))))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
