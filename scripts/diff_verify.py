#!/usr/bin/env python3
"""Identity check between two graft.Verify output dirs.

Usage: python3 scripts/diff_verify.py <parentOut> <changeOut>

For a change that moves or deletes code, run graft.Verify on the same
sfDir at the parent commit and at the change, then diff the two dumps.
For every entry dir (the union of both sides) it compares:
  - the parquet rows, in order;
  - the Arrow schema (names and types);
  - Spark's `org.apache.spark.sql.parquet.row.metadata` (the Spark
    schema, which carries nullability).
It also compares the key sets of the two oracle_sql.json files. One line
per entry; exit 1 on any difference or on an entry missing on one side.
"""
import glob
import json
import os
import sys

import pyarrow.parquet as pq

SPARK_META = b"org.apache.spark.sql.parquet.row.metadata"


def load(entry_dir):
    """(arrow schema without metadata, Spark schema JSON, rows) of one entry."""
    files = sorted(glob.glob(os.path.join(entry_dir, "*.parquet")))
    if not files:
        return None
    tables = [pq.read_table(f) for f in files]
    meta = (tables[0].schema.metadata or {}).get(SPARK_META)
    rows = [r for t in tables for r in t.to_pylist()]
    return (tables[0].schema.remove_metadata(),
            json.loads(meta) if meta else None, rows)


def entries(out_dir):
    return {n for n in os.listdir(out_dir) if os.path.isdir(os.path.join(out_dir, n))}


def oracle_keys(out_dir):
    p = os.path.join(out_dir, "oracle_sql.json")
    return set(json.load(open(p))) if os.path.exists(p) else None


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    parent, change = sys.argv[1], sys.argv[2]
    pa, ca = entries(parent), entries(change)
    bad = 0  # differing or missing entries
    for name in sorted(pa | ca):
        a = load(os.path.join(parent, name)) if name in pa else None
        b = load(os.path.join(change, name)) if name in ca else None
        if a is None or b is None:
            side = "parent" if a is None else "change"
            print(f"{name}: MISSING on the {side} side")
            bad += 1
            continue
        diffs = []
        if a[0] != b[0]:
            diffs.append(f"arrow schema {a[0].to_string()!r} != {b[0].to_string()!r}")
        if a[1] != b[1]:
            diffs.append(f"spark schema {json.dumps(a[1])} != {json.dumps(b[1])}")
        if a[2] != b[2]:
            first = next((i for i, (x, y) in enumerate(zip(a[2], b[2])) if x != y),
                         min(len(a[2]), len(b[2])))
            diffs.append(f"rows {len(a[2])} vs {len(b[2])}, first diff at row {first}")
        if diffs:
            print(f"{name}: DIFF " + "; ".join(diffs))
            bad += 1
        else:
            print(f"{name}: same ({len(a[2])} rows)")
    total = len(pa | ca)
    print(f"{total - bad}/{total} entries identical")
    ka, kb = oracle_keys(parent), oracle_keys(change)
    if ka != kb:
        print(f"oracle_sql.json keys differ: parent-only {sorted((ka or set()) - (kb or set()))}, "
              f"change-only {sorted((kb or set()) - (ka or set()))}")
    sys.exit(1 if bad or ka != kb else 0)


if __name__ == "__main__":
    main()
