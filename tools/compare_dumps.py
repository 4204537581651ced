#!/usr/bin/env python3
"""Compare two Verify dumps key by key: schema and row multiset.

Usage: python3 tools/compare_dumps.py <dirA> <dirB> [key1,key2,...]

Verify's parquet part files are not byte-reproducible (two runs that
write the same rows can differ in a few bytes), so "identical dumps"
means identical schema and rows. For each key (default: every dump
subdirectory of either side) this compares the columns' names, types
and nullability (the parquet repetition type: Spark writes a NOT NULL
column as REQUIRED), and the row multisets with DuckDB EXCEPT ALL in
both directions. Prints one line per key and exits 1 on any
difference.
"""
import glob
import os
import sys

import duckdb


def keys_of(d):
    return {k for k in os.listdir(d) if os.path.isdir(os.path.join(d, k))}


def schema(con, d):
    """(name, type, converted type, logical type, repetition) per field
    of the first part file, nested fields included, minus the root."""
    parts = sorted(glob.glob(os.path.join(d, "*.parquet")))
    if not parts:
        raise ValueError(f"no parquet part files in {d}")
    return con.execute(
        "SELECT name, type, converted_type, logical_type, repetition_type "
        "FROM parquet_schema(?)", [parts[0]]).fetchall()[1:]


def compare(con, a, b, key):
    sa = schema(con, os.path.join(a, key))
    sb = schema(con, os.path.join(b, key))
    ga = os.path.join(a, key, "*.parquet")
    gb = os.path.join(b, key, "*.parquet")
    errs = []
    if sa != sb:
        diff = [(x, y) for x, y in zip(sa, sb) if x != y]
        if len(sa) != len(sb):
            diff.append(("columns", f"{len(sa)} vs {len(sb)}"))
        errs.append(f"schema differs: {diff}")
    if len(sa) == len(sb):
        # rows are compared even when only nullability differs
        counts = [con.execute(
            f"SELECT count(*) FROM (SELECT * FROM read_parquet('{x}') "
            f"EXCEPT ALL SELECT * FROM read_parquet('{y}'))").fetchone()[0]
            for x, y in ((ga, gb), (gb, ga))]
        if counts != [0, 0]:
            errs.append(f"rows differ: {counts[0]} only in A, "
                        f"{counts[1]} only in B")
        elif errs:
            errs.append("rows equal")
    return "; ".join(errs) or None


def main(a, b, only=None):
    if only:
        keys = only
    else:
        keys = sorted(keys_of(a) | keys_of(b))
    con = duckdb.connect()
    bad = 0
    for key in keys:
        missing = [d for d in (a, b)
                   if not os.path.isdir(os.path.join(d, key))]
        if missing:
            err = f"missing in {', '.join(missing)}"
        else:
            try:
                err = compare(con, a, b, key)
            except (duckdb.Error, ValueError) as e:
                err = f"read failed: {e}"
        if err:
            bad += 1
            print(f"DIFF {key}: {err}")
        else:
            print(f"SAME {key}")
    print(f"\n{len(keys) - bad} same, {bad} different")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) not in (3, 4):
        sys.exit(__doc__)
    only = sys.argv[3].split(",") if len(sys.argv) == 4 else None
    sys.exit(main(sys.argv[1], sys.argv[2], only))
