#!/usr/bin/env python3
"""Differential check of two oracle_sql.json dumps, e.g. the `graft.Verify`
output of a parent commit and of a change.

usage: oracle_diff.py PARENT_JSON CHANGE_JSON SF_DIR [SF_DIR ...]

A key whose SQL text is the same on both sides is reported as "same text".
Every other key runs both SQL texts in DuckDB over each SF dir's tables
(the views scripts/selfcheck.py creates); the two results must agree on
column names, column types and rows (sorted, values compared exactly).
Keys present on one side only are reported. Exits 1 on any difference or
SQL error, 0 otherwise.
"""
import json
import math
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(sf):
    con = duckdb.connect()
    for t in TABLES:
        try:
            con.execute(f"CREATE VIEW {t} AS "
                        f"SELECT * FROM read_parquet('{sf}/{t}.parquet')")
        except duckdb.Error:
            pass  # an SF without this table: queries over it fail loudly
    return con


def norm(v):
    """NaN ≠ NaN would fail an identical result; compare it as a marker."""
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple((k, norm(x)) for k, x in v.items())
    return v


def run(con, sql):
    rel = con.sql(sql)
    rows = sorted((tuple(norm(v) for v in r) for r in rel.fetchall()), key=repr)
    return rel.columns, [str(t) for t in rel.types], rows


def diff(con, old_sql, new_sql):
    """None when both give the same result, else a one-line reason."""
    try:
        a = run(con, old_sql)
    except duckdb.Error as e:
        return f"parent SQL error: {e}"
    try:
        b = run(con, new_sql)
    except duckdb.Error as e:
        return f"change SQL error: {e}"
    if a[0] != b[0]:
        return f"columns differ: {a[0]} vs {b[0]}"
    if a[1] != b[1]:
        return f"types differ: {a[1]} vs {b[1]}"
    if len(a[2]) != len(b[2]):
        return f"row counts differ: {len(a[2])} vs {len(b[2])}"
    for i, (x, y) in enumerate(zip(a[2], b[2])):
        if x != y:
            return f"sorted row {i} differs: {x!r} vs {y!r}"
    return None


def main(argv):
    if len(argv) < 4:
        sys.exit(__doc__)
    old = json.load(open(argv[1]))
    new = json.load(open(argv[2]))
    sfs = argv[3:]
    bad = 0
    for k in sorted(old.keys() - new.keys()):
        print(f"  [parent only] {k}")
        bad += 1
    for k in sorted(new.keys() - old.keys()):
        print(f"  [change only] {k}")
        bad += 1
    changed = sorted(k for k in old.keys() & new.keys() if old[k] != new[k])
    same = len(old.keys() & new.keys()) - len(changed)
    print(f"{same} keys: same text")
    for sf in sfs:
        con = connect(sf)
        for k in changed:
            why = diff(con, old[k], new[k])
            if why:
                bad += 1
                print(f"  [DIFFERS]   {k} @ {sf}: {why}")
            else:
                print(f"  [same rows] {k} @ {sf}")
    print(f"\n{len(changed)} keys with changed text, {bad} differences")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
