#!/usr/bin/env python3
"""DuckDB oracle compare for the gated queries: reads the graft.Verify dump
(spark parquet per query + oracle_sql.json), loads the sf tables into
DuckDB, runs each oracle SQL, and compares row counts, column names, and
values (floats at 1e-9 rel/abs tolerance, everything else exact).

Rows compare positionally. A positional mismatch still passes when it is
a sort-key tie reordered: see compare_rows.

Usage: oracle_compare.py <sf_dir> <verify_out_dir> [query ...]
"""
import json
import math
import os
import sys

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def load_rows(con, q):
    return con.execute(q).fetchall(), [d[0] for d in con.description]


def val_eq(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return a == b
        if math.isnan(fa) and math.isnan(fb):
            return True
        return abs(fa - fb) <= 1e-9 + 1e-9 * max(abs(fa), abs(fb))
    return a == b


def first_diff(srows, orows):
    """(row, col index, spark value, oracle value) of the first positional
    difference, or None."""
    for i, (sr, orow) in enumerate(zip(srows, orows)):
        for j, (a, b) in enumerate(zip(sr, orow)):
            if not val_eq(a, b):
                return (i, j, a, b)
    return None


def compare_rows(srows, orows):
    """Compare two equally long row lists. Returns (ok, first positional
    difference or None).

    A positional difference passes only as a sort-key tie reorder (Spark
    and DuckDB may order rows with equal sort keys differently). The key
    columns are the columns whose values agree positionally on every row;
    the set must be non-empty, and within each maximal run of consecutive
    rows sharing those key values the two sides must hold the same rows
    as a multiset."""
    bad = first_diff(srows, orows)
    if bad is None:
        return True, None
    keys = [j for j in range(len(srows[0]))
            if all(val_eq(sr[j], orow[j]) for sr, orow in zip(srows, orows))]
    if not keys:
        return False, bad
    order = lambda r: tuple((v is None, str(v)) for v in r)
    start = 0
    for end in range(1, len(srows) + 1):
        if end < len(srows) and all(
                val_eq(srows[end][j], srows[start][j]) for j in keys):
            continue
        if first_diff(sorted(srows[start:end], key=order),
                      sorted(orows[start:end], key=order)) is not None:
            return False, bad
        start = end
    return True, bad


def main():
    import duckdb

    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:]) or None
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')"
                if os.path.isdir(p) else
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    # md5_number_lower exists in duckdb >= 0.9 core
    fails = 0
    checked = 0
    for name, sql in sorted(oracles.items()):
        if only and name not in only:
            continue
        spark_dir = os.path.join(out_dir, name)
        if not os.path.isdir(spark_dir):
            print(f"{name}: MISSING spark output")
            fails += 1
            continue
        try:
            srows, scols = load_rows(
                con, f"SELECT * FROM read_parquet('{spark_dir}/*.parquet')")
        except Exception as e:
            print(f"{name}: spark read failed: {e}")
            fails += 1
            continue
        try:
            orows, ocols = load_rows(con, sql)
        except Exception as e:
            print(f"{name}: oracle failed: {e}")
            fails += 1
            continue
        checked += 1
        if [c.lower() for c in scols] != [c.lower() for c in ocols]:
            print(f"{name}: SCHEMA mismatch spark={scols} oracle={ocols}")
            fails += 1
            continue
        if len(srows) != len(orows):
            print(f"{name}: ROWS mismatch spark={len(srows)} oracle={len(orows)}")
            fails += 1
            continue
        ok, bad = compare_rows(srows, orows)
        if not ok:
            print(f"{name}: VALUE mismatch row={bad[0]} col={scols[bad[1]]} "
                  f"spark={bad[2]!r} oracle={bad[3]!r}")
            fails += 1
        elif bad:
            print(f"{name}: OK ({len(srows)} rows; tie-order differs at "
                  f"row={bad[0]} col={scols[bad[1]]})")
        else:
            print(f"{name}: OK ({len(srows)} rows)")
    print(f"== {checked} checked, {fails} failed ==")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
