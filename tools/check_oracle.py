#!/usr/bin/env python3
"""Compare a graft.Verify dump with the DuckDB oracle.

    sbt -batch "runMain graft.Verify <sf_dir> <out_dir>"
    python3 tools/check_oracle.py <out_dir> <sf_dir>

graft.Verify writes one parquet directory per query into <out_dir>, plus
oracle_sql.json (query name -> DuckDB SQL) and _failed.json (queries that
threw). For every query in oracle_sql.json this script runs the SQL with
DuckDB over views named after the ten tables in <sf_dir>
(<sf_dir>/<table>.parquet), reads the query's dumped result, and compares
the two:

- columns in name order, rows in a canonical order;
- decimals as floats, timestamps and dates as text;
- NaN equals NaN, None equals None, floats equal to 1e-6 relative.

A query in _failed.json, or one whose SQL or dump cannot be read, fails.
Prints each failure and "N/M passed"; exits 1 unless every query passes.
"""
import json
import math
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    """A value as compared."""
    if v is None:
        return None
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    if hasattr(v, "as_tuple"):  # Decimal
        return float(v)
    if isinstance(v, (bool, int, float, str, bytes)):
        return v
    return str(v)


def close(a, b):
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(close(x, y) for x, y in zip(a, b))
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        if not all(isinstance(x, (int, float)) for x in (a, b)):
            return False
        a, b = float(a), float(b)
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-9)
    return a == b


def sort_key(row):
    """A row order that float noise in the last digits cannot change."""
    def k(v):
        if isinstance(v, float):
            return "nan" if math.isnan(v) else f"{v:.6g}"
        if isinstance(v, tuple):
            return tuple(k(x) for x in v)
        return v
    return repr(tuple(k(v) for v in row))


def rows(con, sql):
    cur = con.execute(sql)
    cols = [d[0].lower() for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm(r[i]) for i in order) for r in cur.fetchall()]
    return [cols[i] for i in order], sorted(out, key=sort_key)


def compare(con, out_dir, name, sql):
    """None when the query matches, else a one-line reason."""
    try:
        want_cols, want = rows(con, sql)
    except Exception as e:  # noqa: BLE001 - a broken oracle is a failure
        return f"oracle SQL failed: {str(e).splitlines()[0]}"
    dump = os.path.join(out_dir, name)
    if not os.path.isdir(dump):
        return "no dump"
    try:
        got_cols, got = rows(con, f"SELECT * FROM read_parquet('{dump}/*.parquet')")
    except Exception as e:  # noqa: BLE001
        return f"dump unreadable: {str(e).splitlines()[0]}"
    if got_cols != want_cols:
        return f"columns {got_cols} != oracle {want_cols}"
    if len(got) != len(want):
        return f"{len(got)} rows != oracle {len(want)}"
    for i, (g, w) in enumerate(zip(got, want)):
        if not close(g, w):
            return f"row {i}: {g!r:.300} != oracle {w!r:.300}"
    return None


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    failed_path = os.path.join(out_dir, "_failed.json")
    failed = {}
    if os.path.exists(failed_path):
        with open(failed_path) as f:
            failed = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    passed = 0
    for name in sorted(oracle):
        why = f"Verify failed: {failed[name]}" if name in failed else \
            compare(con, out_dir, name, oracle[name])
        if why is None:
            passed += 1
        else:
            print(f"FAIL {name}: {why}")
    print(f"{passed}/{len(oracle)} passed")
    sys.exit(0 if passed == len(oracle) else 1)


if __name__ == "__main__":
    main()
