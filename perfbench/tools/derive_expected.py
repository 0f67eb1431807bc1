#!/usr/bin/env python3
"""Derive the graded_suite expectations and check them with DuckDB.

    python3 perfbench/tools/derive_expected.py

Run from the repository root. Builds the benchmark (as run.py does), runs
every eligible graded query once on perfbench/data/sf0.01 (perfbench.Main
--derive), then evaluates the engine's oracle SQL for each query with
DuckDB over the same tables and compares the results row by row, ignoring
row order. Only when every query matches does it write
perfbench/expected/graded_sf0.01.tsv (query, row count, digest).
"""
import json
import math
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402

import duckdb  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    """Value as compared: decimals as floats, timestamps as text."""
    if v is None:
        return None
    if isinstance(v, (list, tuple)):
        return tuple(sorted((norm(x) for x in v), key=repr))
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    if hasattr(v, "as_tuple"):  # Decimal
        return float(v)
    if isinstance(v, (int, float, str, bool, bytes)):
        return v
    return str(v)


def close(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        a, b = float(a), float(b)
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(close(x, y) for x, y in zip(a, b))
    return a == b


def rows(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm(r[i]) for i in order) for r in cur.fetchall()]
    return [cols[i] for i in order], sorted(out, key=sort_key)


def sort_key(row):
    """Row order that float noise in the last digits cannot change."""
    return repr(tuple(f"{v:.6g}" if isinstance(v, float) else v for v in row))


def main():
    cp = run.build()
    out = os.path.join(run.BENCH, ".derive")
    work = os.path.join(run.BENCH, ".work", "derive")
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java"] + [x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-cp", cp, "perfbench.Main", "--derive", out, "--data", run.DATA,
        "--work", work, "--cores", "4"]
    subprocess.run(cmd, cwd=work, check=True)
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    digests = {}
    with open(os.path.join(out, "digests.tsv")) as f:
        for line in f:
            n, c, d = line.rstrip("\n").split("\t")
            digests[n] = (c, d)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{run.DATA}/{t}.parquet')")
    failed = []
    for name in sorted(digests):
        got_cols, got = rows(con, f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')")
        if name not in oracle:
            if not got:
                failed.append((name, "no oracle SQL and no rows"))
            continue
        try:
            want_cols, want = rows(con, oracle[name])
        except Exception as e:  # noqa: BLE001
            failed.append((name, f"oracle error {e}"))
            continue
        if [c.lower() for c in got_cols] != [c.lower() for c in want_cols]:
            failed.append((name, f"columns {got_cols} vs {want_cols}"))
        elif len(got) != len(want) or not all(close(a, b) for a, b in zip(got, want)):
            failed.append((name, f"{len(got)} rows vs oracle {len(want)}, values differ"))
        print(f"{name}: {'ok' if not failed or failed[-1][0] != name else 'MISMATCH'}",
              file=sys.stderr)
    print(f"{len(digests) - len(failed)}/{len(digests)} match the DuckDB oracle", file=sys.stderr)
    if failed:
        for n, why in failed:
            print(f"  {n}: {why}", file=sys.stderr)
        sys.exit(1)
    os.makedirs(os.path.dirname(run.EXPECTED), exist_ok=True)
    with open(run.EXPECTED, "w") as f:
        f.write("# query\trows\tdigest — derived by perfbench/tools/derive_expected.py; "
                "every row matched the DuckDB oracle\n")
        for n in sorted(digests):
            f.write(f"{n}\t{digests[n][0]}\t{digests[n][1]}\n")
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
