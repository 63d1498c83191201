#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate.

Usage: python3 tools/compare.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name>/ parquet (Spark output) and runs the
matching oracle SQL from <verifyOutDir>/oracle_sql.json in DuckDB over the
raw tables in <sfDir>. Compares schemas (column-name sets) and value
multisets (rows sorted, columns sorted by name). An oracle entry with no
output dir (its query threw inside Verify) is MISSING, and counts as a
failure.
"""
import json
import sys
from pathlib import Path

import duckdb


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def cell(v):
        if isinstance(v, float):
            return f"{v!r}"
        return str(v)

    return sorted(tuple(cell(r[i]) for i in order) for r in rows)


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = json.loads(Path(out_dir, "oracle_sql.json").read_text())
    n_pass = n_fail = n_rows_only = n_missing = 0
    for name in sorted(oracles):
        if not Path(out_dir, name).is_dir():
            n_missing += 1
            print(f"MISSING    {name}")
    for d in sorted(Path(out_dir).iterdir()):
        if not d.is_dir():
            continue
        name = d.name
        got = con.execute(f"SELECT * FROM '{d}/*.parquet'").fetchall()
        got_cols = [c[0] for c in con.description]
        if name not in oracles:
            status = "ROWS_ONLY" if len(got) > 0 else "EMPTY!"
            n_rows_only += 1
            print(f"{status:10s} {name} rows={len(got)}")
            continue
        try:
            exp = con.execute(oracles[name]).fetchall()
            exp_cols = [c[0] for c in con.description]
        except Exception as e:
            print(f"ORACLE_ERR {name}: {e}")
            n_fail += 1
            continue
        if sorted(got_cols) != sorted(exp_cols):
            print(f"SCHEMA_DIFF {name}: spark={sorted(got_cols)} duck={sorted(exp_cols)}")
            n_fail += 1
            continue
        g, e = canon(got, got_cols), canon(exp, exp_cols)
        if g == e:
            n_pass += 1
            print(f"PASS       {name} rows={len(got)}")
        else:
            n_fail += 1
            print(f"VALUE_DIFF {name} spark_rows={len(g)} duck_rows={len(e)}")
            for i, (a, b) in enumerate(zip(g, e)):
                if a != b:
                    print(f"  first diff row {i}:\n    spark={a}\n    duck ={b}")
                    break
            else:
                if len(g) != len(e):
                    print(f"  row count differs; spark extra={g[len(e):len(e)+2]} duck extra={e[len(g):len(g)+2]}")
    print(f"\n== {n_pass} pass, {n_fail} fail, {n_missing} missing, "
          f"{n_rows_only} rows-only")
    sys.exit(1 if n_fail or n_missing else 0)


if __name__ == "__main__":
    main()
