#!/usr/bin/env python3
"""Local approximation of the driver's correctness gate:
run graft.Verify (sbt) at a given SF, then execute each oracle SQL in DuckDB
over the same parquet tables and compare row counts, sorted columns, values.

Usage: python3 tools/verify_local.py [sfdir] [outdir] [--skip-spark] [query...]
"""
import json, math, subprocess, sys
from pathlib import Path

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v!r}"
    return str(v)


def table_key(rows, cols):
    # driver sorts columns by name before hashing values
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [tuple(norm_cell(r[i]) for i in order) for r in rows]


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sfdir = args[0] if len(args) > 0 else "/root/testdata/sf0.01"
    outdir = args[1] if len(args) > 1 else "/tmp/graft_verify"
    only = set(args[2:])
    if "--skip-spark" not in sys.argv:
        r = subprocess.run(
            ["sbt", "-batch", f'runMain graft.Verify {sfdir} {outdir}'],
            capture_output=True, text=True, cwd="/root/repo")
        sys.stdout.write("\n".join(l for l in r.stdout.splitlines()
                                   if "[verify]" in l or "error" in l.lower()) + "\n")
        if r.returncode != 0:
            print("VERIFY RUN FAILED"); print(r.stdout[-3000:]); print(r.stderr[-2000:]); sys.exit(1)

    oracles = json.loads(Path(f"{outdir}/oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

    n_pass = n_fail = 0
    results = {}
    for name in sorted(oracles):
        if only and name not in only:
            continue
        sql = oracles[name]
        spark_dir = Path(outdir) / name
        if not spark_dir.exists():
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        try:
            sp = con.execute(f"SELECT * FROM '{spark_dir}/*.parquet'")
            sp_cols = [d[0] for d in sp.description]
            sp_rows = sp.fetchall()
            du = con.execute(sql)
            du_cols = [d[0] for d in du.description]
            du_rows = du.fetchall()
        except Exception as e:
            print(f"FAIL {name}: {e}"); n_fail += 1; continue
        status = []
        if sorted(sp_cols) != sorted(du_cols):
            status.append(f"cols spark={sorted(sp_cols)} duck={sorted(du_cols)}")
        elif len(sp_rows) != len(du_rows):
            status.append(f"rows spark={len(sp_rows)} duck={len(du_rows)}")
        else:
            a, b = table_key(sp_rows, sp_cols), table_key(du_rows, du_cols)
            if a != b:
                diffs = [(i, x, y) for i, (x, y) in enumerate(zip(a, b)) if x != y][:3]
                status.append(f"values differ, first diffs: {diffs}")
        if status:
            print(f"FAIL {name}: {'; '.join(status)}"); n_fail += 1
        else:
            print(f"PASS {name} ({len(sp_rows)} rows)"); n_pass += 1
        results[name] = not status
    # queries without oracle: just report row counts
    for d in sorted(Path(outdir).iterdir()):
        if d.is_dir() and d.name not in oracles:
            n = con.execute(f"SELECT count(*) FROM '{d}/*.parquet'").fetchone()[0]
            print(f"INFO {d.name}: no oracle, {n} rows")
    print(f"\n{n_pass} pass / {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
