#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run graft.Verify at a
scale factor, then run each oracle SQL in DuckDB over the same parquet
tables and compare (columns sorted by name, rows sorted, values compared
exactly; floats reported with tolerance diagnostics).

Usage: python3 tools/verify_local.py [sfdir] [outdir] [--skip-spark]

Environment: SPARK_GRAFT_CPUS (default: the usable cores, as nproc) and
SPARK_GRAFT_ONLY (comma-separated query names; default: every query).
"""
import json, math, subprocess, sys
from pathlib import Path

import duckdb

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = Path(sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def run_spark():
    import os
    cmd = ["sbt", "-batch", f'runMain graft.Verify {SF} {OUT}']
    # core count: SPARK_GRAFT_CPUS when set, else the usable cores (nproc);
    # SPARK_GRAFT_ONLY (a comma list of query names) passes through to
    # Verify, which then runs and dumps only those queries
    e = dict(os.environ)
    e.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    repo = Path(__file__).resolve().parent.parent
    r = subprocess.run(cmd, cwd=repo, env=e, capture_output=True, text=True)
    tail = "\n".join((r.stdout + r.stderr).splitlines()[-25:])
    if r.returncode != 0:
        print(tail)
        sys.exit(1)
    for line in tail.splitlines():
        if "[verify]" in line:
            print(line)


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        return ("f", round(v, 9))
    try:
        import decimal
        if isinstance(v, decimal.Decimal):
            return ("d", str(v))
    except Exception:
        pass
    return v


def compare():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    oracle = json.loads((OUT / "oracle_sql.json").read_text())
    results = {}
    for name, sql in sorted(oracle.items()):
        try:
            got_rel = con.sql(f"SELECT * FROM '{OUT}/{name}/*.parquet'")
            got_cols = sorted(got_rel.columns)
            got = con.sql(
                f"SELECT {', '.join(got_cols)} FROM got_rel ORDER BY ALL"
            ).fetchall()
        except Exception as e:
            results[name] = f"SPARK-READ-FAIL {e}"
            continue
        try:
            exp_rel = con.sql(sql)
            exp_cols = sorted(exp_rel.columns)
            exp = con.sql(
                f"SELECT {', '.join(exp_cols)} FROM exp_rel ORDER BY ALL"
            ).fetchall()
        except Exception as e:
            results[name] = f"ORACLE-FAIL {str(e).splitlines()[0][:160]}"
            continue
        if got_cols != exp_cols:
            results[name] = f"COLS got={got_cols} exp={exp_cols}"
            continue
        if len(got) != len(exp):
            results[name] = f"ROWS got={len(got)} exp={len(exp)}"
            continue
        bad = None
        for i, (g, x) in enumerate(zip(got, exp)):
            gn = tuple(norm_cell(v) for v in g)
            xn = tuple(norm_cell(v) for v in x)
            if gn != xn:
                bad = f"ROW {i}: got={g} exp={x}"
                break
        # schema check (like the driver's)
        gtypes = [str(tp) for tp in con.sql(f"SELECT {', '.join(got_cols)} FROM got_rel").types]
        xtypes = [str(tp) for tp in exp_rel.types] if got_cols == exp_cols else []
        xtypes = [str(tp) for tp in con.sql(f"SELECT {', '.join(exp_cols)} FROM exp_rel").types]
        type_note = "" if gtypes == xtypes else f" [TYPES got={gtypes} exp={xtypes}]"
        results[name] = ("OK" if bad is None else bad) + type_note
    npass = sum(1 for v in results.values() if v.startswith("OK") and "[TYPES" not in v)
    for name, v in results.items():
        flag = "PASS" if v == "OK" else ("pass~" if v.startswith("OK") else "FAIL")
        print(f"{flag:5} {name}: {v if v != 'OK' else ''}")
    print(f"== {npass}/{len(results)} strict-pass ==")


if __name__ == "__main__":
    if "--skip-spark" not in sys.argv:
        run_spark()
    compare()
