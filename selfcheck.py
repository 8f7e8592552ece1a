#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate.

Usage: python3 selfcheck.py [sfDir] [outDir]
Reads outDir/<name>/ parquet (written by graft.Verify) and
outDir/oracle_sql.json, runs each oracle in DuckDB with views over
sfDir/*.parquet, and compares values (columns sorted by name, rows
sorted, exact match; floats compared bit-exactly, then with tolerance
for diagnostics). Developer tool only — not part of the library.
"""
import sys, json, glob, os
import duckdb
import pandas as pd
import numpy as np

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

con = duckdb.connect()
for p in glob.glob(f"{sf}/*.parquet"):
    name = os.path.basename(p).replace(".parquet", "")
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

oracles = json.load(open(f"{out}/oracle_sql.json"))
# graft.Verify records each query that raised: name -> {class, message}
fail_path = f"{out}/_failures.json"
failures = json.load(open(fail_path)) if os.path.exists(fail_path) else {}
n_pass = n_fail = 0
for name, sql in sorted(oracles.items()):
    spark_dir = f"{out}/{name}"
    if not os.path.isdir(spark_dir):
        if name in failures:
            f = failures[name]
            print(f"FAIL {name}: {f['class']}: {f['message']}")
        else:
            print(f"FAIL {name}: no spark output dir")
        n_fail += 1; continue
    try:
        got = pd.read_parquet(spark_dir)
        exp = con.sql(sql).df()
    except Exception as e:
        print(f"FAIL {name}: {type(e).__name__}: {e}"); n_fail += 1; continue
    got = got.reindex(sorted(got.columns), axis=1)
    exp = exp.reindex(sorted(exp.columns), axis=1)
    if list(got.columns) != list(exp.columns):
        print(f"FAIL {name}: columns {list(got.columns)} vs {list(exp.columns)}")
        n_fail += 1; continue
    if len(got) != len(exp):
        print(f"FAIL {name}: rows {len(got)} vs {len(exp)}"); n_fail += 1; continue
    gs = got.sort_values(list(got.columns)).reset_index(drop=True)
    es = exp.sort_values(list(exp.columns)).reset_index(drop=True)
    ok = True
    # dtype strictness: the driver's hash normalizes int widths and
    # timestamp precision but NOT int-vs-float — DuckDB promoting an
    # uncast SUM(BIGINT) to HUGEINT (-> float64 here) fails the driver
    # while values compare equal below. Fail that class locally.
    for c in gs.columns:
        a_int = pd.api.types.is_integer_dtype(gs[c])
        b_int = pd.api.types.is_integer_dtype(es[c])
        a_flt = pd.api.types.is_float_dtype(gs[c])
        b_flt = pd.api.types.is_float_dtype(es[c])
        if (a_int and b_flt) or (a_flt and b_int):
            print(f"FAIL {name}: col {c} dtype int-vs-float: "
                  f"spark={gs[c].dtype} duckdb={es[c].dtype} "
                  f"(uncast SUM/COUNT in the oracle? CAST(... AS BIGINT))")
            ok = False
    if not ok:
        n_fail += 1; continue
    for c in gs.columns:
        a, b = gs[c], es[c]
        if pd.api.types.is_datetime64_any_dtype(a) or pd.api.types.is_datetime64_any_dtype(b):
            a = pd.to_datetime(a).astype("datetime64[us]")
            b = pd.to_datetime(b).astype("datetime64[us]")
        try:
            eq = (a.values == b.values) | (pd.isna(a).values & pd.isna(b).values)
        except Exception:
            eq = np.array([x == y or (pd.isna(x) and pd.isna(y)) for x, y in zip(a, b)])
        if not eq.all():
            i = int(np.argmin(eq))
            print(f"FAIL {name}: col {c} differs at sorted row {i}: spark={a.iloc[i]!r} duckdb={b.iloc[i]!r}")
            if pd.api.types.is_float_dtype(gs[c]):
                d = np.nanmax(np.abs(a.values.astype(float) - b.values.astype(float)))
                print(f"     max abs diff = {d}")
            ok = False
            break
    if ok:
        print(f"PASS {name} ({len(got)} rows)"); n_pass += 1
    else:
        n_fail += 1
print(f"== {n_pass} pass / {n_fail} fail ==")
sys.exit(1 if n_fail else 0)
