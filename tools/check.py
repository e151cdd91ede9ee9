#!/usr/bin/env python3
"""Dev-loop oracle compare (mimics the driver's t2 gate).

Usage: python3 tools/check.py <sfDir> <verifyOutDir>
Reads each <name> parquet dir written by graft.Verify, runs the matching
SQL from oracle_sql.json in DuckDB against the sfDir tables, and compares
schema + sorted rows. An oracle query with no output dir (it failed inside
Verify, or was never run) counts as a failure.
"""
import sys, json, glob, os
import duckdb

sfdir, outdir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]:
    p = f"{sfdir}/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
fail = ok = skip = 0
for name in sorted(set(oracle) - set(os.listdir(outdir))):
    print(f"FAIL {name}: no Verify output"); fail += 1
for name in sorted(os.listdir(outdir)):
    d = os.path.join(outdir, name)
    if not os.path.isdir(d):
        continue
    files = glob.glob(f"{d}/*.parquet")
    if not files:
        print(f"SKIP {name}: no parquet"); skip += 1; continue
    got = con.sql(f"SELECT * FROM '{d}/*.parquet'").df()
    if name not in oracle:
        print(f"NOORACLE {name}: rows={len(got)}"); skip += 1; continue
    try:
        exp = con.sql(oracle[name]).df()
    except Exception as e:
        print(f"FAIL {name}: oracle error {e}"); fail += 1; continue
    gs = sorted(got.columns); es = sorted(exp.columns)
    if gs != es:
        print(f"FAIL {name}: cols {gs} vs {es}"); fail += 1; continue
    g = got[gs].sort_values(gs, ignore_index=True)
    e = exp[es].sort_values(es, ignore_index=True)
    if len(g) != len(e):
        print(f"FAIL {name}: rows {len(g)} vs {len(e)}"); fail += 1; continue
    if not g.equals(e):
        # dtype-tolerant compare
        same = True
        for c in gs:
            try:
                import pandas as pd
                gc, ec = g[c], e[c]
                if gc.dtype != ec.dtype:
                    print(f"  {name}.{c}: dtype {gc.dtype} vs {ec.dtype}")
                if not (gc.astype(str).equals(ec.astype(str))):
                    bad = (gc.astype(str) != ec.astype(str))
                    i = bad[bad].index[0]
                    print(f"  {name}.{c}: first diff row {i}: {gc[i]!r} vs {ec[i]!r}")
                    same = False
            except Exception as ex:
                print(f"  {name}.{c}: compare error {ex}"); same = False
        if not same:
            print(f"FAIL {name}: values differ ({len(g)} rows)"); fail += 1; continue
        else:
            # stricter than the driver: a dtype mismatch is a failure here
            print(f"FAIL {name}: dtype-only diff ({len(g)} rows)"); fail += 1; continue
    print(f"OK   {name}: {len(g)} rows")
    ok += 1
print(f"\n{ok} ok, {fail} fail, {skip} skip/no-oracle")
sys.exit(1 if fail else 0)
