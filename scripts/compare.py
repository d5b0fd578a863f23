#!/usr/bin/env python3
"""Mimic the driver's DuckDB-oracle compare: for each query output under
OUT/<name>/, run OUT/oracle_sql.json[name] in DuckDB over the sf tables,
sort columns by name, sort rows, and compare values."""
import sys, json, glob, os
import duckdb
import pandas as pd

sf, out = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for t in ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split():
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

oracle = json.load(open(f"{out}/oracle_sql.json"))
present = sorted([os.path.basename(p) for p in glob.glob(f"{out}/*") if os.path.isdir(p)])
try:
    names = json.load(open(f"{out}/declared.json"))  # every declared query must appear
except FileNotFoundError:
    names = present
if not names:
    print(f"FAIL: no declared queries under {out}: nothing to compare")
    sys.exit(1)
fails = 0
for name in names:
    if name not in present:
        print(f"FAIL {name}: declared but produced no output (runtime error in Verify)")
        fails += 1
        continue
    try:
        got = con.sql(f"SELECT * FROM '{out}/{name}/*.parquet'").df()
    except Exception as e:
        print(f"FAIL {name}: cannot read output: {e}"); fails += 1; continue
    if name not in oracle:
        print(f"PASS(rows-only) {name}: {len(got)} rows")
        continue
    try:
        exp = con.sql(oracle[name]).df()
    except Exception as e:
        print(f"FAIL {name}: oracle SQL error: {e}"); fails += 1; continue
    g = got.reindex(sorted(got.columns), axis=1)
    e_ = exp.reindex(sorted(exp.columns), axis=1)
    if list(g.columns) != list(e_.columns):
        print(f"FAIL {name}: columns {list(g.columns)} vs {list(e_.columns)}"); fails += 1; continue
    # normalize: stringify everything (dates/timestamps/floats), sort rows
    def norm(df):
        df = df.copy()
        for c in df.columns:
            df[c] = df[c].map(lambda v: "NULL" if v is None or (isinstance(v, float) and pd.isna(v)) or pd.isnull(v) else str(v))
        return df.sort_values(by=list(df.columns)).reset_index(drop=True)
    gn, en = norm(g), norm(e_)
    if len(gn) != len(en):
        print(f"FAIL {name}: rowcount {len(gn)} vs {len(en)}"); fails += 1; continue
    if gn.equals(en):
        print(f"PASS {name}: {len(gn)} rows")
    else:
        diff = (gn != en)
        bad_cols = [c for c in gn.columns if diff[c].any()]
        idx = diff.any(axis=1)
        print(f"FAIL {name}: {int(idx.sum())}/{len(gn)} rows differ in {bad_cols}")
        mism = pd.concat([gn[idx].head(3).add_suffix('_got'), en[idx].head(3).add_suffix('_exp')], axis=1)
        print(mism.to_string())
        fails += 1
print(f"\n{len(names)-fails}/{len(names)} queries pass")
sys.exit(1 if fails else 0)
