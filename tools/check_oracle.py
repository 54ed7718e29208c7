"""Local emulation of the driver's DuckDB correctness compare.

Usage: python3 tools/check_oracle.py <sf dir> <graft.Verify output dir>

Prints one line per query, then `N/M OK`. Exits non-zero unless every
query is OK and each side (oracle_sql.json, Spark output) has every query.
"""
import duckdb, json, os, sys, glob
import pandas as pd

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")

oracle = json.load(open(f"{out}/oracle_sql.json"))
spark_out = {d for d in os.listdir(out) if glob.glob(f"{out}/{d}/*.parquet")}
names = sorted(set(oracle) | spark_out)
ok = 0
for name in names:
    if name not in oracle:
        print(f"{name}: MISSING from oracle_sql.json"); continue
    if name not in spark_out:
        print(f"{name}: MISSING Spark output"); continue
    sql = oracle[name]
    try:
        odf = con.execute(sql).fetchdf()
        sdf = duckdb.connect().execute(f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')").fetchdf()
        # driver-style: sort columns by name, then compare
        ocols, scols = sorted(odf.columns), sorted(sdf.columns)
        if ocols != scols:
            print(f"{name}: SCHEMA MISMATCH cols oracle={ocols} spark={scols}"); continue
        o = odf[ocols]; s_ = sdf[ocols]
        if len(o) != len(s_):
            print(f"{name}: ROWCOUNT oracle={len(o)} spark={len(s_)}"); continue
        o = o.sort_values(ocols).reset_index(drop=True)
        s_ = s_.sort_values(ocols).reset_index(drop=True)
        same = o.equals(s_)
        if not same:
            # type-tolerant compare
            import numpy as np
            diffs = 0; first = None
            for c in ocols:
                a, b = o[c], s_[c]
                try:
                    eq = (a == b) | (a.isna() & b.isna())
                except Exception:
                    eq = a.astype(str) == b.astype(str)
                if not eq.all():
                    diffs += (~eq).sum()
                    if first is None:
                        i = (~eq).idxmax(); first = (c, a[i], b[i])
            if diffs:
                print(f"{name}: VALUE MISMATCH {diffs} cells, first={first}")
            else:
                print(f"{name}: OK (dtype-only diff) rows={len(o)}"); ok += 1
        else:
            print(f"{name}: OK rows={len(o)}"); ok += 1
        # dtype report
        dt = [(c, str(odf[c].dtype), str(sdf[c].dtype)) for c in ocols if str(odf[c].dtype) != str(sdf[c].dtype)]
        if dt: print(f"   dtype diffs: {dt}")
    except Exception as e:
        print(f"{name}: ERROR {type(e).__name__}: {e}")

print(f"{ok}/{len(names)} OK")
sys.exit(0 if ok == len(names) else 1)
