import duckdb, json, glob, sys
sf = sys.argv[1] if len(sys.argv)>1 else '/root/testdata/sf0.01'
out = sys.argv[2] if len(sys.argv)>2 else '/tmp/verify_out'
con = duckdb.connect()
for t in ['documents','embeddings','lineitem','orders','customer','events','part','supplier','nation','region']:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
oracle = json.load(open(f'{out}/oracle_sql.json'))
ok = 0
for name, sql in sorted(oracle.items()):
    try:
        res = con.execute(sql).df()
        got = con.execute(f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')").df()
        rcols = sorted(res.columns); gcols = sorted(got.columns)
        if rcols != gcols:
            print(f"{name}: SCHEMA MISMATCH oracle={rcols} got={gcols}"); continue
        r = res[rcols].sort_values(rcols).reset_index(drop=True)
        g = got[gcols].sort_values(gcols).reset_index(drop=True)
        if len(r) != len(g):
            print(f"{name}: ROWCOUNT oracle={len(r)} got={len(g)}"); continue
        eq = r.equals(g)
        if not eq:
            # find first diff
            import pandas as pd
            diff = (r != g) & ~(r.isna() & g.isna())
            idx = diff.any(axis=1)
            print(f"{name}: VALUE MISMATCH rows={idx.sum()}")
            print(r[idx].head(3)); print(g[idx].head(3))
        else:
            print(f"{name}: OK rows={len(r)}")
            ok += 1
    except Exception as e:
        print(f"{name}: ERROR {e}")
# one status for the whole gate: every oracle must be OK
print(f"{ok}/{len(oracle)} OK")
sys.exit(0 if ok == len(oracle) else 1)
