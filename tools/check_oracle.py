# Compares each Verify output under <outDir> with its DuckDB oracle query
# (oracle_sql.json) over the sf parquet tables, as multisets.
# Usage: check_oracle.py <sfDir> <outDir>. Exits 1 if any oracle fails or
# has no output.
import duckdb, json, glob, os, sys, math
sf = sys.argv[1] if len(sys.argv) > 1 else '/root/testdata/sf0.01'
out = sys.argv[2] if len(sys.argv) > 2 else '/tmp/verify_out'
con = duckdb.connect()
for t in ['region','nation','customer','supplier','part','orders','lineitem','events','documents','embeddings']:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
oracle = json.load(open(f'{out}/oracle_sql.json'))
def norm(v):
    if isinstance(v, float):
        if math.isnan(v): return 'nan'
        return repr(round(v, 9))
    if isinstance(v, list): return tuple(norm(x) for x in v)
    return str(v)
fails = []
for name, sql in sorted(oracle.items()):
    pdir = f'{out}/{name}'
    if not os.path.isdir(pdir):
        fails.append((name, 'NO OUTPUT')); continue
    try:
        mine = duckdb.connect().execute(f"SELECT * FROM '{pdir}/*.parquet'").df()
        ref = con.execute(sql).df()
    except Exception as e:
        fails.append((name, f'ERR {e}')); continue
    mc, rc = sorted(mine.columns), sorted(ref.columns)
    if mc != rc:
        fails.append((name, f'SCHEMA {mc} vs {rc}')); continue
    ms = sorted(tuple(norm(v) for v in row) for row in mine[mc].itertuples(index=False))
    rs = sorted(tuple(norm(v) for v in row) for row in ref[rc].itertuples(index=False))
    if ms != rs:
        diff1 = [r for r in ms if r not in set(rs)][:3]
        diff2 = [r for r in rs if r not in set(ms)][:3]
        fails.append((name, f'ROWS mine={len(ms)} ref={len(rs)} onlymine={diff1} onlyref={diff2}'))
    else:
        print(f'OK   {name} ({len(ms)} rows)')
for n, msg in fails:
    print(f'FAIL {n}: {msg[:400]}')
print(f'\n{len(oracle)-len(fails)}/{len(oracle)} match')
sys.exit(1 if fails else 0)
