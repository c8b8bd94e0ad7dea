#!/usr/bin/env python3
"""Local mirror of the driver's DuckDB-oracle compare (SURVEY.md §5.2.5).

Usage: selfcheck.py <sfDir> <verifyOutDir> [query ...]
Compares each <name> parquet under verifyOutDir against the oracle SQL in
verifyOutDir/oracle_sql.json run by DuckDB over the sfDir parquet tables.

DuckDB runs under a memory limit (a quarter of physical RAM, at most 4 GB),
at most four threads and a scratch spill directory, so an oracle query too
big for the host spills or fails fast with an error instead of starving
the host (and any JVM sharing it) of memory.
"""
import sys, json, glob, os, shutil, tempfile
import duckdb
import pandas as pd
import numpy as np

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.reset_index(drop=True)

def connect(spill_dir):
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    limit_mb = max(1024, min(4096, ram // 4 // (1 << 20)))
    return duckdb.connect(config={
        "memory_limit": f"{limit_mb}MB",
        "threads": min(4, os.cpu_count() or 1),
        "temp_directory": spill_dir,
    })

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    spill_dir = tempfile.mkdtemp(prefix="selfcheck_duckdb_")
    try:
        compare(connect(spill_dir), sf_dir, out_dir, only)
    finally:
        shutil.rmtree(spill_dir, ignore_errors=True)

def compare(con, sf_dir, out_dir, only):
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = n_skip = 0
    for name in sorted(oracle):
        if only and name not in only:
            continue
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"MISSING  {name}: no spark output")
            n_fail += 1
            continue
        try:
            got = norm(con.execute(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").df())
            want = norm(con.execute(oracle[name]).df())
        except Exception as e:
            print(f"ERROR    {name}: {e}")
            n_fail += 1
            continue
        if list(got.columns) != list(want.columns):
            print(f"COLS     {name}: spark={list(got.columns)} oracle={list(want.columns)}")
            n_fail += 1
            continue
        if len(got) != len(want):
            print(f"ROWS     {name}: spark={len(got)} oracle={len(want)}")
            n_fail += 1
            continue
        bad = None
        for c in got.columns:
            a, b = got[c], want[c]
            try:
                if a.dtype.kind == 'f' or b.dtype.kind == 'f':
                    ok = ((a.isna() & b.isna()) | (a == b)).all()
                elif a.dtype == object:
                    ok = a.where(pd.notna(a), None).map(lambda x: tuple(x) if isinstance(x, (list, np.ndarray)) else x)\
                         .equals(b.where(pd.notna(b), None).map(lambda x: tuple(x) if isinstance(x, (list, np.ndarray)) else x))
                else:
                    ok = a.equals(b)
            except Exception as e:
                ok = False
            if not ok:
                bad = c
                break
        if bad:
            m = (got[bad] != want[bad]) if got[bad].dtype != object else pd.Series([True]*len(got))
            try:
                idx = m[m.fillna(True)].index[:3]
                detail = "; ".join(f"row{j}: spark={got[bad][j]!r} oracle={want[bad][j]!r}" for j in idx)
            except Exception:
                detail = ""
            print(f"VAL      {name}: col {bad} differs. {detail}")
            n_fail += 1
        else:
            # dtype note (schema-match is part of the driver gate)
            dt = [(c, str(got[c].dtype), str(want[c].dtype)) for c in got.columns
                  if str(got[c].dtype) != str(want[c].dtype)]
            tag = f" [dtype: {dt}]" if dt else ""
            print(f"PASS     {name} ({len(got)} rows){tag}")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)

main()
