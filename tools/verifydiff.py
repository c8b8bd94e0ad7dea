#!/usr/bin/env python3
"""Compare two graft.Verify output directories, query by query.

Usage: verifydiff.py <verifyOutA> <verifyOutB> [query ...]

For each query (every <name>/ directory holding parquet on either side,
or only the named ones) DuckDB checks that both sides have the same
schema (column names and types, and the Parquet schema: repetition and
logical types) and the same multiset of rows. oracle_sql.json is compared
byte for byte. Prints one line per query and one for oracle_sql.json:

    EQUAL    <name> (<rows> rows)
    DIFF     <name>: <what differs>
    MISSING  <name>: <which side has no output>

and exits non-zero if any line is not EQUAL. DuckDB runs capped (a
quarter of RAM, at most 4 GB; at most four threads; a scratch spill
directory), as in selfcheck.py.
"""
import glob, os, shutil, sys, tempfile
import duckdb

PARQUET_SCHEMA_COLS = ("name, type, type_length, repetition_type, num_children, "
                       "converted_type, scale, precision, field_id, logical_type")


def connect(spill_dir):
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    limit_mb = max(1024, min(4096, ram // 4 // (1 << 20)))
    return duckdb.connect(config={
        "memory_limit": f"{limit_mb}MB",
        "threads": min(4, os.cpu_count() or 1),
        "temp_directory": spill_dir,
    })


def queries(out_dir):
    return {os.path.basename(os.path.dirname(p))
            for p in glob.glob(f"{out_dir}/*/*.parquet")}


def compare(con, a_dir, b_dir, name):
    """One result line for `name`; the first word is its status."""
    a, b = f"{a_dir}/{name}/*.parquet", f"{b_dir}/{name}/*.parquet"
    have_a, have_b = bool(glob.glob(a)), bool(glob.glob(b))
    if not (have_a and have_b):
        side = "A" if not have_a else "B"
        return f"MISSING  {name}: no output in {side}"
    cols_a = con.execute(f"DESCRIBE SELECT * FROM read_parquet('{a}')").fetchall()
    cols_b = con.execute(f"DESCRIBE SELECT * FROM read_parquet('{b}')").fetchall()
    if [c[:2] for c in cols_a] != [c[:2] for c in cols_b]:
        return f"DIFF     {name}: columns {[c[:2] for c in cols_a]} vs {[c[:2] for c in cols_b]}"
    pq = [con.execute(f"SELECT DISTINCT {PARQUET_SCHEMA_COLS} FROM parquet_schema('{g}') "
                      "ORDER BY ALL").fetchall() for g in (a, b)]
    if pq[0] != pq[1]:
        return f"DIFF     {name}: parquet schema differs"
    n_a, n_b = (con.execute(f"SELECT COUNT(*) FROM read_parquet('{g}')").fetchone()[0]
                for g in (a, b))
    only_a, only_b = (con.execute(
        f"SELECT COUNT(*) FROM (SELECT * FROM read_parquet('{x}') "
        f"EXCEPT ALL SELECT * FROM read_parquet('{y}'))").fetchone()[0]
        for x, y in ((a, b), (b, a)))
    if only_a or only_b:
        return (f"DIFF     {name}: {n_a} vs {n_b} rows, {only_a} only in A, "
                f"{only_b} only in B")
    return f"EQUAL    {name} ({n_a} rows)"


def oracle_line(a_dir, b_dir):
    paths = [f"{d}/oracle_sql.json" for d in (a_dir, b_dir)]
    missing = [side for side, p in zip("AB", paths) if not os.path.exists(p)]
    if missing:
        return f"MISSING  oracle_sql.json: not in {', '.join(missing)}"
    same = open(paths[0], "rb").read() == open(paths[1], "rb").read()
    return f"{'EQUAL' if same else 'DIFF':<8} oracle_sql.json"


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    a_dir, b_dir = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or sorted(queries(a_dir) | queries(b_dir))
    spill_dir = tempfile.mkdtemp(prefix="verifydiff_duckdb_")
    try:
        con = connect(spill_dir)
        lines = []
        for name in names:
            try:
                lines.append(compare(con, a_dir, b_dir, name))
            except Exception as e:
                lines.append(f"DIFF     {name}: {e}")
            print(lines[-1], flush=True)
        lines.append(oracle_line(a_dir, b_dir))
        print(lines[-1])
    finally:
        shutil.rmtree(spill_dir, ignore_errors=True)
    bad = sum(not l.startswith("EQUAL") for l in lines)
    print(f"\n{len(lines) - bad} equal, {bad} differ or missing")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
