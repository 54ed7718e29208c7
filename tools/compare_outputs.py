"""Compare two graft.Verify output directories query by query.

Usage: python3 tools/compare_outputs.py <verify_out_a> <verify_out_b>

For each query (a subdirectory holding Parquet files on either side) it
compares the column names, DuckDB types and Parquet repetition (REQUIRED
or OPTIONAL, i.e. Spark nullability), in order, and the rows as a
multiset (EXCEPT ALL both ways, so row order and partitioning do not
matter and NULLs match NULLs). Prints one line per query, then
`N/M IDENTICAL`, and exits non-zero on any difference or on a query
missing from one side.
"""
import glob, os, sys
import duckdb


def queries(out):
    return {d for d in os.listdir(out) if glob.glob(f"{out}/{d}/*.parquet")}


def schema(con, out, name):
    files = f"'{out}/{name}/*.parquet'"
    rep = dict(con.execute(
        f"SELECT DISTINCT name, repetition_type FROM parquet_schema({files})").fetchall())
    cols = con.execute(f"DESCRIBE SELECT * FROM read_parquet({files})").fetchall()
    return [(c[0], c[1], rep.get(c[0])) for c in cols]


def main(a, b):
    qa, qb = queries(a), queries(b)
    names = sorted(qa | qb)
    con = duckdb.connect()
    same = 0
    for name in names:
        if name not in qa or name not in qb:
            print(f"{name}: MISSING from {a if name not in qa else b}")
            continue
        ra = f"read_parquet('{a}/{name}/*.parquet')"
        rb = f"read_parquet('{b}/{name}/*.parquet')"
        cols_a, cols_b = schema(con, a, name), schema(con, b, name)
        if cols_a != cols_b:
            print(f"{name}: SCHEMA {cols_a} vs {cols_b}")
            continue
        n = con.execute(f"SELECT count(*) FROM {ra}").fetchone()[0]
        only_a = con.execute(f"SELECT count(*) FROM (SELECT * FROM {ra} EXCEPT ALL SELECT * FROM {rb})").fetchone()[0]
        only_b = con.execute(f"SELECT count(*) FROM (SELECT * FROM {rb} EXCEPT ALL SELECT * FROM {ra})").fetchone()[0]
        if only_a or only_b:
            print(f"{name}: ROWS differ, {only_a} only in a, {only_b} only in b")
            continue
        print(f"{name}: IDENTICAL rows={n}")
        same += 1
    print(f"{same}/{len(names)} IDENTICAL")
    return 0 if names and same == len(names) else 1


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
