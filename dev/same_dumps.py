#!/usr/bin/env python3
"""Compare two `graft.Verify` dump directories query by query.

    python3 dev/same_dumps.py <dumpA> <dumpB> [query ...]

For each query (default: every query directory in either dump) the two
dumps must have the same column names and types, and `EXCEPT ALL` must be
empty in both directions (same rows, same multiplicities). Prints one line
per query and exits non-zero if any query differs or is missing."""
import glob
import os
import sys

import duckdb


def queries(dump):
    return {os.path.basename(os.path.dirname(p))
            for p in glob.glob(f"{dump}/*/*.parquet")}


def compare(con, a, b):
    """Return None when the two dumps of one query are identical, else why not."""
    ra = con.sql(f"SELECT * FROM read_parquet('{a}/*.parquet')")
    rb = con.sql(f"SELECT * FROM read_parquet('{b}/*.parquet')")
    sa = list(zip(ra.columns, map(str, ra.types)))
    sb = list(zip(rb.columns, map(str, rb.types)))
    if sa != sb:
        return f"schema {sa} != {sb}"
    cols = ", ".join(f'"{c}"' for c in ra.columns)
    def extra(x, y):
        return con.sql(f"SELECT count(*) FROM (SELECT {cols} FROM read_parquet('{x}/*.parquet') "
                       f"EXCEPT ALL SELECT {cols} FROM read_parquet('{y}/*.parquet'))").fetchone()[0]
    only_a, only_b = extra(a, b), extra(b, a)
    if only_a or only_b:
        return f"{only_a} rows only in A, {only_b} rows only in B"
    return None


def main(argv):
    if len(argv) < 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    dump_a, dump_b, names = argv[1], argv[2], argv[3:]
    names = names or sorted(queries(dump_a) | queries(dump_b))
    con = duckdb.connect()
    n_diff = 0
    for q in names:
        a, b = f"{dump_a}/{q}", f"{dump_b}/{q}"
        missing = [d for d in (a, b) if not glob.glob(f"{d}/*.parquet")]
        if missing:
            why = "no dump in " + " and ".join(missing)
        else:
            why = compare(con, a, b)
        if why is None:
            n_rows = con.sql(f"SELECT count(*) FROM read_parquet('{a}/*.parquet')").fetchone()[0]
            print(f"SAME {q}: {n_rows} rows")
        else:
            n_diff += 1
            print(f"DIFF {q}: {why}")
    print(f"== {len(names) - n_diff} same, {n_diff} different ==")
    return 1 if n_diff else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
