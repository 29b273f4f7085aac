#!/usr/bin/env python3
"""Compare two `graft.Main create` output directories table by table
(dev tool only).

    python3 tools/catalog_diff.py A B

For each of the tables `create` writes (frames, frames_bursts,
burst_id_map) it compares:
  - the parquet schema, read with pyarrow from every part file: column
    names, their order, types and nullability;
  - the rows, as multisets: DuckDB `EXCEPT ALL` in both directions, with
    B's columns taken in A's order.
It prints one line per table ("identical" or what differs, with up to three
rows from each side, long strings cut) and exits 1 on any difference or
missing table.
"""
import argparse
import glob
import os
import sys

import duckdb
import pyarrow.parquet as pq

TABLES = ("frames", "frames_bursts", "burst_id_map")
SHOW = 3
CUT = 80


def part_files(root, table):
    return sorted(glob.glob(os.path.join(root, table, "*.parquet")))


def schema_of(files):
    """[(name, type, nullable)] shared by every part file, or an error string."""
    schemas = {tuple((f.name, str(f.type), f.nullable) for f in pq.read_schema(p))
               for p in files}
    if len(schemas) != 1:
        return f"{len(schemas)} different schemas across {len(files)} part files"
    return list(schemas.pop())


def quote(name):
    return '"' + name.replace('"', '""') + '"'


def except_all(con, left, right, cols):
    """Rows of `left` that `right` lacks, counting duplicates, and how many."""
    sel = ", ".join(quote(c) for c in cols)
    sql = (f"SELECT {sel} FROM read_parquet({left!r}) EXCEPT ALL "
           f"SELECT {sel} FROM read_parquet({right!r})")
    n = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
    rows = con.execute(f"{sql} LIMIT {SHOW}").fetchall()
    return n, [tuple(v[:CUT] + "..." if isinstance(v, str) and len(v) > CUT else v for v in r)
               for r in rows]


def diff_table(con, a, b, table):
    """Problems found in one table (empty when identical), and A's row count."""
    fa, fb = part_files(a, table), part_files(b, table)
    if not fa or not fb:
        return [f"missing in {'A' if not fa else 'B'}"], 0
    problems = []
    sa, sb = schema_of(fa), schema_of(fb)
    for side, s in (("A", sa), ("B", sb)):
        if isinstance(s, str):
            problems.append(f"{side}: {s}")
    if problems:
        return problems, 0
    if sa != sb:
        problems.append(f"schema A {sa}")
        problems.append(f"schema B {sb}")
    cols = [name for name, _, _ in sa]
    if sorted(cols) != sorted(name for name, _, _ in sb):
        return problems, 0
    for label, left, right in (("A not B", fa, fb), ("B not A", fb, fa)):
        n, rows = except_all(con, left, right, cols)
        if n:
            problems.append(f"{n} rows in {label}, e.g. {rows}")
    rows_a = con.execute(f"SELECT count(*) FROM read_parquet({fa!r})").fetchone()[0]
    return problems, rows_a


def diff_catalogs(a, b):
    """{table: (problems, rows in A)} for every table."""
    con = duckdb.connect()
    return {t: diff_table(con, a, b, t) for t in TABLES}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("a")
    ap.add_argument("b")
    args = ap.parse_args()
    failed = False
    for table, (problems, rows) in diff_catalogs(args.a, args.b).items():
        if problems:
            failed = True
            print(f"{table}: DIFFERENT")
            for p in problems:
                print(f"  {p}")
        else:
            print(f"{table}: identical ({rows} rows)")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
