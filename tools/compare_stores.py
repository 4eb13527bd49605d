#!/usr/bin/env python3
"""Compare two pipeline stores row for row in DuckDB.

Usage: python3 tools/compare_stores.py A B [--drop-input-path]

Runs EXCEPT ALL both ways on each table of the stores A and B:
  data, llm       every column (the `bucket` partition included)
  _checkpoints    without started_ts / finished_ts
  _lineage        without run_ts (and input_path, with --drop-input-path)
A table missing from both stores is skipped; one missing from one store is
a difference. A table whose compared columns differ in name or type between
the stores is a difference too: each differing column is printed with both
types, and its rows are not compared (DuckDB would cast every row to a
common type first, which on a string against a bigint `doc_id` takes
minutes). Then prints the physical parquet type of every timestamp
column of every bookkeeping file, and the DuckDB types those files read as.
Files whose names start with `_` or `.` are skipped, as Spark skips them.
Exits 1 on any difference, 0 otherwise.
"""
import os
import sys

import duckdb

TABLES = {
    "data": [],
    "llm": [],
    "_checkpoints": ["started_ts", "finished_ts"],
    "_lineage": ["run_ts"],
}
TIMESTAMPS = {"_checkpoints": ["started_ts", "finished_ts"], "_lineage": ["run_ts"]}


def visible_files(table_dir):
    """Every *.parquet file under table_dir, skipping hidden names."""
    out = []
    for root, dirs, files in os.walk(table_dir):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        out += [os.path.join(root, f) for f in sorted(files)
                if f.endswith(".parquet") and not f.startswith(("_", "."))]
    return out


def column_types(con, files, excluded):
    """The compared columns of a table's files: name -> DuckDB type, in file order."""
    return {r[0]: r[1] for r in con.execute(
        "DESCRIBE SELECT * FROM read_parquet(?, hive_partitioning = true, union_by_name = true)",
        [files]).fetchall() if r[0] not in excluded}


def relation(files, cols):
    kept = ", ".join(f'"{c}"' for c in cols)
    return (f"SELECT {kept} FROM "
            f"read_parquet({files!r}, hive_partitioning = true, union_by_name = true)")


def main(argv):
    flags = {a for a in argv if a.startswith("--")}
    stores = [a for a in argv if not a.startswith("--")]
    if len(stores) != 2 or flags - {"--drop-input-path"}:
        sys.exit(__doc__)
    if "--drop-input-path" in flags:
        TABLES["_lineage"] = TABLES["_lineage"] + ["input_path"]
    con = duckdb.connect()
    differing = 0
    mismatched = 0
    for table, excluded in TABLES.items():
        files = [visible_files(os.path.join(s, table)) for s in stores]
        if not any(files):
            print(f"{table}: absent from both stores")
            continue
        if not all(files):
            print(f"{table}: DIFFERENT, present in one store only")
            differing += 1
            continue
        cols = [column_types(con, f, excluded) for f in files]
        if cols[0] != cols[1]:
            for c in list(cols[0]) + [c for c in cols[1] if c not in cols[0]]:
                ta, tb = (cs.get(c, "absent") for cs in cols)
                if ta != tb:
                    print(f"{table}: column {c}: A {ta}, B {tb}")
            print(f"{table}: DIFFERENT, column names or types differ; rows not compared")
            mismatched += 1
            continue
        a, b = (relation(f, cols[0]) for f in files)
        only_a = con.execute(f"SELECT count(*) FROM ({a} EXCEPT ALL {b})").fetchone()[0]
        only_b = con.execute(f"SELECT count(*) FROM ({b} EXCEPT ALL {a})").fetchone()[0]
        rows = [con.execute(f"SELECT count(*) FROM ({r})").fetchone()[0] for r in (a, b)]
        verdict = "same" if only_a == only_b == 0 else "DIFFERENT"
        print(f"{table}: {verdict}: rows {rows[0]} / {rows[1]}, "
              f"only in A {only_a}, only in B {only_b}")
        differing += only_a + only_b

    for label, store in zip("AB", stores):
        for table, columns in TIMESTAMPS.items():
            duck_types = {c: set() for c in columns}
            for f in visible_files(os.path.join(store, table)):
                physical = dict(con.execute(
                    "SELECT name, type || coalesce(' ' || converted_type, '') "
                    "FROM parquet_schema(?) WHERE list_contains(?, name)", [f, columns]).fetchall())
                print(f"{label} {os.path.relpath(f, store)}: " +
                      ", ".join(f"{c} {physical.get(c)}" for c in columns))
                for c, t in con.execute(
                        "SELECT column_name, column_type "
                        "FROM (DESCRIBE SELECT * FROM read_parquet(?))", [f]).fetchall():
                    if c in duck_types:
                        duck_types[c].add(t)
            for c, types in duck_types.items():
                print(f"{label} {table}.{c}: DuckDB types {sorted(types)}")

    print(f"{differing} differing rows, {mismatched} tables with differing columns")
    return 1 if differing or mismatched else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
