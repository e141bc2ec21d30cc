#!/usr/bin/env python3
"""Compare two Verify output directories query by query.

    python3 tools/out_same.py A B

A and B are `graft.Verify` output directories: one sub-directory of
parquet files per query. Each query's rows are read with DuckDB and put
in `tools/check.py`'s canonical form (columns sorted by name, rows
sorted by all columns); two outputs are the same when their columns,
dtypes and cells are. Prints every key that differs or is missing on
one side, then the counts. Exits 1 on any difference or missing key.
"""
import glob
import os
import sys

import duckdb

from check import canon


def outputs(root):
    """Query name -> its parquet files, for every sub-directory of root."""
    return {d: sorted(glob.glob(os.path.join(root, d, "*.parquet")))
            for d in os.listdir(root) if os.path.isdir(os.path.join(root, d))}


def read(con, files):
    return canon(con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf())


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = outputs(sys.argv[1]), outputs(sys.argv[2])
    con = duckdb.connect()
    same = bad = 0
    for k in sorted(a.keys() | b.keys()):
        if not a.get(k) or not b.get(k):
            side = "A" if not a.get(k) else "B"
            print(f"MISSING {k}: no output in {side}")
            bad += 1
            continue
        x, y = read(con, a[k]), read(con, b[k])
        if list(x.columns) != list(y.columns):
            print(f"DIFF {k}: columns {list(x.columns)} vs {list(y.columns)}")
        elif list(x.dtypes) != list(y.dtypes):
            print(f"DIFF {k}: dtypes {list(map(str, x.dtypes))} vs {list(map(str, y.dtypes))}")
        elif len(x) != len(y):
            print(f"DIFF {k}: rows {len(x)} vs {len(y)}")
        elif not x.equals(y):
            print(f"DIFF {k}: cells")
        else:
            same += 1
            continue
        bad += 1
    print(f"== {same + bad} keys: {same} identical, {bad} differ or missing ==")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
