#!/usr/bin/env python3
"""Local correctness self-check, mimicking the driver's DuckDB oracle.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

Reads <verifyOutDir>/oracle_sql.json, runs each SQL in DuckDB with views
named after the parquet tables in <sfDir>, and compares against the
Spark parquet dump in <verifyOutDir>/<name>/. Each oracle's DuckDB
seconds (execute + fetch) go to <verifyOutDir>/oracle_times.json. Columns sorted by name,
rows sorted by all columns, exact compare with a float-tolerance
fallback report so near-misses are distinguishable from hard mismatches.

NOT part of the engine — dev-only harness (driver-side python).
"""
import json, math, sys, glob, time
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes for compare
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            # decimals -> float? keep as str for exactness
            df[c] = df[c].map(lambda v: str(v) if v is not None else None)
    df = df.sort_values(by=list(df.columns), kind="mergesort", na_position="last")
    return df.reset_index(drop=True)

def cells_equal(a, b):
    if a is None and b is None:
        return True
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    return a == b

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        try:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        except Exception:
            pass
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    times = {}
    for name, sql in sorted(oracle.items()):
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        try:
            got = canon(con.execute(
                f"SELECT * FROM read_parquet({files!r})").fetchdf())
        except Exception as e:
            print(f"FAIL {name}: cannot read spark output: {e}"); n_fail += 1; continue
        t0 = time.perf_counter()
        try:
            exp = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}"); n_fail += 1; continue
        finally:
            times[name] = round(time.perf_counter() - t0, 3)
        exp = canon(exp)
        if list(got.columns) != list(exp.columns):
            print(f"FAIL {name}: columns spark={list(got.columns)} oracle={list(exp.columns)}")
            n_fail += 1; continue
        if len(got) != len(exp):
            print(f"FAIL {name}: rows spark={len(got)} oracle={len(exp)}")
            n_fail += 1; continue
        # dtype-KIND mismatch (int64 vs float64/object) survives cells_equal
        # (1 == 1.0) but fails the driver's hash compare — e.g. DuckDB SUM
        # over integers returns HUGEINT → pandas float64, while Spark emits
        # BIGINT. Flag it hard so the oracle gets an explicit CAST.
        kind_bad = [(c, str(got[c].dtype), str(exp[c].dtype))
                    for c in got.columns
                    if got[c].dtype.kind != exp[c].dtype.kind]
        if kind_bad:
            c, gk, ek = kind_bad[0]
            print(f"FAIL {name}: dtype kind col={c} spark={gk} oracle={ek}")
            n_fail += 1; continue
        bad = None
        for c in got.columns:
            gv, ev = got[c].tolist(), exp[c].tolist()
            for i, (a, b) in enumerate(zip(gv, ev)):
                if not cells_equal(a, b):
                    close = (isinstance(a, float) and isinstance(b, float)
                             and abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b)))
                    bad = (c, i, a, b, close)
                    break
            if bad:
                break
        if bad:
            c, i, a, b, close = bad
            tag = "NEAR" if close else "FAIL"
            print(f"{tag} {name}: col={c} row={i} spark={a!r} oracle={b!r}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(got)} rows)")
            n_pass += 1
    with open(f"{out_dir}/oracle_times.json", "w") as f:
        json.dump(times, f, indent=1, sort_keys=True)
    print(f"== {n_pass} pass / {n_fail} fail ==")
    print(f"== oracle total {sum(times.values()):.1f} s ==")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
