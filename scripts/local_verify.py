#!/usr/bin/env python3
"""Local stand-in for the driver's t2 correctness gate.

Runs each oracle SQL from oracle_sql.json in DuckDB over the same parquet
tables, loads the engine's parquet output, and compares:
  - row count
  - schema (column names, sorted)
  - values, bit-exact, in produced row order (queries are totally ordered)
  - a canonical order-insensitive hash as a fallback signal

Each oracle line carries its DuckDB seconds; the five slowest oracles are
listed after the totals.

Usage: python3 scripts/local_verify.py <sfDir> <outDir> [query ...]
(Assumes `sbt "runMain graft.Verify <sfDir> <outDir>"` already ran.)
"""
import json
import sys
import time

import duckdb
import numpy as np
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
    return df


def main() -> int:
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    oracle_s = {}  # query -> DuckDB seconds
    # Rows-only queries: output parquet exists but no oracle entry.
    import os
    for d in sorted(os.listdir(out_dir)):
        if d in oracle or not os.path.isdir(f"{out_dir}/{d}"):
            continue
        if only and d not in only:
            continue
        try:
            n = len(pd.read_parquet(f"{out_dir}/{d}"))
            print(f"{'PASS' if n > 0 else 'FAIL'} {d} (rows-only: {n} rows)")
            n_pass, n_fail = (n_pass + 1, n_fail) if n > 0 else (n_pass, n_fail + 1)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {d} (rows-only): {e}")
            n_fail += 1
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        t0 = time.perf_counter()
        try:
            try:
                exp = canon(con.sql(sql).df())
            finally:
                oracle_s[name] = time.perf_counter() - t0
            got = canon(pd.read_parquet(f"{out_dir}/{name}"))
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name} (duckdb {oracle_s[name]:.2f} s): load error: {e}")
            n_fail += 1
            continue
        problems = []
        if list(exp.columns) != list(got.columns):
            problems.append(f"columns exp={list(exp.columns)} got={list(got.columns)}")
        elif len(exp) != len(got):
            problems.append(f"rows exp={len(exp)} got={len(got)}")
        else:
            for c in exp.columns:
                e_, g_ = exp[c], got[c]
                if pd.api.types.is_float_dtype(e_) and pd.api.types.is_float_dtype(g_):
                    both_nan = e_.isna() & g_.isna()
                    eq = (e_.values == g_.values) | both_nan.values
                    if not eq.all():
                        d = np.nanmax(np.abs(e_.values - g_.values))
                        i = int(np.argmin(eq))
                        problems.append(
                            f"col {c}: {int((~eq).sum())} diffs, maxabs={d:.3e}, "
                            f"first@{i}: exp={e_.iloc[i]} got={g_.iloc[i]}")
                else:
                    eq = (e_.astype(str).values == g_.astype(str).values)
                    if not eq.all():
                        i = int(np.argmin(eq))
                        problems.append(
                            f"col {c}: {int((~eq).sum())} diffs (dtype exp={e_.dtype} "
                            f"got={g_.dtype}), first@{i}: exp={e_.iloc[i]!r} got={g_.iloc[i]!r}")
        if problems:
            n_fail += 1
            print(f"FAIL {name} (duckdb {oracle_s[name]:.2f} s):")
            for p in problems:
                print(f"   {p}")
        else:
            n_pass += 1
            print(f"PASS {name} ({len(exp)} rows x {len(exp.columns)} cols, "
                  f"duckdb {oracle_s[name]:.2f} s)")
    print(f"\n{n_pass} pass, {n_fail} fail")
    if oracle_s:
        print("slowest oracles (DuckDB seconds):")
        for name, secs in sorted(oracle_s.items(), key=lambda kv: -kv[1])[:5]:
            print(f"  {secs:8.2f}  {name}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
