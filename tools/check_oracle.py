#!/usr/bin/env python3
"""Local mirror of the driver's t2 correctness gate.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name>/ parquet (written by graft.Verify), runs
<verifyOutDir>/oracle_sql.json's SQL in DuckDB against the same testdata
parquet tables, canonicalizes both results (columns sorted by name, rows
sorted), and reports exact / near / mismatch per query. Every query named
in <verifyOutDir>/queries.json (the ones Verify ran) is counted: one that
left no output dir fails as NO OUTPUT.
"""
import sys, os, json, glob
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # stringify for stable sort of mixed types
    key = df.astype(str).apply(lambda r: "\x00".join(r.values), axis=1) if len(df) else None
    if key is not None:
        df = df.iloc[key.sort_values(kind="mergesort").index].reset_index(drop=True)
    return df

def compare(name, spark_df, duck_df):
    a, b = canon(spark_df), canon(duck_df)
    if list(a.columns) != list(b.columns):
        return f"SCHEMA mismatch: spark={list(a.columns)} duck={list(b.columns)}"
    if len(a) != len(b):
        return f"ROWS mismatch: spark={len(a)} duck={len(b)}"
    issues = []
    for c in a.columns:
        av, bv = a[c], b[c]
        # the driver hashes str(value): an int column on one side and a
        # float on the other (DuckDB sum(BIGINT) -> HUGEINT -> float64)
        # hashes 123 vs 123.0 as a MISMATCH even when values are equal —
        # surface that here instead of silently coercing (round-5 lesson)
        if pd.api.types.is_float_dtype(av) != pd.api.types.is_float_dtype(bv):
            issues.append(
                f"col {c}: DTYPE split spark={av.dtype} duck={bv.dtype} "
                "(driver hash WILL mismatch; CAST the oracle column)")
            continue
        if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
            import numpy as np
            av = pd.to_numeric(av, errors="coerce"); bv = pd.to_numeric(bv, errors="coerce")
            # NULL-vs-number is a diff (the driver hashes str(value) and
            # fails it), but NaN - number = NaN and NaN > 0 is False, so
            # the subtraction test below is BLIND to it — the r9 judge's
            # process finding: e_ewma's 1 050 NULL rows read as "equal"
            # here for two rounds. Flag NA-mask mismatches explicitly;
            # NaN-vs-NaN (both null) stays equal.
            na_split = av.isna() != bv.isna()
            if na_split.any():
                i = na_split.idxmax()
                issues.append(
                    f"col {c}: {na_split.sum()} NULL-vs-number diffs, "
                    f"e.g. row {i}: spark={av[i]!r} duck={bv[i]!r}")
            d = (av - bv).abs()
            bad = d[d > 0]
            if len(bad):
                issues.append(f"col {c}: {len(bad)} diffs, max={bad.max():.3e}")
        else:
            neq = (av.astype(str) != bv.astype(str))
            if neq.any():
                i = neq.idxmax()
                issues.append(f"col {c}: {neq.sum()} diffs, e.g. {av[i]!r} vs {bv[i]!r}")
    return "; ".join(issues) if issues else None

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)
    results = {}
    names = {d for d in os.listdir(out_dir) if os.path.isdir(os.path.join(out_dir, d))}
    ran = f"{out_dir}/queries.json"
    if os.path.exists(ran):
        with open(ran) as f:
            names |= set(json.load(f))
    else:
        print(f"note: no {ran}; checking only the output dirs that exist")
    for name in sorted(names):
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            results[name] = "NO OUTPUT"
            continue
        spark_df = pd.concat([pd.read_parquet(p) for p in files], ignore_index=True)
        if name not in oracles:
            results[name] = f"rows-only ({len(spark_df)} rows)" + (" EMPTY!" if not len(spark_df) else "")
            continue
        try:
            duck_df = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            results[name] = f"ORACLE SQL ERROR: {e}"
            continue
        diff = compare(name, spark_df, duck_df)
        results[name] = "OK" if diff is None else diff
    width = max(len(n) for n in results) if results else 10
    fails = 0
    for n, r in sorted(results.items()):
        flag = "PASS" if (r == "OK" or r.startswith("rows-only")) and "EMPTY" not in r else "FAIL"
        if flag == "FAIL": fails += 1
        print(f"{flag}  {n:<{width}}  {r}")
    print(f"\n{len(results) - fails}/{len(results)} pass")
    sys.exit(1 if fails else 0)

if __name__ == "__main__":
    main()
