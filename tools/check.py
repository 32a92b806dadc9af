#!/usr/bin/env python3
"""Dev-only oracle self-check (mirrors the driver's t2 gate; NOT part of the
engine). Reads Verify output parquet + oracle_sql.json, runs each oracle in
DuckDB over the same sf dir, and compares values column-by-column.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [query ...]
"""
import json, math, sys
import duckdb
import pyarrow.parquet as pq
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def load_spark(outdir, name):
    import glob
    files = glob.glob(f"{outdir}/{name}/*.parquet")
    if not files:
        return None
    return pq.read_table(files[0]).to_pandas()


def norm(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            try:
                df[c] = df[c].astype(str)
            except Exception:
                pass
    return df.reset_index(drop=True)


def compare(name, s, d, failed):
    if s is None:
        if name in failed:
            return f"{name}: FAILED in Verify: {failed[name]}"
        return f"{name}: MISSING spark output"
    s, d = norm(s), norm(d)
    if list(s.columns) != list(d.columns):
        return f"{name}: COLUMN MISMATCH spark={list(s.columns)} duck={list(d.columns)}"
    if len(s) != len(d):
        return f"{name}: ROWCOUNT MISMATCH spark={len(s)} duck={len(d)}"
    for c in s.columns:
        sv, dv = s[c], d[c]
        try:
            if sv.dtype.kind == "f" or dv.dtype.kind == "f":
                sn = sv.astype(float)
                dn = dv.astype(float)
                both_nan = sn.isna() & dn.isna()
                eq = (sn == dn) | both_nan
            else:
                eq = (sv.astype(str) == dv.astype(str)) | (sv.isna() & dv.isna())
        except Exception as e:
            return f"{name}: compare error col {c}: {e}"
        if not eq.all():
            i = int((~eq).idxmax())
            return (f"{name}: VALUE MISMATCH col={c} row={i} "
                    f"spark={sv.iloc[i]!r} duck={dv.iloc[i]!r} "
                    f"(n_bad={int((~eq).sum())})")
    return f"{name}: OK ({len(s)} rows, {len(s.columns)} cols)"


def main():
    sfdir, outdir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")
    oracles = json.load(open(f"{outdir}/oracle_sql.json"))
    # Verify records each query that threw (name -> "class: message")
    try:
        failed = json.load(open(f"{outdir}/failed.json"))
    except FileNotFoundError:
        failed = {}
    ok = bad = 0
    for name, sql in sorted(oracles.items()):
        if only and name not in only:
            continue
        try:
            d = con.execute(sql).df()
        except Exception as e:
            print(f"{name}: DUCKDB ERROR {e}")
            bad += 1
            continue
        msg = compare(name, load_spark(outdir, name), d, failed)
        print(msg)
        if ": OK" in msg:
            ok += 1
        else:
            bad += 1
    print(f"\n{ok} ok, {bad} bad")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
