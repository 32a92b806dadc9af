#!/usr/bin/env python3
"""Dev-only oracle self-check (mirrors the driver's t2 gate; NOT part of the
engine). Reads Verify output parquet + oracle_sql.json, runs each oracle in
DuckDB over the same sf dir, and compares values column-by-column.

Usage: python3 tools/check.py [--jobs N] <sfDir> <verifyOutDir> [query ...]

--jobs N runs the oracles in N worker processes, each with its own DuckDB
connection; the report stays sorted by query name. An oracle whose DuckDB
run takes over 30 s has its seconds appended to its line.
"""
import argparse, json, sys, time
from multiprocessing import Pool
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


SLOW_S = 30.0
_con = None
_con_error = None
_outdir = None
_failed = None


def _init(sfdir, outdir, failed):
    """One DuckDB connection per process, with a view per table. A failure is
    kept and reported per oracle: a pool initializer that raises is restarted
    without end."""
    global _con, _con_error, _outdir, _failed
    _outdir, _failed = outdir, failed
    try:
        _con = duckdb.connect()
        for t in TABLES:
            _con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")
    except Exception as e:
        _con_error = e


def check_one(item):
    """(name, sql) -> (report line, ok)."""
    name, sql = item
    if _con_error is not None:
        return f"{name}: DUCKDB ERROR {_con_error}", False
    t0 = time.monotonic()
    try:
        d = _con.execute(sql).df()
    except Exception as e:
        return f"{name}: DUCKDB ERROR {e}", False
    secs = time.monotonic() - t0
    msg = compare(name, load_spark(_outdir, name), d, _failed)
    ok = ": OK" in msg
    if secs > SLOW_S:
        msg += f" [duckdb {secs:.1f} s]"
    return msg, ok


def main():
    ap = argparse.ArgumentParser(description="compare Verify output with the DuckDB oracles")
    ap.add_argument("--jobs", type=int, default=1, help="worker processes (default 1)")
    ap.add_argument("sfdir")
    ap.add_argument("outdir")
    ap.add_argument("query", nargs="*")
    args = ap.parse_args()
    only = set(args.query)
    oracles = json.load(open(f"{args.outdir}/oracle_sql.json"))
    # Verify records each query that threw (name -> "class: message")
    try:
        failed = json.load(open(f"{args.outdir}/failed.json"))
    except FileNotFoundError:
        failed = {}
    items = [(n, q) for n, q in sorted(oracles.items()) if not only or n in only]
    ok = bad = 0
    with Pool(args.jobs, _init, (args.sfdir, args.outdir, failed)) as pool:
        for msg, good in pool.imap(check_one, items):
            print(msg, flush=True)
            if good:
                ok += 1
            else:
                bad += 1
    print(f"\n{ok} ok, {bad} bad")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
