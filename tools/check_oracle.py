#!/usr/bin/env python3
"""Local replica of the driver's DuckDB correctness gate.

Usage: python3 tools/check_oracle.py <verify_out_dir> <sf_dir>

For each <name>/ parquet dir in verify_out_dir, runs oracle_sql.json[name]
in DuckDB over the sf_dir parquet tables, sorts columns by name, sorts rows,
and compares values. Each result line ends with the gate's wall seconds
(read, oracle query and compare); a TOTAL line gives the sum.

MATCHES THE DRIVER'S HASH SEMANTICS (hardened after round 10): the driver
hashes raw bytes, so this checker is dtype-strict (an int64 column vs a
float64 column fails BEFORE any value compare — catches DuckDB HUGEINT
leaking through the pandas bridge as float64) and float columns compare
BIT-EXACT via an int64 view (catches -0.0 vs +0.0, which `==`/isclose
treat as equal but the driver's byte hash does not). On the first
difference it prints the row, both values, and both bit patterns in hex.
"""
import json, sys, glob, os, time
import duckdb
import numpy as np
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df

def float_bits(s: pd.Series) -> np.ndarray:
    """Bit pattern of a float64 column; NaN slots canonicalised so that
    null==null passes but -0.0 vs +0.0 (different bits, equal values)
    fails — exactly what a byte hash sees after parquet canonicalises NaN."""
    v = s.astype(np.float64).values.copy()
    v[np.isnan(v)] = np.nan  # canonical quiet NaN for both sides
    return v.view(np.int64)

def main(out_dir, sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    failures = 0
    t0 = time.perf_counter()
    for name in sorted(oracle):
        failures += check(con, oracle[name], name, out_dir)
    print(f"TOTAL           {len(oracle)} gates  {time.perf_counter() - t0:.1f}s")
    print("FAILURES:", failures)
    return failures

def check(con, sql, name, out_dir):
    """Compare one gate's output with its oracle; print one line ending in
    the gate's wall seconds; return 1 on a failure, else 0."""
    t0 = time.perf_counter()
    def report(line):
        print(f"{line}  {time.perf_counter() - t0:.1f}s")
    files = glob.glob(f"{out_dir}/{name}/*.parquet")
    if not files:
        report(f"MISSING OUTPUT  {name}")
        return 1
    got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    want = con.sql(sql).df()
    g, w = norm(got), norm(want)
    if list(g.columns) != list(w.columns):
        report(f"SCHEMA MISMATCH {name}: got {list(g.columns)} want {list(w.columns)}")
        return 1
    if len(g) != len(w):
        report(f"ROWS MISMATCH   {name}: got {len(g)} want {len(w)}")
        return 1
    bad = []
    for c in g.columns:
        a, b = g[c], w[c]
        try:
            ak, bk = a.dtype.kind, b.dtype.kind
            # dtype-strict BEFORE value compare: the driver hashes
            # bytes, so int64-vs-float64 is a failure even when the
            # values coerce equal (DuckDB HUGEINT -> float64 leak).
            if (ak == 'f') != (bk == 'f'):
                bad.append((c, len(g),
                            f"DTYPE spark={a.dtype} oracle={b.dtype}"))
                continue
            if ak == 'f':
                ab, bb = float_bits(a), float_bits(b)
                neq = ab != bb
                if neq.any():
                    i = int(neq.argmax())
                    bad.append((c, int(neq.sum()),
                                f"row {i}: {a.values[i]!r} vs {b.values[i]!r}"
                                f" bits {int(ab[i]) & (2**64-1):016x} vs"
                                f" {int(bb[i]) & (2**64-1):016x}"))
            else:
                av = a.astype(str).values
                bv = b.astype(str).values
                neq = av != bv
                if neq.any():
                    i = int(neq.argmax())
                    bad.append((c, int(neq.sum()), f"e.g. row {i}: {av[i]!r} vs {bv[i]!r}"))
        except Exception as e:
            bad.append((c, -1, f"compare error: {e}"))
    if bad:
        report(f"VALUE MISMATCH  {name}: {bad[:3]}")
        return 1
    report(f"OK              {name}  rows={len(g)}")
    return 0

if __name__ == "__main__":
    sys.exit(1 if main(sys.argv[1], sys.argv[2]) else 0)
