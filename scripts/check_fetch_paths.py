"""Sweep every oracle_sql() entry for fetch-path type divergence in DuckDB.

The driver's correctness gate compares a value hash of the Spark result
against the DuckDB oracle result, but we do not control HOW it fetches the
DuckDB rows.  DuckDB maps some logical types differently per fetch path:

  SUM(int)      -> HUGEINT  -> fetchall: int | fetchdf: float64 | arrow: decimal128
  UBIGINT       ->          -> fetchall: int | fetchdf: uint64  | arrow: uint64

A column whose *python-level* rendering differs between fetchall() and a
pandas/Arrow fetch (e.g. "1" vs "1.0") makes the gate hash fail while rows
and schema still match — the exact r1/r2 `events_sessionize` signature.

This script runs each oracle through BOTH fetchall() and fetchdf() and
compares the per-path value hashes under two normalization recipes (plain
str(), and %.9g floats like scripts/check_oracle.py).  Any divergence is a
bug in the ORACLE SQL (fix: CAST aggregate outputs to BIGINT/DOUBLE), not
in the Spark query.  Exit 1 on any divergence.
"""
import hashlib
import math
import os
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
import __spark_entry__ as entry_mod

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_strict(v):
    """Plain str() — the least forgiving rendering."""
    if v is None:
        return "NULL"
    return str(v)


def norm_g9(v):
    """check_oracle.py's recipe: %.9g for floats, str otherwise."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return f"{v:.9g}"
    return str(v)


def hash_rows(rows, cols, norm):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(norm(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def main():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

    bad = []
    for name, sql in entry_mod.oracle_sql().items():
        cols = [d[0] for d in con.execute(sql).description]
        rows_native = con.execute(sql).fetchall()
        df = con.execute(sql).fetchdf()
        rows_pandas = [
            tuple(None if (isinstance(v, float) and math.isnan(v)) else v for v in r)
            for r in df.itertuples(index=False, name=None)
        ]
        verdicts = []
        for label, norm in (("str", norm_strict), ("g9", norm_g9)):
            h_native = hash_rows(rows_native, cols, norm)
            h_pandas = hash_rows(rows_pandas, list(df.columns), norm)
            verdicts.append((label, h_native == h_pandas))
        ok = all(v for _, v in verdicts)
        dtypes = {c: str(df[c].dtype) for c in df.columns}
        flag = "" if ok else "  <-- fetch-path divergence"
        print(f"{'OK  ' if ok else 'DIVG'} {name}: "
              + " ".join(f"{l}={'ok' if v else 'DIFF'}" for l, v in verdicts)
              + f" dtypes={dtypes}{flag}")
        if not ok:
            bad.append(name)
            # print the first row whose rendering differs
            for rn, rp in zip(sorted(map(str, rows_native)), sorted(map(str, rows_pandas))):
                if rn != rp:
                    print(f"   native: {rn[:200]}\n   pandas: {rp[:200]}")
                    break
    print("DIVERGENT:", bad or "none")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
