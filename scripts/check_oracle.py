"""Local replica of the driver's correctness gate: run each queries() entry
and its oracle_sql() in DuckDB at sf0.01; compare row count, schema shape,
and an order-insensitive value hash (columns sorted by name, rows sorted)."""
import hashlib
import os
import sys
import time

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
import __spark_entry__ as entry_mod
from mopper_spark.session import get_spark

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = sys.argv[2].split(",") if len(sys.argv) > 2 else None
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return f"{v:.9g}"
    return str(v)


def value_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(norm_cell(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def main():
    spark = get_spark(master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            df = fn(spark, SF)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            failures.append(name)
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"ROWS  {name}: {len(rows)} rows ({dt:.1f}s, no oracle)")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error {e}")
            failures.append(name)
            continue
        ok_count = len(rows) == len(orows)
        ok_schema = sorted(cols) == sorted(ocols)
        ok_hash = value_hash(rows, cols) == value_hash(orows, ocols)
        status = "OK   " if (ok_count and ok_schema and ok_hash) else "FAIL "
        print(f"{status} {name}: rows {len(rows)}/{len(orows)} schema={ok_schema} hash={ok_hash} ({dt:.1f}s)")
        if status.startswith("FAIL"):
            failures.append(name)
            if not ok_hash and ok_count and ok_schema:
                order = sorted(range(len(cols)), key=lambda i: cols[i])
                a = sorted("\x1f".join(norm_cell(r[i]) for i in order) for r in rows)
                oorder = sorted(range(len(ocols)), key=lambda i: ocols[i])
                b = sorted("\x1f".join(norm_cell(r[i]) for i in oorder) for r in orows)
                for x, y in zip(a, b):
                    if x != y:
                        print(f"   spark : {x[:200]}\n   oracle: {y[:200]}")
                        break
    print("FAILURES:", failures or "none")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
