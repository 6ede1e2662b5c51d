"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at sf0.01, compare row count,
column names, and an order-insensitive value hash.

Usage: python scripts/check_contract.py [sf_dir] [query ...]

Each oracle runs under ORACLE_BUDGET_S; one that overruns is interrupted
and reported as TIMEOUT, a failure like any other.
"""

from __future__ import annotations

import hashlib
import sys
import threading
from pathlib import Path

import duckdb

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

# seconds one oracle query may run on DuckDB before it is interrupted
ORACLE_BUDGET_S = 300

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_value(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        return f"{v:.17g}"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{norm_value(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def table_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(norm_value(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from pii_redactor_spark.session import get_spark

    spark = get_spark("contract-check", master="local[8]")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    from pii_redactor_spark.operators.cache import release_caches

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        srows = [tuple(r) for r in sdf.collect()]
        release_caches()  # operator-internal persists, per-query lifecycle
        scols = sdf.columns
        if name not in oracles:
            print(f"{name:28s} rows-only: {len(srows)} rows")
            continue
        timer = threading.Timer(ORACLE_BUDGET_S, con.interrupt)
        timer.start()
        try:
            orel = con.execute(oracles[name])
            ocols = [d[0] for d in orel.description]
            orows = orel.fetchall()
        except duckdb.InterruptException:
            failures += 1
            print(f"{name:28s} TIMEOUT  oracle over {ORACLE_BUDGET_S} s")
            continue
        finally:
            timer.cancel()
        ok_rows = len(srows) == len(orows)
        ok_cols = sorted(scols) == sorted(ocols)
        sh, oh = table_hash(scols, srows), table_hash(ocols, orows)
        ok_hash = sh == oh
        status = "OK" if (ok_rows and ok_cols and ok_hash) else "FAIL"
        if status == "FAIL":
            failures += 1
        print(f"{name:28s} {status}  rows {len(srows)}/{len(orows)} "
              f"cols={'=' if ok_cols else scols} hash {sh}/{oh}")
        if status == "FAIL" and ok_cols and ok_rows:
            # show a few differing rows for debugging
            sset = {tuple(norm_value(v) for v in r) for r in srows}
            oset = {tuple(norm_value(v) for v in r) for r in orows}
            for r in list(sset - oset)[:3]:
                print("   spark-only:", r)
            for r in list(oset - sset)[:3]:
                print("   oracle-only:", r)
    print("failures:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
