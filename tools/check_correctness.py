"""Local mimic of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given sf dir, then compares: row count, column-name set,
and an order-insensitive multiset of canonicalized rows (columns sorted
by name — the driver's documented compare). Strict value equality: our
query/oracle pairs are designed to be bit-identical (exact decimal math,
deterministic tie-breaks), so any diff is a real bug.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time
from datetime import date, datetime
from decimal import Decimal

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if v is None:
        return "\0NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def rows_to_multiset(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from pyspark.sql import SparkSession

    # PLAIN session, deliberately NOT session.get_spark: the external
    # driver imports the entry module with its own vanilla SparkSession,
    # so every config a query needs must be set inside registry.load()
    # (nanosAsLong, UTC, ANSI off). Running the gate under the tuned
    # factory would mask config-dependence bugs — the r4 TIMESTAMP_NTZ
    # crash was exactly this class.
    spark = (SparkSession.builder.appName("correctness-check")
             .master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]")
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.driver.memory",
                     os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    from airline_data_warehouse_spark.operators.dedup import cache_scope

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures, passed, rows_only = [], 0, 0
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            with cache_scope():
                sdf = fn(spark, sf_dir)
                scols = sdf.columns
                srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL  {name}: spark error: {str(e)[:500]}")
            continue
        if name not in oracles:
            rows_only += 1
            print(f"rows  {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"FAIL  {name}: duckdb error: {str(e)[:500]}")
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duckdb={len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"columns spark={sorted(scols)} duckdb={sorted(dcols)}")
        if not problems:
            sm, dm = rows_to_multiset(srows, scols), rows_to_multiset(drows, dcols)
            if sm != dm:
                diff = [(a, b) for a, b in zip(sm, dm) if a != b][:3]
                problems.append(f"values differ; first diffs: {diff}")
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"FAIL  {name}: {'; '.join(p[:800] for p in problems)}")
        else:
            passed += 1
            print(f"ok    {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")

    print(f"\n{passed} ok, {rows_only} rows-only, {len(failures)} failed "
          f"(of {len(only) if only else len(qs)} checked) at {sf_dir}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
