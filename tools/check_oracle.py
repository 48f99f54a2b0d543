"""Local replica of the driver's correctness harness: run every
``__spark_entry__.queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, compare row count + column names +
order-insensitive values.

Usage: python tools/check_oracle.py [--sf /root/testdata/sf0.01] [--only name]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time
from pathlib import Path

import duckdb

ROOT = str(Path(__file__).resolve().parent.parent)
sys.path.insert(0, ROOT)

# DuckDB defaults to 80 % of RAM and a thread per core; on the sf0.1
# triangles_per_vertex twin (a streaming aggregate over 124.5M triangles) the
# checking process then held ~7 GB. Measured on a 4-vCPU box: at 2 GB that
# twin passes but the sf0.01 walk_corpus twin runs out of DuckDB memory
# (its operators reserve far more than they touch), and at 1 GB the triangle
# twin spills to disk; 3 GB with 4 threads runs both without spilling.
DUCKDB_CONFIG = {"memory_limit": "3GB", "threads": 4}

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def type_class(t: str) -> str:
    """Collapse engine type names into the equivalence classes the driver's
    value-hash treats as equal. Integer WIDTHS hash together (Spark INT vs
    DuckDB BIGINT passes the driver — observed round 1 on lang_id), but
    HUGEINT/DECIMAL do NOT hash with int64 (observed failure: un-cast
    SUM(<int>) in corpus_stats_rollup/events_sessionize)."""
    t = t.lower().strip()
    if t.startswith("decimal"):
        return "decimal"
    if t in ("hugeint", "uhugeint"):
        return "hugeint"
    if t in ("tinyint", "smallint", "int", "integer", "bigint", "long",
             "utinyint", "usmallint", "uinteger", "ubigint"):
        return "int"
    if t in ("double", "float", "real"):
        return "float"
    if t in ("varchar", "string", "text"):
        return "string"
    if t in ("boolean", "bool"):
        return "bool"
    if t in ("blob", "binary"):
        return "binary"
    return t


def canon_cell(v):
    import decimal

    if isinstance(v, bool):
        return "b:" + str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        return f"f:{v:.6f}"
    if isinstance(v, decimal.Decimal):  # type-faithful: Decimal != int != float
        return "dec:" + str(v)
    if isinstance(v, int):
        return "i:" + str(v)
    return str(v)


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon_cell(r[i]) for i in order) for r in rows)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from graftlouvain.session import get_spark

    # Python UDF workers are separate processes that read PYTHONPATH, not this
    # sys.path: without it they cannot import graftlouvain outside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )

    spark = get_spark(app_name="oracle-check", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect(config=DUCKDB_CONFIG)
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if args.only and name not in args.only.split(","):
            continue
        t0 = time.monotonic()
        try:
            sdf = fn(spark, args.sf)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(srows)} rows (no oracle — rows-only)")
            continue
        try:
            res = con.sql(oracles[name])
            dcols = res.columns
            drows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        wall = time.monotonic() - t0
        if sorted(scols) != sorted(dcols):
            print(f"FAIL  {name}: columns differ spark={scols} duckdb={dcols}")
            failures += 1
            continue
        stypes = {c: type_class(t) for c, t in sdf.dtypes}
        dtypes = {c: type_class(str(t)) for c, t in zip(dcols, res.types)}
        bad_types = {
            c: (stypes[c], dtypes[c]) for c in stypes if stypes[c] != dtypes[c]
        }
        if bad_types:
            print(f"FAIL  {name}: column type classes differ: {bad_types}")
            failures += 1
            continue
        if len(srows) != len(drows):
            print(f"FAIL  {name}: rowcount spark={len(srows)} duckdb={len(drows)}")
            failures += 1
            continue
        a = canon_rows(scols, srows)
        b = canon_rows(dcols, drows)
        if a != b:
            diff_a = [r for r in a if r not in set(b)][:3]
            diff_b = [r for r in b if r not in set(a)][:3]
            print(f"FAIL  {name}: values differ; spark-only={diff_a} duck-only={diff_b}")
            failures += 1
            continue
        print(f"OK    {name}: {len(srows)} rows, {wall:.1f}s")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
