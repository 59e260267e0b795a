#!/usr/bin/env python
"""Driver-replica correctness check.

Replays what the round driver does to ``__spark_entry__``: run every
``queries()`` entry at a given scale factor, run the matching
``oracle_sql()`` string in DuckDB over the same parquet files, and
compare row count + order-insensitive value hash (columns sorted by
name, every cell stringified, rows sorted). Exit 0 iff all green.

Two round-2 lessons are baked in so this replica can't green-light
what the real driver would fail:

* ``--plain-session`` runs the sweep on a default ``SparkSession``
  (no ``_SCALE_SAFE_CONF``) — the driver builds its own plain session,
  so every query must be self-sufficient under one.
* Oracle results are type-checked: any HUGEINT output column is a
  FAIL even when values match, because the driver's pandas fetch
  renders HUGEINT as float ("123.0" vs Spark's "123") while this
  replica's ``fetchall()`` yields plain ints.

``--window-order`` replays the gate even more exactly: only the first
50 ``queries()`` entries (the DRIVER_WINDOW), in insertion order, one
session — catching any order-dependent session state a sorted sweep
would mask.

Usage: python scripts/drivercheck.py [--plain-session] [--window-order]
       [sf_dir] [query_name ...]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402
from mirrulations_iceberg_spark.session import get_spark  # noqa: E402
from mirrulations_iceberg_spark.testing import oracle_db, value_hash  # noqa: E402


def main() -> int:
    flags = {"--plain-session", "--window-order"}
    args = [a for a in sys.argv[1:] if a not in flags]
    plain = "--plain-session" in sys.argv[1:]
    window_order = "--window-order" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if plain:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("drivercheck-plain")
            .getOrCreate()
        )
    else:
        spark = get_spark(shuffle_partitions=8)

    con = oracle_db(sf_dir)

    n_pass = n_rowsonly = n_fail = n_err = 0
    items = (
        list(queries.items())[:50] if window_order else sorted(queries.items())
    )
    if only:
        # Requested names that the sweep will never reach (typos, or
        # out-of-window under --window-order) must be a hard error, not
        # a silent 0-query green exit.
        missing = only - {n for n, _ in items}
        if missing:
            print(f"ERROR  requested queries not in this sweep: {sorted(missing)}")
            return 2
    for name, fn in items:
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:  # noqa: BLE001
            print(f"ERROR  {name}: spark: {type(exc).__name__}: {exc}"[:300])
            n_err += 1
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"ROWS   {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            n_rowsonly += 1
            continue
        try:
            rel = con.sql(sql)
            ocols = list(rel.columns)
            otypes = [str(t) for t in rel.types]
            orows = rel.fetchall()
        except Exception as exc:  # noqa: BLE001
            print(f"ERROR  {name}: duckdb: {type(exc).__name__}: {exc}"[:300])
            n_err += 1
            continue
        hug = [c for c, t in zip(ocols, otypes) if "HUGEINT" in t.upper()]
        if hug:
            print(
                f"FAIL   {name}: oracle HUGEINT columns {hug} — the driver's "
                "pandas fetch renders these as floats; CAST(... AS BIGINT)"
            )
            n_fail += 1
            continue
        if sorted(scols) != sorted(ocols):
            print(f"FAIL   {name}: cols spark={sorted(scols)} oracle={sorted(ocols)}")
            n_fail += 1
            continue
        if len(srows) != len(orows):
            print(f"FAIL   {name}: rows spark={len(srows)} oracle={len(orows)}")
            n_fail += 1
            continue
        sh, oh = value_hash(scols, srows), value_hash(ocols, orows)
        if sh != oh:
            print(f"FAIL   {name}: value hash mismatch ({len(srows)} rows)")
            n_fail += 1
        else:
            print(f"PASS   {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(
        f"== {n_pass} pass, {n_rowsonly} rows-only, {n_fail} fail, {n_err} error "
        f"(sf_dir={sf_dir})"
    )
    return 0 if (n_fail == 0 and n_err == 0) else 1


if __name__ == "__main__":
    raise SystemExit(main())
