#!/usr/bin/env python
"""Mimic the driver's t2 correctness gate: for every key in
``__spark_entry__.queries()``, run the Spark DataFrame and the DuckDB
oracle SQL on the same parquet dir and compare row count, schema width,
and order-insensitive value multiset.

Usage: python scripts/check_oracle.py [--strict] [sf_dir] [query ...]

``--strict`` compares floats by full repr (bit-exact modulo decimal
round-trip) instead of 9 significant digits — mirrors the driver's
value-hash gate, which is sensitive to ULP-level engine drift.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def normalize(rows, columns, strict: bool = False):
    """Sort columns by name, round floats (unless strict), stringify,
    sort rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "nan"
                elif strict:
                    v = repr(v)
                else:
                    v = f"{v:.9g}"
            vals.append(str(v))
        out.append(tuple(vals))
    out.sort()
    return out


def main() -> int:
    import duckdb

    import __spark_entry__ as entry
    from rdfind_spark.session import spark_session
    from rdfind_spark.sources.triples import TABLES

    argv = [a for a in sys.argv[1:] if a != "--strict"]
    strict = "--strict" in sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    spark = spark_session("check-oracle", shuffle_partitions=32)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    queries = entry.queries()
    oracles = entry.oracle_sql()
    failures = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        df = fn(spark, sf_dir)
        spark_rows = df.collect()
        spark_cols = df.columns
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"  {name:32s} rows={len(spark_rows):8d} (no oracle, rows-only) "
                  f"[{t_spark:.1f}s]")
            continue
        t0 = time.time()
        res = con.execute(oracles[name])
        duck_cols = [d[0] for d in res.description]
        bad_types = []
        if strict:
            # The driver's hash is type-sensitive (it reads results through
            # pandas/arrow, where DuckDB HUGEINT → float/decimal and
            # TIMESTAMP_NS keeps ns digits).  Flag oracle columns whose
            # arrow type would not round-trip identically to Spark's:
            # cast SUMs to BIGINT and timestamps through µs in the SQL.
            tbl = res.arrow()
            import pyarrow as pa

            for field in tbl.schema:
                t = field.type
                if pa.types.is_decimal(t) or (
                    pa.types.is_timestamp(t) and t.unit != "us"
                ):
                    bad_types.append(f"{field.name}:{t}")
            duck_rows = [
                tuple(col[i].as_py() for col in tbl.columns)
                for i in range(tbl.num_rows)
            ]
        else:
            duck_rows = res.fetchall()
        t_duck = time.time() - t0
        ok_schema = sorted(spark_cols) == sorted(duck_cols) and not bad_types
        a = normalize(spark_rows, spark_cols, strict)
        b = normalize(duck_rows, duck_cols, strict)
        ok = ok_schema and a == b
        status = "OK " if ok else "FAIL"
        print(
            f"  {name:32s} {status} rows={len(a)}/{len(b)} "
            f"schema={'ok' if ok_schema else (f'types:{bad_types}' if bad_types else f'{sorted(spark_cols)} vs {sorted(duck_cols)}')} "
            f"[spark {t_spark:.1f}s, duck {t_duck:.1f}s]"
        )
        if not ok:
            failures += 1
            if a != b:
                only_a = [r for r in a if r not in set(b)][:3]
                only_b = [r for r in b if r not in set(a)][:3]
                print(f"    spark-only: {only_a}")
                print(f"    duck-only : {only_b}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
