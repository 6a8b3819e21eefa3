"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Runs every ``queries()`` entry at sf0.01 in Spark and its ``oracle_sql()``
in DuckDB, then compares row count, column names, and order-insensitive
values (exact, mimicking a value hash). Run:  python scripts/check_oracle.py [names...]
(``dq_`` prefix optional).
"""

from __future__ import annotations

import math
import os
import sys
import time

import harness

SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.01")


def normalize(v):
    import datetime
    import decimal

    if v is None:
        return None
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(normalize(x) for x in v)
    return v


def main():
    import duckdb

    qs = harness.entries(sys.argv[1:])
    spark = harness.session("oracle-check", 8)

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    oracles = harness.entry_mod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            spark_cols = sdf.columns
            spark_rows = [tuple(normalize(v) for v in r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures += 1
            continue
        finally:
            harness.clear_cache(spark)
        if name not in oracles:
            print(f"ok?   {name}: rows-only ({len(spark_rows)} rows, no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            continue
        try:
            cur = con.execute(oracles[name])
            duck_cols = [d[0] for d in cur.description]
            duck_rows = [tuple(normalize(v) for v in r) for r in cur.fetchall()]
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures += 1
            continue

        problems = []
        if len(spark_rows) != len(duck_rows):
            problems.append(f"rowcount {len(spark_rows)} != {len(duck_rows)}")
        if sorted(spark_cols) != sorted(duck_cols):
            problems.append(f"columns {sorted(spark_cols)} != {sorted(duck_cols)}")
        else:
            # driver sorts columns by name before hashing
            s_idx = [spark_cols.index(c) for c in sorted(spark_cols)]
            d_idx = [duck_cols.index(c) for c in sorted(duck_cols)]
            # None-safe sort key: nulls first within each column
            def _key(row):
                return tuple((v is not None, v) for v in row)

            s_sorted = sorted(
                (tuple(r[i] for i in s_idx) for r in spark_rows), key=_key
            )
            d_sorted = sorted(
                (tuple(r[i] for i in d_idx) for r in duck_rows), key=_key
            )
            if s_sorted != d_sorted:
                diff = next(
                    (a, b) for a, b in zip(s_sorted, d_sorted) if a != b
                ) if len(s_sorted) == len(d_sorted) else ("<len mismatch>", "")
                problems.append(f"values differ, first diff: {diff[0]} vs {diff[1]}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            failures += 1
        else:
            print(f"PASS  {name} ({len(spark_rows)} rows) [{time.time()-t0:.1f}s]")

    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
