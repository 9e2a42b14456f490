"""Driver-sim: run every queries() entry on Spark and its oracle_sql() on
DuckDB at sf0.01, compare row count, column names, and order-insensitive
values. Usage: python tools/check_oracle.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from datavec_spark.cache import release_tracked  # noqa: E402
from datavec_spark.session import get_spark  # noqa: E402


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()[:26]
    return v


def norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    # sort key stringifies cells so NULL-bearing rows stay orderable
    return sorted((tuple(norm_cell(r[i]) for i in idx) for r in rows),
                  key=lambda t: tuple(repr(c) for c in t))


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("oracle-check", shuffle_partitions=8)
    con = duckdb.connect()
    for t in entry_mod.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{sf_dir}/{t}.parquet')"
        )
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            spark_cols = df.columns
            spark_rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error {type(e).__name__}: {str(e)[:300]}")
            continue
        finally:
            # free correctness-required persists (LSH signatures, cumsum
            # partitions), also a failed gate's, so 70+ gates don't
            # accumulate cached blocks
            release_tracked()
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(spark_rows)} rows)")
            continue
        try:
            res = con.execute(oracles[name])
            duck_cols = [d[0] for d in res.description]
            duck_rows = res.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error {str(e)[:300]}")
            continue
        if sorted(spark_cols) != sorted(duck_cols):
            failures.append(name)
            print(f"FAIL {name}: columns spark={sorted(spark_cols)} duck={sorted(duck_cols)}")
            continue
        if len(spark_rows) != len(duck_rows):
            failures.append(name)
            print(f"FAIL {name}: rowcount spark={len(spark_rows)} duck={len(duck_rows)}")
            continue
        a = norm_rows(spark_cols, spark_rows)
        b = norm_rows(duck_cols, duck_rows)
        if a != b:
            failures.append(name)
            diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
            print(f"FAIL {name}: values differ; first diffs: {diff}")
            continue
        print(f"ok   {name}: {len(spark_rows)} rows match")
    print(f"\n{len(failures)} failures: {failures}")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
