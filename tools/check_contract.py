"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB over the same sf dir; compare row
counts, column names, and order-insensitive values.

Usage: python tools/check_contract.py [sf_dir] [query ...]

The session runs on local[$SPARK_GRAFT_CPUS] (every CPU this process may
use when unset) with the test suite's 8g driver, so a full run fits a
16 GB host.
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

sys.path.insert(0, ".")

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6f}"
    return str(v)


def norm_rows(cols, rows):
    # order-insensitive: sort columns by name, then sort row tuples
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as E
    from fonduer_spark.cache import released
    from fonduer_spark.session import get_spark

    cores = int(os.environ.get("SPARK_GRAFT_CPUS")
                or len(os.sched_getaffinity(0)))
    spark = get_spark(cores=cores, driver_memory="8g")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = E.queries(), E.oracle_sql()
    failed = []
    for name, q in qs.items():
        if only and name not in only:
            continue
        try:
            # one session runs every query: release each query's caches
            # once its rows are collected
            with released():
                df = q(spark, sf_dir)
                cols = df.columns
                rows = [tuple(r) for r in df.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(rows)} rows (rows-only check)")
            continue
        try:
            od = con.sql(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: oracle error {type(e).__name__}: {e}")
            failed.append(name)
            continue
        ocols = list(od.columns)
        orows = [tuple(r) for r in od.itertuples(index=False, name=None)]
        problems = []
        if sorted(cols) != sorted(ocols):
            problems.append(f"columns {sorted(cols)} != {sorted(ocols)}")
        if len(rows) != len(orows):
            problems.append(f"rowcount {len(rows)} != {len(orows)}")
        if not problems:
            a, b = norm_rows(cols, rows), norm_rows(ocols, orows)
            if a != b:
                diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                problems.append(f"values differ, first diffs: {diff}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            failed.append(name)
        else:
            print(f"OK    {name}: {len(rows)} rows match oracle")
    print("---")
    print("FAILED:" if failed else "ALL OK", ",".join(failed))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
