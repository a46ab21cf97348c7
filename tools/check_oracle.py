"""Local replica of the driver's correctness gate.

Runs every catalog query at a scale factor and compares against its DuckDB
oracle: row count, column names/order-insensitive values. Usage:

    python tools/check_oracle.py [sf_dir] [query_name ...]

Exit code 0 iff all checked queries match.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from opensanctions_spark.testing import (  # noqa: E402
    canonicalize,  # noqa: F401  (re-exported: perfbench/reference.py)
    compare_frames,
    duckdb_with_views,
)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from opensanctions_spark.session import get_session

    spark = get_session("check-oracle")
    con = duckdb_with_views(sf_dir)

    qs = e.queries()
    oracles = e.oracle_sql()
    failures = []
    checked = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        checked += 1
        t0 = time.time()
        try:
            spark_df = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {ex}")
            continue
        if name not in oracles:
            print(f"weak  {name}: rows={len(spark_df)} (no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            continue
        try:
            oracle_df = con.sql(oracles[name]).df()
        except Exception as ex:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {ex}")
            continue
        problems = compare_frames(spark_df, oracle_df)
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: {problems[0]}")
            for p in problems[1:3]:
                print(f"      {p}")
            continue
        print(f"ok    {name}: rows={len(spark_df)} [{time.time()-t0:.1f}s]")

    missing = sorted(only - set(qs)) if only else []
    for name in missing:
        print(f"FAIL  {name}: not a registered catalog query")
    print(f"\n{checked - len(failures)}/{checked} passed"
          + (f" ({len(missing)} requested name(s) unknown)" if missing else ""))
    return 1 if failures or missing else 0


if __name__ == "__main__":
    sys.exit(main())
