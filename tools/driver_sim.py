"""Replica of the BUILD DRIVER's correctness pass, environment included.

tools/check_oracle.py runs the same comparison but on the engine's tuned
session; the driver builds a VANILLA SparkSession (no AQE/Arrow/shuffle
tuning, different core count) and records only the first N queries()
entries (r1: exactly 50, registration order). This tool reproduces that
exact envelope so "driver-green" can be verified before the driver runs:

    python tools/driver_sim.py [sf_dir] [first_n]

Every priority query must print ok on a vanilla local[8] session.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from opensanctions_spark.testing import compare_frames, duckdb_with_views  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    first_n = int(sys.argv[2]) if len(sys.argv) > 2 else 50

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.master("local[8]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e

    con = duckdb_with_views(sf_dir)

    qs = e.queries()
    oracles = e.oracle_sql()
    bad = []
    t_all = time.time()
    for i, (name, fn) in enumerate(list(qs.items())[:first_n]):
        t0 = time.time()
        try:
            s = fn(spark, sf_dir).toPandas()
            ok = name not in oracles or not compare_frames(
                s, con.sql(oracles[name]).df()
            )
        except Exception as ex:
            ok = False
            print(f"{i:3d} ERR  {name}: {str(ex)[:140]}")
            bad.append(name)
            continue
        print(f"{i:3d} {'ok  ' if ok else 'FAIL'} {name} [{time.time()-t0:.1f}s]")
        if not ok:
            bad.append(name)
    print(f"\n{first_n - len(bad)}/{first_n} passed in {time.time()-t_all:.0f}s")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
