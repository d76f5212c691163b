"""Self-check harness mimicking the driver's t2 correctness gate.

Usage: python scripts/check_oracle.py [sf_dir] [query ...] [--bare]

An unknown query name is an error: the run exits 2 before Spark starts.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from __spark_entry__ import oracle_sql, queries  # noqa: E402
from glamira_end_to_end_data_pipeline_spark import get_spark  # noqa: E402
from glamira_end_to_end_data_pipeline_spark.testing import (  # noqa: E402
    compare_frames,
    duckdb_oracle,
    register_duckdb_views,
)


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--bare"]
    bare = "--bare" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    qs, os_ = queries(), oracle_sql()
    unknown = sorted(only - set(qs))
    if unknown:
        print(f"unknown entries: {unknown}", file=sys.stderr)
        return 2

    if bare:
        # Mimic the driver harness: a plain SparkSession with NONE of our
        # factory confs — correctness must not depend on session provenance.
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.appName("bare-driver-mimic")
            .master("local[8]")
            .config("spark.sql.shuffle.partitions", "8")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        spark = get_spark()
    con = duckdb.connect()
    register_duckdb_views(con, sf_dir)

    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sp = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        if name not in os_:
            print(f"SKIP-ORACLE {name}: rows={len(sp)} ({time.time() - t0:.1f}s)")
            continue
        try:
            du = duckdb_oracle(con, os_[name])
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        r = compare_frames(name, sp, du)
        print(
            f"{'OK  ' if r.ok else 'FAIL'} {name}: spark={r.spark_rows} "
            f"duck={r.oracle_rows} ({time.time() - t0:.1f}s)"
        )
        if not r.ok:
            failures.append(name)
            print(f"  {r.detail}")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
