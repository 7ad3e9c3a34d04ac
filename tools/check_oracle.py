"""Local replica of the driver's DuckDB-oracle correctness gate.

Usage: python tools/check_oracle.py [sf_dir] [query_name ...]

Each query is built and checked as one ``metrics.record`` under a job
group named after it.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cube_builder_spark.metrics import record
from cube_builder_spark.oracle import compare, duckdb_connection
from cube_builder_spark.queries import all_oracles, all_queries


def driver_like_spark():
    """A session shaped like the GRADING DRIVER's, not session.py's:
    Spark defaults (ANSI ON, no legacy parquet confs, default shuffle
    partitions). Round 1 proved the engine must not depend on
    session.py's conf — 4 queries died only under the driver."""
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master("local[8]")
             .appName("check-oracle-driverlike")
             .config("spark.driver.memory",
                     os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
             .config("spark.ui.enabled", "false")
             # display only: no \r[Stage ...] bars on the PASS lines
             .config("spark.ui.showConsoleProgress", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and os.path.isdir(sys.argv[1]) else "/root/testdata/sf0.01"
    only = set(a for a in sys.argv[1:] if not os.path.isdir(a))
    spark = driver_like_spark()
    con = duckdb_connection(sf_dir)
    queries, oracles = all_queries(), all_oracles()
    n_pass = n_fail = 0
    for name, fn in sorted(queries.items()):
        if only and name not in only:
            continue

        def check(sdf):
            try:
                if name not in oracles:
                    return f"SKIP {name}: no oracle (rows-only: {sdf.count()} rows)"
                problems = compare(sdf, con, oracles[name])
            except Exception as e:
                return f"FAIL {name}: {e}"
            if problems:
                return f"FAIL {name}: " + "; ".join(problems)
            return f"PASS {name}"
        try:
            line = record(spark, name, lambda: fn(spark, sf_dir), check).result
        except Exception as e:
            line = f"FAIL {name}: spark build error: {e}"
        print(line)
        n_pass += line.startswith("PASS")
        n_fail += line.startswith("FAIL")
    print(f"\n{n_pass} passed, {n_fail} failed")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
