#!/usr/bin/env python
"""Compare registered queries against their DuckDB oracles through the
``__spark_entry__`` contract on a vanilla session, with the same
canonical form as tests/test_oracle.py (``marketdb_spark.oracle``).

    python scripts/oracle_check.py [--sf=/root/testdata/sf0.01] [name ...]

No names → the full registry. PASS = "MISMATCHES: none".
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf = "/root/testdata/sf0.01"
    names: list[str] = []
    for a in sys.argv[1:]:
        if a.startswith("--sf="):
            sf = a.split("=", 1)[1]
        else:
            names.append(a)

    from pyspark.sql import SparkSession

    import __spark_entry__ as mod
    from marketdb_spark.oracle import compare, duckdb_connection

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '16')}]"
        )
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    qs, osql = mod.queries(), mod.oracle_sql()
    if not names:
        names = list(qs)
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    con = duckdb_connection(sf)
    bad = []
    for n in names:
        if n not in osql:
            print(f"# {n}: rows-only ({qs[n](spark, sf).count()} rows)")
            continue
        res = compare(n, qs[n](spark, sf), osql[n], con)
        print(res)
        if not res.ok:
            bad.append(n)
    print(f"MISMATCHES: {bad or 'none'} ({len(names)} queries, sf={sf})")


if __name__ == "__main__":
    main()
