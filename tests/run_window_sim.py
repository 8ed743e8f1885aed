"""Simulate the driver's correctness window for the CURRENT round: a
VANILLA SparkSession runs the first 50 `queries()` keys against their
DuckDB oracles at sf0.01 — the exact comparison the round's
CORRECTNESS_r{N} will record (the window itself rotates per round in
`__spark_entry__._CHECK_FIRST`).

Usage: python tests/run_window_sim.py [n_keys]
"""

from __future__ import annotations

import sys
import time

from pyspark.sql import SparkSession


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    import os
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    sys.path.insert(0, os.path.join(repo, "tests"))
    from universal_data_connector_spark.session import DEFAULT_CPUS

    spark = (SparkSession.builder.master(f"local[{DEFAULT_CPUS}]")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as e
    from oracle_harness import compare, duck_connection

    sf = "/root/testdata/sf0.01"
    con = duck_connection(sf)
    qs, osql = e.queries(), e.oracle_sql()
    window = list(qs)[:n]
    bad = 0
    t0 = time.perf_counter()
    for name in window:
        if name not in osql:
            rows = qs[name](spark, sf).count()
            print(f"{name}: rows-only, {rows} rows")
            continue
        ok, detail = compare(qs[name](spark, sf), con.sql(osql[name]))
        status = "ok" if ok else f"FAIL {detail[:140]}"
        print(f"{name}: {status}")
        bad += 0 if ok else 1
    print(f"-- {len(window) - bad}/{len(window)} green in "
          f"{time.perf_counter() - t0:.0f}s")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
