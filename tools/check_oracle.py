"""Check named catalog keys against their DuckDB oracles at one or
more scale factors — the optimization-round per-key equivalence gate
(run after every restructuring, before commit).

Usage:
    python tools/check_oracle.py key1 key2 ... [--sf=0.01,0.1]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))


def main() -> int:
    keys = [a for a in sys.argv[1:] if not a.startswith("--")]
    sfs = ["0.01", "0.1"]
    for a in sys.argv[1:]:
        if a.startswith("--sf="):
            sfs = a.split("=", 1)[1].split(",")

    from pyspark.sql import SparkSession

    import __spark_entry__ as e
    from oracle_harness import compare, duck_connection
    from universal_data_connector_spark.session import DEFAULT_CPUS

    spark = (SparkSession.builder.master(f"local[{DEFAULT_CPUS}]")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    qs, osql = e.queries(), e.oracle_sql()
    bad = 0
    for sf in sfs:
        sf_dir = f"/root/testdata/sf{sf}"
        con = duck_connection(sf_dir)
        for name in keys:
            t0 = time.perf_counter()
            if name not in osql:
                rows = qs[name](spark, sf_dir).count()
                print(f"sf{sf} {name}: rows-only, {rows} rows")
                continue
            ok, detail = compare(qs[name](spark, sf_dir), con.sql(osql[name]))
            dt = time.perf_counter() - t0
            print(f"sf{sf} {name}: {'ok' if ok else 'FAIL ' + detail[:200]}"
                  f" ({dt:.1f}s)")
            bad += 0 if ok else 1
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
