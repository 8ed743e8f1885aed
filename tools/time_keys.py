"""Ad-hoc per-key timing with the bench's exact methodology (noop
sink, clearCache between reps, min/median of N) for optimization-round
A/B runs. Usage:

    python tools/time_keys.py key1 key2 ... [--reps N]

Honors SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS like bench.py. Prints a
steal-jiffies delta so each sample self-adjudicates host contention.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    import argparse

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("keys", nargs="*")
    ap.add_argument("--reps", type=int, default=4)
    opts = ap.parse_intermixed_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from bench import read_steal_jiffies
    from universal_data_connector_spark.plans.catalog import QUERIES
    from universal_data_connector_spark.session import get_spark

    spark = get_spark("udc-time-keys", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    # same warm-up as bench.py
    QUERIES["agg_hash_sum_avg"](spark, sf_dir) \
        .write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    @F.pandas_udf(T.LongType())
    def _warm(s: pd.Series) -> pd.Series:
        import numpy as np
        return s + int(np.int64(0))

    spark.range(0, 32, 1, 32).select(_warm("id")).write \
        .format("noop").mode("overwrite").save()

    for name in opts.keys:
        s0 = read_steal_jiffies()
        ts = []
        for _ in range(opts.reps):
            spark.sparkContext.setJobDescription(f"time_keys: {name}")
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).write.format("noop") \
                .mode("overwrite").save()
            ts.append(time.perf_counter() - t0)
            spark.catalog.clearCache()
        s1 = read_steal_jiffies()
        steal = (s1 - s0) if s0 is not None and s1 is not None else None
        print(f"{name}: min={min(ts):.3f} med={statistics.median(ts):.3f} "
              f"all={[round(t, 3) for t in ts]} steal={steal}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
