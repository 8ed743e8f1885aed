"""sf1 differential correctness (VERDICT r15 item 3).

The driver's oracle has only ever adjudicated answers at
sf0.001/sf0.01; the sf1/sf10 probes measured wall-clock and shuffle,
not VALUES. This harness closes that gap for the shuffle-heavy
PROBE_KEYS: each key's Spark query AND its DuckDB oracle run on the
SAME generator-v2 sf1 tables (scale_probe/sf1, ~6M-row lineitem) and
the results hash-compare through the exact `oracle_harness.compare`
the driver simulation uses (row count + schema + canonicalized value
hash).

Usage: python tools/sf1_differential.py [sf_dir] [key ...]
Writes scale_probe/sf1_differential_r16.json and prints one verdict
line per key; exit code 1 on any mismatch.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

DEFAULT_KEYS = [
    # the shuffle-heavy chains of tools/scale_probe.PROBE_KEYS that
    # carry a DuckDB oracle (the probe-local cap64 variant has none)
    "pipeline_clean_corpus",
    "pipeline_training_data",
    "dedup_near_minhash",
    "dedup_cluster_cc",
    "events_rfm_segments",
    "market_basket_pairs",
    "agg_percentile_exact",
    "sim_search_lsh",
    "events_sessionize_gap",
    "dedup_exact",
    "dedup_embedding_cosine",
    "sim_search_cosine_topk",
    "ts_rollup_gapfill",
    "text_tfidf_topk",
    "join_inner_hash",
    "events_window_funnel_conversion",
    "agg_stats_moments",
    "stream_upsert_latest",
    "events_funnel_steps",
    "agg_regression_ols",
]


def main() -> int:
    from pyspark.sql import SparkSession

    from universal_data_connector_spark.session import DEFAULT_CPUS

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else \
        os.path.join(REPO, "scale_probe", "sf1")
    keys = sys.argv[2:] or DEFAULT_KEYS

    spark = (SparkSession.builder.master(f"local[{DEFAULT_CPUS}]")
             .config("spark.driver.memory", "48g")
             .config("spark.sql.shuffle.partitions", str(DEFAULT_CPUS))
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e
    from oracle_harness import compare, duck_connection

    con = duck_connection(sf_dir)
    qs, osql = e.queries(), e.oracle_sql()

    results = {}
    bad = 0
    for name in keys:
        if name not in osql:
            results[name] = {"verdict": "NO-ORACLE"}
            print(f"{name}: NO-ORACLE (skipped)", flush=True)
            continue
        t0 = time.perf_counter()
        try:
            ok, detail = compare(qs[name](spark, sf_dir),
                                 con.sql(osql[name]))
        except Exception as exc:  # noqa: BLE001
            ok, detail = False, f"ERROR: {exc!r}"[:300]
        wall = round(time.perf_counter() - t0, 2)
        results[name] = {"verdict": "PASS" if ok else "FAIL",
                         "wall_sec": wall,
                         **({} if ok else {"detail": str(detail)[:300]})}
        print(f"{name}: {'ok' if ok else 'MISMATCH ' + str(detail)[:200]}"
              f" ({wall}s)", flush=True)
        bad += 0 if ok else 1

    out = {"sf_dir": sf_dir, "keys": len(keys), "failed": bad,
           "results": results}
    tag = os.environ.get("UDC_SF1_TAG", "r16")
    path = os.path.join(REPO, "scale_probe",
                        f"sf1_differential_{tag}.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(f"-- {len(keys) - bad}/{len(keys)} differential-green at sf1 "
          f"-> {path}", flush=True)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
