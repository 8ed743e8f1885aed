"""Per-key layer profiler for the bench headline keys, read from Spark's
event log.

Times each named catalog key through bench.py's runner (``bench.run``:
noop sink) in the session bench.py uses
(``session.get_spark``: local[$SPARK_GRAFT_CPUS], default the host's
usable cores), after the same warm-up, at $SPARK_GRAFT_SF_DIR (default
sf0.1), $SPARK_GRAFT_BENCH_REPS times (default 4). The session also
writes Spark's event log; after ``spark.stop()`` each rep's wall-clock
window is read back with ``perfbench.eventlog.EventLog.window``, so
"where does the time go" (jobs, stages, tasks, scan, shuffle, Python
workers, GC, driver residual) is answered from Spark's own accounting.

Usage: python tools/profile_keys.py [key ...]   (default: a hot-key set)
Prints one JSON line per key: {"key": ..., "reps": [{"wall_s": ...,
"spark.jobs": ..., ...}, ...]}.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

HOT = [
    "agg_corr_exact", "ts_rollup_gapfill", "events_rfm_segments",
    "sim_search_lsh", "dedup_cluster_cc", "pipeline_training_data",
    "dedup_embedding_cosine", "market_basket_pairs", "dedup_near_minhash",
    "ts_outlier_iqr", "stream_upsert_latest", "agg_hash_sum_avg",
    "stream_agg_state_totals", "join_broadcast", "dq_fk_integrity",
    "agg_weighted_avg", "ts_anomaly_mad", "dedup_ngram_jaccard",
]


def main() -> None:
    import bench
    from universal_data_connector_spark.plans.catalog import QUERIES

    keys = sys.argv[1:] or HOT
    profiled = bench.profile({k: (QUERIES[k], bench.SF_DIR) for k in keys},
                             bench.REPS, "udc-profile")
    for key, layers in profiled.items():
        print(json.dumps({"key": key, "reps": layers}), flush=True)


if __name__ == "__main__":
    main()
