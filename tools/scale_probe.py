"""Scale probe: execute the scale-critical chains at sf0.1 AND sf1.0
on data from ONE generator and record wall-clock + shuffle + spill
(VERDICT r10 item 2 — "measure the 100x claims").

Both directories come from tools/gen_scale_probe_data.py (seed 42), so
the sf1/sf0.1 wall-clock ratio is an apples-to-apples scaling factor:
~10x data through the same plans. A ratio well above ~10 (beyond the
extra shuffle-wave constant) flags a superlinear operator; spill bytes
flag partitions outgrowing memory.

Every rep is timed through bench.py's runner (``bench.run``) in the
session bench.py uses (``session.get_spark``: local[$SPARK_GRAFT_CPUS],
default the host's usable cores). Shuffle, spill, input and job counts
come from Spark's event log: after ``spark.stop()`` each rep's
wall-clock window is read back with ``perfbench.eventlog.EventLog.window``
(``bench.profile``), and the first rep's numbers are kept per key and sf.

Usage: python tools/scale_probe.py [reps] [sf ...]
(defaults: 2 reps over sf0.1 and sf1 — pass e.g. `2 0.1 1 10` for a
three-point curve). Writes scale_probe/probe_results.json and prints
a summary table; ratios are reported against the SMALLEST sf given.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PROBE_KEYS = [
    # the five chains the verdict names, + embeddings/events coverage
    "pipeline_clean_corpus",
    "pipeline_training_data",
    "dedup_near_minhash",
    "dedup_cluster_cc",
    "events_rfm_segments",      # drives exact_group_percentiles
    "market_basket_pairs",
    "agg_percentile_exact",
    "sim_search_lsh",
    "events_sessionize_gap",
    # second wave (r11 review): state sink, brute/banded ANN, rollup
    # spine join, TF-IDF, exact dedup, big-join coverage
    "stream_upsert_latest",     # foreachBatch bucket-swap state sink
    "dedup_exact",
    "dedup_embedding_cosine",
    "sim_search_cosine_topk",
    "ts_rollup_gapfill",
    "text_tfidf_topk",
    "join_inner_hash",          # the plain big-big shuffle join
    # round 12: the retirement-swap key's scale posture (two range
    # window frames + rollup on one user partitioning)
    "events_window_funnel_conversion",
    # round 14 (VERDICT r13 item 4): the decimal moment-sum aggregate —
    # map-side partials into one groupBy shuffle; probed under
    # local-cluster to confirm the exact-decimal accumulators pay no
    # serialization penalty across real executor processes
    "agg_stats_moments",
    # round 12: capped variant of the embedding near-dup chain —
    # same plan as dedup_embedding_cosine but with the per-bucket
    # candidate cap engaged, so its shuffle delta vs the uncapped key
    # MEASURES how much of the quadratic within-cluster candidate
    # tail the cap removes (VERDICT r11 item 4)
    "dedup_embedding_cosine_cap64",
]


def _embedding_cosine_cap64(spark, sf_dir):
    from pyspark.sql import functions as F

    from universal_data_connector_spark.operators.similarity import (
        lsh_near_dup_pairs,
    )
    from universal_data_connector_spark.tables import load

    e = load(spark, sf_dir, "embeddings")
    return lsh_near_dup_pairs(e, threshold=0.95, bucket_cap=64) \
        .select("id_1", "id_2")


CUSTOM_CHAINS = {"dedup_embedding_cosine_cap64": _embedding_cosine_cap64}


def main() -> None:
    # env knobs for driving long multi-sf curves in bounded slices:
    # SPARK_GRAFT_PROBE_KEYS=k1,k2 subsets PROBE_KEYS;
    # SPARK_GRAFT_PROBE_OUT names the results file.
    keys = PROBE_KEYS
    if os.environ.get("SPARK_GRAFT_PROBE_KEYS"):
        want = os.environ["SPARK_GRAFT_PROBE_KEYS"].split(",")
        keys = [k for k in want if k in PROBE_KEYS] or PROBE_KEYS
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    sfs = [float(a) for a in sys.argv[2:]] or [0.1, 1.0]
    sfs.sort()
    root = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "scale_probe")
    dirs = {f"sf{sf:g}": os.path.join(root, f"sf{sf:g}") for sf in sfs}
    base_label = f"sf{sfs[0]:g}"
    top_label = f"sf{sfs[-1]:g}"
    for d in dirs.values():
        if not os.path.isdir(d):
            raise SystemExit(f"{d} missing - run gen_scale_probe_data.py")

    import bench
    from universal_data_connector_spark.plans.catalog import QUERIES
    from universal_data_connector_spark.session import DEFAULT_CPUS

    cases = {(key, sf_label): (CUSTOM_CHAINS.get(key) or QUERIES[key], sf_dir)
             for key in keys for sf_label, sf_dir in dirs.items()}
    profiled = bench.profile(cases, reps, "udc-scale-probe")
    results: dict[str, dict] = {}
    for (key, sf_label), layers in profiled.items():
        secs = [rep["wall_s"] for rep in layers]
        results.setdefault(key, {})[sf_label] = {
            "sec_min": min(secs), "sec_all": secs, "layers": layers[0]}
        print(f"{key:32s} {sf_label}: {min(secs):7.2f}s "
              f"shuffle={layers[0]['spark.shuffle_write_bytes']/1e6:9.1f}MB "
              f"spill={layers[0]['spark.spill_bytes']/1e6:6.1f}MB", flush=True)

    for key, r in results.items():
        a, b = r[base_label]["sec_min"], r[top_label]["sec_min"]
        r["scaling_x"] = round(b / a, 2) if a > 0 else None
    out = os.environ.get("SPARK_GRAFT_PROBE_OUT",
                         os.path.join(root, "probe_results.json"))
    with open(out, "w") as fh:
        json.dump({"reps": reps, "cpus": DEFAULT_CPUS,
                   "results": results}, fh, indent=1)
    hdr = " ".join(f"{lbl:>8s}" for lbl in dirs)
    print(f"\n{'key':32s} {hdr} {'ratio':>6s}")
    for key, r in results.items():
        row = " ".join(f"{r[lbl]['sec_min']:8.2f}" for lbl in dirs)
        print(f"{key:32s} {row} {r['scaling_x']:6.2f}")
    print(f"\nwrote {out}")


if __name__ == "__main__":
    main()
