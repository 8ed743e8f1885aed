"""Round-21 pins: bench self-adjudication.

VERDICT r20 item 1: BENCH_r20's 49.2 s headline landed in a ~26%-steal
window, but the evidence lived only in separate canary files. bench.py
now records the /proc/stat steal-jiffies delta and 1-min loadavg in its
own JSON tail so every BENCH_rN artifact self-adjudicates ambient
contention.
"""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def test_read_steal_jiffies_and_loadavg():
    import bench

    steal = bench.read_steal_jiffies()
    load = bench.read_loadavg_1min()
    # This sandbox is Linux: both /proc files exist and parse.
    assert isinstance(steal, int) and steal >= 0
    assert isinstance(load, float) and load >= 0.0


def test_bench_json_tail_carries_contention_fields():
    """End-to-end: the bench CLI emits ONE final JSON line whose tail
    carries the self-adjudication fields next to the driver-contract
    keys. sf0.001 + reps=1 keeps this a smoke-scale run."""
    env = dict(os.environ,
               SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
               SPARK_GRAFT_CPUS="4",
               SPARK_GRAFT_BENCH_REPS="1")
    proc = subprocess.run([sys.executable, os.path.join(REPO, "bench.py")],
                          capture_output=True, text=True, env=env,
                          cwd=REPO, timeout=900)
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = proc.stdout.strip().splitlines()[-1]
    data = json.loads(line)
    # driver contract keys, unchanged
    for key in ("metric", "value", "unit", "queries", "sf"):
        assert key in data, key
    assert data["unit"] == "sec" and data["queries"]
    # self-adjudication tail (VERDICT r20 item 1)
    for key in ("steal_jiffies_delta", "loadavg_1min", "timed_wall_sec"):
        assert key in data, key
    assert data["steal_jiffies_delta"] is None \
        or data["steal_jiffies_delta"] >= 0
    assert data["timed_wall_sec"] > 0


def test_cc_local_fast_path_matches_distributed(spark, monkeypatch):
    """The size-guarded driver union-find must emit EXACTLY the star
    rounds' output on the same edges — same (node, component-min)
    set — across chains, triangles, overlapping clusters, self-loops,
    and reversed/duplicated pairs."""
    from universal_data_connector_spark.operators.dedup import (
        connected_components,
    )

    edges = [(i, i + 1) for i in range(40)]                 # chain
    edges += [(100, 101), (101, 102), (100, 102)]           # triangle
    edges += [(200, 205), (205, 203), (203, 201), (208, 201)]
    edges += [(300, 300)]                                   # self-loop
    edges += [(401, 400), (400, 401), (401, 400)]           # dup + rev
    df = spark.createDataFrame(edges, "id_1 bigint, id_2 bigint")

    monkeypatch.setenv("UDC_CC_LOCAL_MAX_EDGES", "500000")
    local = {(r.node, r.component)
             for r in connected_components(df).collect()}
    monkeypatch.setenv("UDC_CC_LOCAL_MAX_EDGES", "0")
    dist = {(r.node, r.component)
            for r in connected_components(df).collect()}
    assert local == dist
    assert (208, 200) in local and (5, 0) in local
