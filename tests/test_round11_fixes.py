"""Round-11 fixes: three r10 ADVICE items plus VERDICT r10 item 6
(multi-process producer serialization proof).

1. Torn-tail log recovery (``kafka_loopback.py``): a producer crash
   mid-append can leave an unterminated final line; the recount, the
   reader, and the next append must all treat it as not-a-record and
   the append must truncate it — a real broker's log recovery.
2. ``commit_offsets`` read-merge-replace under an flock so concurrent
   committers sharing a groupId cannot lose a commit.
3. Null-key round-robin seeded per Spark task so unkeyed records
   spread across topic partitions instead of every task restarting
   at partition 0.
"""

from __future__ import annotations

import json
import os


# ---------------------------------------------------------------------------
# 1. torn-tail recovery
# ---------------------------------------------------------------------------

def _log(d, topic="t", p=0):
    return os.path.join(d, topic, f"p{p}.jsonl")


def _tear_tail(d, topic="t", p=0, garbage=b'{"k": null, "v": "AAAA'):
    """Simulate a producer crash mid-append: unterminated JSON prefix
    at the end of the log, sidecar NOT updated (the crash happened
    between the log write and the sidecar replace)."""
    with open(_log(d, topic, p), "ab") as fh:
        fh.write(garbage)


def test_recount_ignores_torn_tail(tmp_path):
    from universal_data_connector_spark import kafka_loopback as KL

    d = str(tmp_path)
    KL.append_records(d, "t", [(b"k", b"v1"), (b"k", b"v2")], 1)
    _tear_tail(d)
    # sidecar bytes mismatch -> recount; recount must not count the
    # torn tail as a record
    assert KL.end_offsets(d, "t") == {0: 2}


def test_reader_skips_torn_tail(tmp_path):
    from universal_data_connector_spark import kafka_loopback as KL

    d = str(tmp_path)
    KL.append_records(d, "t", [(b"k", b"v1")], 1)
    _tear_tail(d)
    # even when asked for a range covering the torn line, the reader
    # stops at the last record boundary
    recs = KL.read_slice(d, "t", 0, 0, 5)
    assert [r[1] for r in recs] == [b"v1"]


def test_append_truncates_torn_tail_before_writing(tmp_path):
    """The next append must NOT concatenate onto a torn tail — the
    corrupt prefix is truncated so offsets stay record-aligned."""
    from universal_data_connector_spark import kafka_loopback as KL

    d = str(tmp_path)
    KL.append_records(d, "t", [(b"k", b"v1")], 1)
    _tear_tail(d)
    KL.append_records(d, "t", [(b"k", b"v2")], 1)
    recs = KL.read_slice(d, "t", 0, 0, 10)
    assert [r[1] for r in recs] == [b"v1", b"v2"]
    assert [r[4] for r in recs] == [0, 1]
    # every surviving line is valid JSON (no concatenated frankenline)
    with open(_log(d), "rb") as fh:
        lines = fh.readlines()
    assert len(lines) == 2
    for line in lines:
        json.loads(line)


def test_append_truncates_torn_tail_spanning_multiple_scan_chunks(tmp_path):
    """The boundary scan walks backwards in 64 KiB chunks; a torn tail
    larger than one chunk must still resolve to the correct boundary
    (r11 review: the first cut read the whole log into memory)."""
    from universal_data_connector_spark import kafka_loopback as KL

    d = str(tmp_path)
    KL.append_records(d, "t", [(b"k", b"v1")], 1)
    _tear_tail(d, garbage=b"x" * 200_000)  # > 2 chunks, no newline
    KL.append_records(d, "t", [(b"k", b"v2")], 1)
    recs = KL.read_slice(d, "t", 0, 0, 10)
    assert [(r[1], r[4]) for r in recs] == [(b"v1", 0), (b"v2", 1)]


def test_append_recovers_log_that_is_only_a_torn_tail(tmp_path):
    """Crash on the very first append: the whole log is one torn line;
    recovery truncates to empty and the next append starts at offset 0."""
    from universal_data_connector_spark import kafka_loopback as KL

    d = str(tmp_path)
    KL.ensure_topic(d, "t", 1)
    os.makedirs(os.path.join(d, "t"), exist_ok=True)
    _tear_tail(d)
    assert KL.end_offsets(d, "t") == {0: 0}
    KL.append_records(d, "t", [(b"k", b"v1")], 1)
    recs = KL.read_slice(d, "t", 0, 0, 10)
    assert [(r[1], r[4]) for r in recs] == [(b"v1", 0)]


# ---------------------------------------------------------------------------
# 2. commit_offsets locking
# ---------------------------------------------------------------------------

def test_concurrent_commits_merge_without_loss(tmp_path):
    """N threads each commit a DISTINCT topic/partition key for one
    group; with the unlocked read-merge-write a racing pair could drop
    a key. Under the flock every key survives."""
    import threading

    from universal_data_connector_spark import kafka_loopback as KL

    d = str(tmp_path)
    n = 16
    barrier = threading.Barrier(n)

    def commit(i):
        barrier.wait()
        KL.commit_offsets(d, "g", {f"t/{i}": i + 1})

    threads = [threading.Thread(target=commit, args=(i,))
               for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    got = KL.committed_offsets(d, "g")
    assert got == {f"t/{i}": i + 1 for i in range(n)}


def test_commit_offsets_still_merges_and_overwrites(tmp_path):
    from universal_data_connector_spark import kafka_loopback as KL

    d = str(tmp_path)
    KL.commit_offsets(d, "g", {"t/0": 5})
    KL.commit_offsets(d, "g", {"t/1": 3})
    KL.commit_offsets(d, "g", {"t/0": 9})
    assert KL.committed_offsets(d, "g") == {"t/0": 9, "t/1": 3}


# ---------------------------------------------------------------------------
# 3. per-task round-robin seed for unkeyed records
# ---------------------------------------------------------------------------

def test_counter_base_offsets_round_robin(tmp_path):
    from universal_data_connector_spark import kafka_loopback as KL

    d = str(tmp_path)
    KL.append_records(d, "t", [(None, b"a"), (None, b"b")], 4,
                      counter_base=2)
    ends = KL.end_offsets(d, "t")
    # counter 2 -> p2, counter 3 -> p3; p0/p1 untouched
    assert ends == {0: 0, 1: 0, 2: 1, 3: 1}


def test_unkeyed_sink_spreads_across_topic_partitions(spark, tmp_path):
    """4 Spark task partitions x unkeyed rows into a 4-partition topic:
    with the per-task seed the records can't all pile onto low
    partitions (the pre-fix behavior put EVERY task's first record on
    p0). Deterministic check: each task writes 1 record from task
    partition i -> topic partition i."""
    from universal_data_connector_spark import kafka_loopback as KL
    from universal_data_connector_spark.sinks.kafka import kafka_sink

    d = str(tmp_path)
    df = (spark.range(0, 4, 1, 4)
          .selectExpr("CAST(id AS STRING) AS value"))
    kafka_sink(df, {"bootstrapServers": f"loopback://{d}",
                    "topic": "t", "numPartitions": 4})
    ends = KL.end_offsets(d, "t")
    assert sum(ends.values()) == 4
    # pre-fix: {0: 4, 1: 0, 2: 0, 3: 0}; post-fix each task seeds at
    # its own partition id, one record each
    assert ends == {0: 1, 1: 1, 2: 1, 3: 1}


# ---------------------------------------------------------------------------
# config: unknown pipeline keys warn instead of vanishing
# ---------------------------------------------------------------------------

def test_unknown_pipeline_key_warns(caplog):
    """`transforms:` (typo for `transformations:`) must not silently
    disable every transform — caught live in the r11 verify pass."""
    import logging

    from universal_data_connector_spark.config import parse_config

    raw = {"pipelines": [{
        "name": "p1",
        "source": {"type": "file", "properties": {}},
        "sink": {"type": "file", "properties": {}},
        "transforms": [{"type": "filter"}],
    }]}
    with caplog.at_level(logging.WARNING,
                         logger="universal_data_connector_spark.config"):
        cfg = parse_config(raw)
    assert cfg.pipelines[0].transformations == []
    assert any("transforms" in r.getMessage() for r in caplog.records)


def test_known_pipeline_keys_stay_silent(caplog):
    import logging

    from universal_data_connector_spark.config import parse_config

    raw = {"pipelines": [{
        "name": "p1",
        "source": {"type": "file", "properties": {}},
        "sink": {"type": "file", "properties": {}},
        "transformations": [{"type": "filter", "properties": {}}],
    }]}
    with caplog.at_level(logging.WARNING,
                         logger="universal_data_connector_spark.config"):
        cfg = parse_config(raw)
    assert len(cfg.pipelines[0].transformations) == 1
    assert not caplog.records


# ---------------------------------------------------------------------------
# VERDICT r10 item 6: multi-process producer serialization
# ---------------------------------------------------------------------------

def test_multiprocess_producers_serialize_on_one_partition(tmp_path):
    """N separate PROCESSES append batches to the SAME partition
    concurrently: the flock must serialize across processes (not just
    threads), so every record survives, offsets are dense, and the
    sidecar agrees with a full recount."""
    import multiprocessing as mp

    from universal_data_connector_spark import kafka_loopback as KL

    d = str(tmp_path)
    KL.ensure_topic(d, "t", 1)
    n_procs, per_proc = 6, 40

    ctx = mp.get_context("fork")
    start = ctx.Barrier(n_procs)
    procs = [ctx.Process(target=_produce_batches,
                         args=(start, d, i, per_proc))
             for i in range(n_procs)]
    for p in procs:
        p.start()
    for p in procs:
        p.join(60)
        assert p.exitcode == 0
    total = n_procs * per_proc
    assert KL.end_offsets(d, "t") == {0: total}
    recs = KL.read_slice(d, "t", 0, 0, total + 1)
    assert len(recs) == total
    assert [r[4] for r in recs] == list(range(total))  # dense offsets
    # every producer's every record arrived exactly once
    values = sorted(r[1] for r in recs)
    expect = sorted(f"p{i}-{j}".encode()
                    for i in range(n_procs) for j in range(per_proc))
    assert values == expect
    # sidecar tells the truth after the storm
    log = os.path.join(d, "t", "p0.jsonl")
    with open(log + ".idx") as fh:
        idx = json.load(fh)
    assert idx["lines"] == total
    assert idx["bytes"] == os.path.getsize(log)


def _produce_batches(start, d, i, per_proc):
    from universal_data_connector_spark import kafka_loopback as KL

    start.wait()
    for j in range(per_proc):
        KL.append_records(d, "t", [(b"key", f"p{i}-{j}".encode())], 1)
