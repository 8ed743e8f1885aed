"""Round-17 fixes (ADVICE r16): cadence compaction survives a held
store lease, and the read-side crash-leftover sweep participates in
the store-lease mark-then-check protocol instead of a bare
check-then-act lease probe.
"""

from __future__ import annotations

import os

from universal_data_connector_spark.operators.dedup_state import (
    seen_filter,
)
from universal_data_connector_spark.store_lease import (
    posix_maintenance_lease,
    posix_writer_mark,
)


def _stream_dedup_cfg(inp, out, ckpt, extra_props):
    from universal_data_connector_spark.config import parse_config
    return parse_config({"pipelines": [{
        "name": "stream-dedup-cadence-skip",
        "source": {"type": "file",
                   "properties": {"path": str(inp), "pattern": "*.txt",
                                  "streaming": "true"}},
        "transformations": [
            {"type": "dedup_state",
             "properties": {"keys": "content",
                            "compactEveryBatches": "1",
                            "checkpointLocation": str(ckpt),
                            **extra_props}},
        ],
        "sink": {"type": "file",
                 "properties": {"path": str(out), "extension": ".txt"}},
    }]}).pipelines[0]


def test_cadence_skip_on_held_lease_keeps_query_alive(
        spark, tmp_path, caplog):
    """A refused cadence compaction (foreign writer mark in flight)
    must be SKIPPED with a warning, not kill the streaming query whose
    batch already committed (ADVICE r16 medium). Once the mark is
    released the next cadence compacts as usual."""
    import logging

    from universal_data_connector_spark.engine import run

    inp, out = tmp_path / "in", tmp_path / "out"
    store = tmp_path / "store"
    inp.mkdir()
    cfg = _stream_dedup_cfg(inp, out, tmp_path / "ckpt",
                            {"stateDir": str(store)})
    (inp / "a.txt").write_text("cadence first")
    q = run(spark, cfg, streaming=True)
    try:
        with caplog.at_level(logging.WARNING,
                             logger="universal_data_connector_spark"
                                    ".engine"):
            q.processAllAvailable()  # batch 0 commits, then cadence
            # a foreign commit is in flight for the next two batches:
            # its writer mark makes compaction refuse
            with posix_writer_mark(str(store)):
                (inp / "b.txt").write_text("cadence second")
                q.processAllAvailable()
                assert q.isActive  # pre-r17: foreachBatch died here
                (inp / "c.txt").write_text("cadence third")
                q.processAllAvailable()
                assert q.isActive
        assert any("cadence compaction skipped" in r.message
                   for r in caplog.records)
        # mark released: the next cadence compacts back to 1 file/bucket
        (inp / "d.txt").write_text("cadence fourth")
        q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(os.listdir(out)) == ["a.txt", "b.txt", "c.txt",
                                       "d.txt"]
    for name in os.listdir(store):
        if name.startswith("udc_kb="):
            files = [f for f in os.listdir(store / name)
                     if f.endswith(".parquet")]
            assert len(files) == 1, (name, files)


def test_read_side_sweep_refuses_on_parked_bucket_under_live_lease(
        spark, tmp_path):
    """The read-side crash-leftover sweep takes a writer mark: under a
    live foreign maintenance lease with a PARKED ``_udc_old_`` bucket
    dir, the read refuses LOUDLY (r17 review: reading past the park
    would silently treat that bucket as empty and pass already-seen
    keys as new), and once the lease is gone the same setup path
    repairs the leftover. The bare r16 lease-exists probe could race a
    compactor acquiring the lease right after the check (ADVICE r16
    low)."""
    import pytest

    from universal_data_connector_spark.store_lease import (
        StoreLeaseHeld,
    )

    store = str(tmp_path / "seen")
    _, commit = seen_filter(
        spark.createDataFrame([(1, "aa")], "doc_id bigint, text string"),
        store, ["text"], num_buckets=4)
    commit()
    # park a bucket dir the way a compactor crash between renames does
    bucket = next(n for n in os.listdir(store)
                  if n.startswith("udc_kb="))
    b = bucket.split("=", 1)[1]
    os.rename(os.path.join(store, bucket),
              os.path.join(store, f"_udc_old_{b}"))
    with posix_maintenance_lease(store):
        with pytest.raises(StoreLeaseHeld, match="parked"):
            seen_filter(
                spark.createDataFrame([(2, "aa")],
                                      "doc_id bigint, text string"),
                store, ["text"], num_buckets=4)
        # the parked dir is untouched mid-maintenance (the holder
        # repairs it; the refused reader must not)
        assert os.path.isdir(os.path.join(store, f"_udc_old_{b}"))
    # lease released: the next setup's marked sweep repairs the park
    survivors, _ = seen_filter(
        spark.createDataFrame([(3, "aa")], "doc_id bigint, text string"),
        store, ["text"], num_buckets=4)
    assert not os.path.exists(os.path.join(store, f"_udc_old_{b}"))
    assert os.path.isdir(os.path.join(store, bucket))
    # and the repaired store still remembers "aa"
    assert [r.doc_id for r in survivors.collect()] == []


def test_read_side_sweep_skips_silently_without_parked_dirs(
        spark, tmp_path):
    """A live lease WITHOUT parked dirs only skips the sweep — the
    read itself proceeds (the store is consistent; only the repair is
    the maintenance holder's job)."""
    store = str(tmp_path / "seen")
    _, commit = seen_filter(
        spark.createDataFrame([(1, "aa")], "doc_id bigint, text string"),
        store, ["text"], num_buckets=4)
    commit()
    with posix_maintenance_lease(store):
        survivors, _ = seen_filter(
            spark.createDataFrame([(2, "aa"), (3, "zz")],
                                  "doc_id bigint, text string"),
            store, ["text"], num_buckets=4)
        assert [r.doc_id for r in survivors.collect()] == [3]


def test_sweep_mark_leaves_nothing_behind(spark, tmp_path):
    """The sweep's short-lived mark is removed on exit: a plain setup
    leaves the writers dir empty (no leaked exclusion artifacts)."""
    from universal_data_connector_spark.store_lease import WRITERS_DIR

    store = str(tmp_path / "seen")
    _, commit = seen_filter(
        spark.createDataFrame([(1, "aa")], "doc_id bigint, text string"),
        store, ["text"], num_buckets=4)
    commit()
    wdir = os.path.join(store, WRITERS_DIR)
    assert not os.path.isdir(wdir) or os.listdir(wdir) == []


def test_async_maintenance_stop_lands_cancelled(spark, tmp_path,
                                                monkeypatch):
    """stop() racing an async maintenance submission always lands: the
    thread is attached before registration and stop() marks CANCELLED
    even in the register-to-start instant (r17 review), so the job
    never silently runs to COMPLETED after a 200 from /stop."""
    import time as _time

    import yaml

    from universal_data_connector_spark import maintenance as maint
    from universal_data_connector_spark.config import load_config
    from universal_data_connector_spark.manager import PipelineManager

    def slow_compact(sp, cfg, keep_going=None):
        _time.sleep(1.5)
        return []

    monkeypatch.setattr(maint, "compact_stores", slow_compact)
    cfg_path = tmp_path / "cfg.yaml"
    cfg_path.write_text(yaml.safe_dump({"pipelines": [{
        "name": "m-stop",
        "source": {"type": "file",
                   "properties": {"path": str(tmp_path / "in")}},
        "sink": {"type": "file",
                 "properties": {"path": str(tmp_path / "out")}},
    }]}))
    mgr = PipelineManager(spark)
    job = mgr.run_maintenance_async(load_config(str(cfg_path)),
                                    "compact")
    assert mgr.stop(job) is True
    assert mgr.wait(timeout=60)
    assert {j["name"]: j for j in mgr.jobs()}[job]["status"] \
        == "CANCELLED"
    # window released: a follow-up maintenance acquires it
    with mgr.maintenance_window(["m-stop"]):
        pass


def test_failed_pipeline_job_keeps_reference_dto_shape(spark, tmp_path):
    """A FAILED pipeline job's info() stays exactly JobInfo.java's
    three keys — the r17 result/error extension applies to async
    maintenance handles only."""
    from universal_data_connector_spark.config import parse_config
    from universal_data_connector_spark.manager import PipelineManager

    cfg = parse_config({"pipelines": [{
        "name": "will-fail",
        "source": {"type": "file",
                   "properties": {"path": str(tmp_path / "does"),
                                  "pattern": "*.txt"}},
        "transformations": [{"type": "sql", "properties": {
            "query": "SELECT no_such_column FROM input"}}],
        "sink": {"type": "file",
                 "properties": {"path": str(tmp_path / "out")}},
    }]}).pipelines[0]
    os.makedirs(tmp_path / "does", exist_ok=True)
    (tmp_path / "does" / "a.txt").write_text("x")
    mgr = PipelineManager(spark)
    try:
        mgr.start_pipeline(cfg)
        mgr.wait(timeout=60)
        infos = [j for j in mgr.jobs() if j["name"].startswith("will-fail")]
        if infos:
            assert set(infos[0]) == {"name", "status", "submissionTime"}
    except Exception:
        # submission-time failure: nothing registered — equally fine,
        # the DTO contract is about REGISTERED failed jobs
        assert mgr.jobs() == []


def test_streaming_batch_refuses_before_shipping_under_maintenance(
        spark, tmp_path):
    """The batch-spanning writer mark (r17 review): a streaming dedup
    batch arriving while a POSIX store is under a maintenance lease
    refuses BEFORE reading or shipping anything — no output files land
    from the refused attempt — and a restart after release ships the
    batch exactly once."""
    import pyspark.errors

    from universal_data_connector_spark.engine import run

    inp, out = tmp_path / "in", tmp_path / "out"
    store = tmp_path / "store"
    inp.mkdir()
    cfg = _stream_dedup_cfg(inp, out, tmp_path / "ckpt",
                            {"stateDir": str(store)})
    (inp / "a.txt").write_text("span first")
    q = run(spark, cfg, streaming=True)
    try:
        q.processAllAvailable()
        assert sorted(os.listdir(out)) == ["a.txt"]
        with posix_maintenance_lease(str(store)):
            (inp / "b.txt").write_text("span second")
            try:
                q.processAllAvailable()
                raise AssertionError("expected the batch to refuse")
            except pyspark.errors.exceptions.captured.StreamingQueryException:
                pass
            # refused BEFORE shipping: b.txt never landed
            assert sorted(os.listdir(out)) == ["a.txt"]
    finally:
        with __import__("contextlib").suppress(Exception):
            q.stop()
    # lease released: the restarted query replays and ships b once
    q2 = run(spark, cfg, streaming=True)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert sorted(os.listdir(out)) == ["a.txt", "b.txt"]


def test_maintenance_keep_going_stops_at_store_boundary(spark, tmp_path):
    """compact_stores/vacuum_stores re-check keep_going between
    stores: an async stop() lands at the next boundary instead of
    walking every remaining store (r17 review — vacuum runs no Spark
    jobs, so the job-group cancel alone could never reach it)."""
    from universal_data_connector_spark.config import parse_config
    from universal_data_connector_spark.maintenance import compact_stores

    stores = [str(tmp_path / f"s{i}") for i in range(3)]
    for s in stores:
        _, c = seen_filter(
            spark.createDataFrame([(1, "x")],
                                  "doc_id bigint, text string"),
            s, ["text"], num_buckets=2)
        c()
        c()
    cfg = parse_config({"pipelines": [{
        "name": f"p{i}",
        "source": {"type": "file", "properties": {"path": str(tmp_path)}},
        "transformations": [{"type": "dedup_state", "properties": {
            "stateDir": s, "keys": "text", "numBuckets": "2"}}],
        "sink": {"type": "file",
                 "properties": {"path": str(tmp_path / "out")}},
    } for i, s in enumerate(stores)]})
    calls = {"n": 0}

    def two_then_stop():
        calls["n"] += 1
        return calls["n"] <= 2

    done = compact_stores(spark, cfg, keep_going=two_then_stop)
    assert len(done) < 3  # stopped at a store boundary, not after all
