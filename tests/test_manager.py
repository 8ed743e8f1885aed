"""The pipeline runners: ``engine.run`` and ``PipelineManager``'s
worker execute the same prepared run (``engine.prepare``), and every
way out of either closes it.

A batch dedup_state holds a POSIX writer mark across its WHOLE
read-filter-ship-commit sequence — the same span the streaming
foreachBatch path holds — so a cross-process compaction cannot
rename-swap a bucket dir out of the seen filter's listing. The span
and the build's DISK_ONLY pins belong to the run: its close releases
them on success, on a failed sink, on a failed build, and on each of
the manager's abort paths (maintenance re-check at registration, a
worker thread that cannot start).
"""

from __future__ import annotations

import os
import threading
import time
import types

import pytest

from universal_data_connector_spark.config import parse_config
from universal_data_connector_spark.engine import prepare, run
from universal_data_connector_spark.manager import PipelineManager
from universal_data_connector_spark.operators.dedup_state import (
    compact_seen_store,
    seen_filter,
)
from universal_data_connector_spark.store_lease import (
    StoreLeaseHeld,
    posix_maintenance_lease,
)

from tests.conftest import storage_back_to, stored_rdd_ids


def _seed(spark, store) -> None:
    df = spark.createDataFrame([(1, "aa"), (2, "bb")],
                               "doc_id bigint, text string")
    _, c = seen_filter(df, store, ["text"], num_buckets=4)
    c()


def _dedup_pipeline_cfg(tmp_path, store, *after):
    """file -> dedup_state(content) [-> ``after`` transformations] ->
    file, over one input file ``in/a.txt``."""
    inp, out = tmp_path / "in", tmp_path / "out"
    inp.mkdir(exist_ok=True)
    (inp / "a.txt").write_text("hello corpus")
    return parse_config({"pipelines": [{
        "name": "dedup-ingest",
        "source": {"type": "file",
                   "properties": {"path": str(inp), "pattern": "*.txt"}},
        "transformations": [
            {"type": "dedup_state",
             "properties": {"stateDir": store, "keys": "content",
                            "numBuckets": "4"}},
            *after,
        ],
        "sink": {"type": "file",
                 "properties": {"path": str(out), "extension": ".txt"}},
    }]}).pipelines[0]


@pytest.mark.parametrize("runner", ["engine.run", "start_pipeline"])
def test_failed_build_leaves_no_cache_entry(spark, tmp_path, runner):
    """A build that fails after dedup_state materialized its keyed
    frame must leave the CacheManager empty and give back the frame's
    blocks on both runners. The manager used to release its build's
    frames only once the build had succeeded, so the long-lived
    service kept one cache entry per failed submission."""
    from pyspark.errors import AnalysisException

    cfg = _dedup_pipeline_cfg(
        tmp_path, str(tmp_path / "seen"),
        {"type": "sql",
         "properties": {"query": "SELECT no_such_column FROM _input"}})
    spark.catalog.clearCache()
    baseline = stored_rdd_ids(spark)
    with pytest.raises(AnalysisException):
        if runner == "engine.run":
            run(spark, cfg)
        else:
            PipelineManager(spark).start_pipeline(cfg)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert storage_back_to(spark, baseline) == set()


def test_finished_jobs_keep_records_but_no_storage(spark, tmp_path):
    """Three managed batch dedup_state runs: each materializes its
    keyed frame eagerly, and once a job is terminal its closed run
    holds no frame, so block storage returns to where it started
    while the manager keeps all three Job records."""
    store = str(tmp_path / "seen")
    baseline = stored_rdd_ids(spark)
    mgr = PipelineManager(spark)
    names = []
    for i in range(3):
        (tmp_path / f"r{i}").mkdir()
        cfg = _dedup_pipeline_cfg(tmp_path / f"r{i}", store)
        (tmp_path / f"r{i}" / "in" / "a.txt").write_text(f"doc {i}")
        names.append(mgr.start_pipeline(cfg))
        for _ in range(600):
            if not mgr.is_running(names[-1]):
                break
            time.sleep(0.05)
    jobs = {j["name"]: j for j in mgr.jobs()}
    assert [jobs[n]["status"] for n in names] == ["COMPLETED"] * 3
    assert storage_back_to(spark, baseline) == set()


def test_batch_dedup_state_span_excludes_maintenance(spark, tmp_path):
    """From the moment a batch dedup_state is BUILT (its seen-store
    listing happens then) until its commit, maintenance must refuse —
    pre-r18 only the commit carried a mark, so a compaction could
    rename-swap bucket dirs between the listing and the commit. Fails
    against the r17 code (the mid-build compaction succeeded)."""
    store = str(tmp_path / "seen")
    _seed(spark, store)
    prepared = prepare(spark, _dedup_pipeline_cfg(tmp_path, store))
    try:
        with pytest.raises(StoreLeaseHeld):
            compact_seen_store(spark, store)
    finally:
        prepared.close()
    # span released (sink failed / never ran): maintenance proceeds
    compact_seen_store(spark, store)


def test_batch_dedup_state_refuses_up_front_under_maintenance(
        spark, tmp_path):
    """The mirror: a batch pipeline whose dedup_state store is under
    live maintenance refuses at BUILD — before reading anything or
    writing to the sink — instead of shipping rows and only failing at
    the post-sink commit. Fails against the r17 code (the run wrote
    the sink output first and raised at commit time)."""
    store = str(tmp_path / "seen")
    _seed(spark, store)
    out = tmp_path / "out"
    cfg = _dedup_pipeline_cfg(tmp_path, store)
    with posix_maintenance_lease(store):
        with pytest.raises(StoreLeaseHeld):
            run(spark, cfg)
        assert not out.exists() or os.listdir(out) == []
    # maintenance done: the same run completes and the span is gone
    run(spark, cfg)
    assert sorted(os.listdir(out)) == ["a.txt"]
    compact_seen_store(spark, store)


def test_batch_dedup_state_span_released_on_sink_failure(
        spark, tmp_path, monkeypatch):
    """A failed sink (commit never runs) must release the span, or the
    store wedges maintenance until process exit."""
    from universal_data_connector_spark import sinks

    store = str(tmp_path / "seen")
    out = tmp_path / "out"
    cfg = _dedup_pipeline_cfg(tmp_path, store)

    def failing_sink(*a, **k):
        raise RuntimeError("sink exploded")

    monkeypatch.setattr(sinks, "create_sink", failing_sink)
    with pytest.raises(RuntimeError, match="sink exploded"):
        run(spark, cfg)
    monkeypatch.undo()
    # span released on the failure path: maintenance proceeds, and the
    # clean rerun ships the file (nothing was committed)
    compact_seen_store(spark, store)
    run(spark, cfg)
    assert sorted(os.listdir(out)) == ["a.txt"]


def test_manager_batch_dedup_state_span_follows_job_lifecycle(
        spark, tmp_path):
    """Managed batch jobs hold the span from submission (build) to the
    job's terminal state: maintenance refuses while the job runs and
    proceeds after it completes."""
    store = str(tmp_path / "seen")
    _seed(spark, store)
    out = tmp_path / "out"
    cfg = _dedup_pipeline_cfg(tmp_path, store)

    mgr = PipelineManager(spark)
    job = mgr.start_pipeline(cfg)

    def job_status():
        return {j["name"]: j for j in mgr.jobs()}[job]["status"]

    for _ in range(600):
        if job_status() in ("COMPLETED", "FAILED"):
            break
        time.sleep(0.05)
    assert job_status() == "COMPLETED"
    assert sorted(os.listdir(out)) == ["a.txt"]
    # terminal job: its span is closed, maintenance proceeds
    compact_seen_store(spark, store)


def test_maintenance_abort_closes_store_span(spark, tmp_path, monkeypatch):
    """A maintenance window opening DURING the build aborts the
    submission at the registration re-check; the abort must close the
    build's dedup_state span, or the aborted job's heartbeat renews
    the writer mark forever and the maintenance op itself is refused
    until process exit. Fails against the r18 code (ADVICE r18,
    high)."""
    from universal_data_connector_spark import engine
    from universal_data_connector_spark.manager import MaintenanceConflict

    store = str(tmp_path / "seen")
    _seed(spark, store)
    cfg = _dedup_pipeline_cfg(tmp_path, store)
    mgr = PipelineManager(spark)

    real_build = engine.build_parts

    def build_then_window_opens(*a, **k):
        parts = real_build(*a, **k)
        mgr._maintenance = True  # window opened while we were building
        return parts

    monkeypatch.setattr(engine, "build_parts", build_then_window_opens)
    with pytest.raises(MaintenanceConflict):
        mgr.start_pipeline(cfg)
    assert mgr.jobs() == []  # the aborted job was never registered
    mgr._maintenance = False
    # the abort closed the span: the maintenance op proceeds instead
    # of StoreLeaseHeld-ing on the leaked writer mark
    compact_seen_store(spark, store)


def test_thread_start_failure_closes_store_span(spark, tmp_path,
                                                monkeypatch):
    """A worker thread that cannot start (thread exhaustion) never runs
    its finally-block cleanup; start_pipeline must unwind it inline —
    deregister the job, close the build's span, release pins."""
    from universal_data_connector_spark import manager as mgr_mod

    store = str(tmp_path / "seen")
    _seed(spark, store)
    cfg = _dedup_pipeline_cfg(tmp_path, store)
    mgr = mgr_mod.PipelineManager(spark)

    class _BoomThread:
        def __init__(self, *a, **k):
            pass

        def start(self):
            raise RuntimeError("can't start new thread")

    shim = types.SimpleNamespace(Thread=_BoomThread,
                                 Lock=threading.Lock,
                                 Event=threading.Event)
    monkeypatch.setattr(mgr_mod, "threading", shim)
    with pytest.raises(RuntimeError, match="can't start new thread"):
        mgr.start_pipeline(cfg)
    monkeypatch.setattr(mgr_mod, "threading", threading)
    assert mgr.jobs() == []  # no registered zombie left behind
    compact_seen_store(spark, store)  # span closed -> no StoreLeaseHeld


def test_abort_interleaving_fuzz_never_wedges_maintenance(
        spark, tmp_path, monkeypatch):
    """Randomized start/maintenance/stop interleavings AIMED at the
    registration-re-check abort (the maintainer synchronizes on
    build-start, so windows open mid-build with high probability),
    then the round's invariant: once every job is terminal,
    maintenance on the shared store must SUCCEED. Pre-r19, any abort
    that fired with a dedup_state span open leaked it, its heartbeat
    renewed the writer mark forever, and this final compaction
    retried StoreLeaseHeld until process exit."""
    import random

    from universal_data_connector_spark import engine
    from universal_data_connector_spark.manager import MaintenanceConflict

    store = str(tmp_path / "shared-store")
    _seed(spark, store)
    inp = tmp_path / "in"
    inp.mkdir()
    for i in range(3):
        (inp / f"doc-{i}.txt").write_text(f"fuzz document {i}")

    def mk_cfg(i: int):
        return parse_config({"pipelines": [{
            "name": "abort-fuzz",
            "source": {"type": "file",
                       "properties": {"path": str(inp),
                                      "pattern": "*.txt"}},
            "transformations": [
                {"type": "dedup_state",
                 "properties": {"stateDir": store, "keys": "content",
                                "numBuckets": "4"}}],
            "sink": {"type": "file", "properties": {
                "path": str(tmp_path / "out" / f"run-{i}"),
                "extension": ".txt"}},
        }]}).pipelines[0]

    mgr = PipelineManager(spark)
    build_started = threading.Event()
    real_build = engine.build_parts

    def tracked_build(*a, **k):
        build_started.set()  # maintainer races to open a window NOW
        return real_build(*a, **k)

    monkeypatch.setattr(engine, "build_parts", tracked_build)
    stop_flag = threading.Event()
    counts = {"starts": 0, "refused": 0, "windows": 0,
              "window_refused": 0, "lease_refused": 0}
    unexpected: list[str] = []

    def maintainer():
        rng = random.Random(1901)
        while not stop_flag.is_set():
            build_started.wait(0.5)
            build_started.clear()
            try:
                with mgr.maintenance_window(["abort-fuzz"]):
                    counts["windows"] += 1
                    time.sleep(rng.uniform(0.02, 0.15))
            except MaintenanceConflict:
                counts["window_refused"] += 1
            except Exception as exc:  # noqa: BLE001
                unexpected.append(f"maintainer: {exc!r}")
            stop_flag.wait(rng.uniform(0.0, 0.03))

    def starter(seed: int):
        rng = random.Random(seed)
        i = seed * 1000
        while not stop_flag.is_set():
            i += 1
            try:
                mgr.start_pipeline(mk_cfg(i), streaming=False)
                counts["starts"] += 1
            except MaintenanceConflict:
                counts["refused"] += 1  # up-front OR registration abort
            except StoreLeaseHeld:
                counts["lease_refused"] += 1
            except Exception as exc:  # noqa: BLE001
                if any(s in str(exc) for s in
                       ("FAILED_READ_FILE", "FileNotFoundException",
                        "does not exist")):
                    pass  # reader-fencing non-goal: loud retryable race
                else:
                    unexpected.append(f"starter: {exc!r}")
            if rng.random() < 0.3:
                mgr.stop_all()
            stop_flag.wait(rng.uniform(0.0, 0.05))

    threads = [threading.Thread(target=maintainer, daemon=True),
               threading.Thread(target=starter, args=(2,), daemon=True),
               threading.Thread(target=starter, args=(3,), daemon=True)]
    for t in threads:
        t.start()
    time.sleep(12.0)
    stop_flag.set()
    for t in threads:
        t.join(timeout=120)
        assert not t.is_alive()
    for _ in range(200):
        mgr.stop_all()
        if not any(j.is_running for j in list(mgr._jobs.values())):
            break
        time.sleep(0.25)
    assert unexpected == [], unexpected[:5]
    # both sides actually exercised
    assert counts["starts"] + counts["refused"] >= 3, counts
    assert counts["windows"] >= 3, counts
    # THE invariant: no leaked span — a wedge never clears, so a short
    # retry distinguishes a draining commit from a leaked heartbeat
    deadline = time.monotonic() + 30.0
    while True:
        try:
            compact_seen_store(spark, store)
            break
        except StoreLeaseHeld:
            if time.monotonic() > deadline:
                pytest.fail("maintenance wedged after the fuzz — a "
                            "leaked writer-mark span survives drain")
            time.sleep(0.5)
