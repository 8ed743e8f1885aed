from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("UDC_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_MED = "/root/testdata/sf0.01"


def stored_rdd_ids(spark) -> set[int]:
    """Ids of the RDDs holding blocks in the block manager (persisted
    or checkpointed), from Spark's own storage status."""
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def storage_back_to(spark, baseline: set[int], timeout: float = 10.0):
    """Collect garbage on both sides, then poll until no RDD outside
    ``baseline`` holds blocks; returns the leftover ids (empty on
    success). The caller drops its frames first: Spark's ContextCleaner
    frees an unreachable frame's blocks after a JVM GC."""
    import gc
    import time

    deadline = time.monotonic() + timeout
    while True:
        gc.collect()
        spark._jvm.System.gc()
        left = stored_rdd_ids(spark) - baseline
        if not left or time.monotonic() > deadline:
            return left
        time.sleep(0.25)

def jobs_of(spark, action):
    """(``action()``'s result, the number of Spark jobs it ran), counted
    from the status tracker under a job group of its own."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-of-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "counted action")
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


# ---------------------------------------------------------------------------
# Suite tiering (r21 VERDICT "Next round #2"): the full suite passed
# 717 tests in 34 min on a contended host — past the driver's VERIFY
# window, which cut the r21 run off mid-suite and recorded
# tests_ok:false on a run with zero failures. The default tier
# (pytest.ini: -m "not slow") keeps every single-pass correctness test
# — oracle matches, plan pins, operator semantics, lease/stream
# semantics — and moves only REPETITION to the slow tier: fuzz waves,
# crash-recovery model soaks, multi-writer interleavings, and the
# end-to-end bench probe. One central rule table here instead of marks
# scattered over 15 files.
# ---------------------------------------------------------------------------

_SLOW_FILES = {
    "test_round14_fuzz3.py",   # wave-3 differential/null fuzz (~350 s)
    "test_round12_fuzz2.py",   # wave-2 differential fuzz
    "test_round16_fuzz.py",    # maintenance-window interleaving fuzz
    "test_engine_fuzz.py",     # engine config fuzz
    # state-store model suites (dedup/agg seen-stores, S3 loopback):
    # crash/restart/compaction soaks, ~6 min combined; the stores have
    # no bench/oracle surface and keep full coverage in the slow tier
    "test_s3_state.py",
    "test_dedup_state.py",
    # real-time lease semantics (sleep-based heartbeat/TTL soaks,
    # ~2 min) and hypothesis property fuzz (~50 s): repetition-heavy,
    # no query/oracle surface
    "test_store_lease.py",
    "test_casts_property.py",
}

# ...except one smoke test per slow file (a single-pass commit/recover
# test per state-store file, the smallest of the cast properties), the
# object-store seen store's two-batch filter, and the lease-internals
# tests of test_store_lease.py (fence, self-fence, nonce registry,
# staleness matrix, heartbeat pool; ~10 s together), so the default
# tier still runs every store's write path on both backends, the
# lease protocol's fences and the casts
_DEFAULT_TIER_SMOKE = {
    "test_dedup_state.py::test_replayed_commit_is_harmless_and_compactable",
    "test_s3_state.py::test_agg_state_crash_before_cas_then_replay_converges",
    "test_s3_state.py::test_seen_filter_s3_across_batches",
    "test_store_lease.py::test_posix_stale_dead_pid_artifacts_are_broken",
    *(f"test_store_lease.py::{name}" for name in (
        "test_posix_renewer_never_overwrites_successor",
        "test_posix_paused_breaker_never_deletes_successor_lease",
        "test_s3_paused_breaker_never_deletes_successor_lease",
        "test_posix_renewer_failure_releases_claim",
        "test_wedged_nonce_ages_out_and_same_owner_supersedes",
        "test_posix_paused_holder_untouched_artifact_still_released",
        "test_posix_paused_holder_replaced_artifact_still_fenced",
        "test_heartbeat_pool_many_holders_all_tick_and_stop_clean",
        "test_is_stale_decision_matrix",
        "test_hung_renewal_does_not_starve_other_heartbeats",
        "test_posix_fenced_release_leaves_successor_file",
        "test_posix_fenced_release_still_unwedges_untouched_artifact",
        "test_posix_fenced_release_catches_same_inode_overwrite",
        "test_nonce_exclusion_bound_scales_with_claim_schedule",
        "test_heartbeat_pool_grows_past_static_cap_under_hung_renewals",
    )),
    "test_casts_property.py::test_defaults_close_the_null_channel",
}

_SLOW_NAME_PARTS = (
    "crash_fuzz",              # crash-recovery fuzz vs model (state stores)
    "differential_fuzz",       # oracle differential fuzz waves
    "null_injection_fuzz",
    "null_value_fuzz",
    "interleaved_commits",     # multi-writer soak (posix + s3)
    "two_writer_interleaved",  # store fuzz soaks
    "abort_interleaving_fuzz",
    "compaction_cadence_survives",      # restart soaks
    "no_driver_scratch_on_any_s3_merge_path",  # opcount probe
    "bench_json_tail_carries_contention_fields",  # end-to-end bench (~190 s)
    "tumbling_window_and_late_data_drop",       # real-time stream soak (~38 s)
    "stream_stream_interval_join_multi_batch",  # real-time stream soak (~24 s)
    "scaled_contract_holds_at_every_call_site",  # 24-query sweep (~100 s)
    "stream_dedup_within_watermark",            # real-time stream soak (~37 s)
    "session_window_merges_and_splits",         # real-time stream soak (~24 s)
    "stateful_running_totals_across_batches",   # real-time stream soak (~14 s)
    "streaming_compaction_cadence",             # cadence soaks (~22 s)
)


def pytest_collection_modifyitems(config, items):
    for item in items:
        fname = os.path.basename(str(item.fspath))
        slow_file = (fname in _SLOW_FILES
                     and f"{fname}::{item.name}" not in _DEFAULT_TIER_SMOKE)
        if slow_file or any(p in item.name for p in _SLOW_NAME_PARTS):
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    from universal_data_connector_spark.session import get_spark
    s = get_spark("udc-tests")
    yield s


@pytest.fixture(scope="session")
def duck():
    from tests.oracle_harness import duck_connection
    return duck_connection(SF_DIR)
