"""Store-carried maintenance exclusion (``store_lease``, VERDICT r15
item 1): compaction/vacuum acquire a lease carried BY THE STORE and
writer commits register marks there, so the exclusion holds across
configs, managers and processes — where the manager's config-name
``maintenance_window`` alone could not see a second config or a second
process writing the same store path.

The two race tests the verdict prescribed are here: a TWO-CONFIG race
(config B's maintenance vs a store config A is mid-commit on — both
through the same public surfaces the REST endpoint drives) and a
TWO-PROCESS race (a separate OS process holds the mark/lease). Both
fail against the pre-r16 code, where compaction proceeded into the
rename-swap data-loss window.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
import threading
import time
import types
import uuid

import pytest

from universal_data_connector_spark.operators.dedup_state import (
    compact_seen_store,
    seen_filter,
    seen_near_filter,
)
from universal_data_connector_spark.store_lease import (
    LEASE_NAME,
    WRITERS_DIR,
    StoreLeaseHeld,
    lease_owner,
    posix_maintenance_lease,
    posix_writer_mark,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _ids(df):
    return sorted(r.doc_id for r in df.collect())


def _seed_store(spark, store) -> None:
    _, c = seen_filter(_docs(spark, [(1, "aa"), (2, "bb")]),
                       store, ["text"], num_buckets=4)
    c()


# ---------------------------------------------------------------------------
# Both backends: the primitive and its payload format; POSIX: wiring
# ---------------------------------------------------------------------------

@pytest.fixture(params=["posix", "s3"])
def backend(request, tmp_path):
    """A fresh store on one backend: its lease and writer mark through
    the public entry points, plus direct access to the lease and mark
    artifacts by their store-relative names."""
    import universal_data_connector_spark.store_lease as sl

    if request.param == "posix":
        store = str(tmp_path / "seen")
        os.makedirs(os.path.join(store, WRITERS_DIR))

        def read(name):
            with open(os.path.join(store, name)) as fh:
                return json.load(fh)

        def write(name, payload):
            with open(os.path.join(store, name), "w") as fh:
                json.dump(payload, fh)

        return types.SimpleNamespace(
            lease=lambda: sl.posix_maintenance_lease(store),
            mark=lambda: sl.posix_writer_mark(store),
            read=read, write=write, ttl=None,
            names=lambda: sorted(
                os.path.relpath(os.path.join(d, f), store)
                for d, _, fs in os.walk(store) for f in fs))
    target = request.getfixturevalue("target")

    def write(name, payload):
        target.client.put_object(Bucket=target.bucket,
                                 Key=target._key(name),
                                 Body=json.dumps(payload).encode())

    return types.SimpleNamespace(
        lease=lambda: sl.s3_maintenance_lease(target),
        mark=lambda: sl.s3_writer_mark(target),
        read=lambda name: target._get_json(target._key(name))[0],
        write=write, ttl=sl.DEFAULT_S3_TTL,
        names=lambda: sorted(
            k[len(target.prefix) + 1:] for k in target.list_keys()
            if k.endswith(LEASE_NAME) or f"/{WRITERS_DIR}/" in k))


def test_lease_excludes_second_lease(backend):
    """Lease and lease, lease and mark exclude each other on both
    backends. Held artifacts keep their payload keys, order and
    values, and artifacts in that format from another holder are
    honoured: a fresh foreign-host holder refuses the other side, a
    same-host dead pid is broken."""
    from universal_data_connector_spark.store_lease import DEFAULT_S3_TTL

    keys = ["owner", "op", "pid", "host", "nonce", "acquired_unix",
            "ttl_seconds", "renew_seconds"]
    with backend.lease():
        with pytest.raises(StoreLeaseHeld):
            with backend.lease():
                pass
        with pytest.raises(StoreLeaseHeld):
            with backend.mark():
                pass
        assert backend.names() == [LEASE_NAME]  # refused mark removed
        held = backend.read(LEASE_NAME)
        assert list(held) == keys
        assert (held["op"], held["pid"], held["ttl_seconds"],
                held["renew_seconds"]) == (
            "maintenance", os.getpid(), backend.ttl, DEFAULT_S3_TTL / 3)
    with backend.mark():
        (mark,) = backend.names()
        assert mark.startswith(f"{WRITERS_DIR}/")
        held = backend.read(mark)
        assert list(held) == keys
        assert (held["op"], held["ttl_seconds"]) == ("commit", backend.ttl)
        with pytest.raises(StoreLeaseHeld):
            with backend.lease():
                pass
        assert backend.names() == [mark]  # refused lease removed
    # released on exit: re-acquirable
    assert backend.names() == []
    with backend.lease():
        pass

    proc = subprocess.run([sys.executable, "-c",
                           "import os; print(os.getpid())"],
                          capture_output=True, text=True, check=True)
    foreign = {"owner": "elsewhere", "op": "compact", "pid": 1,
               "host": "other-host", "nonce": "foreign-nonce",
               "acquired_unix": time.time(), "ttl_seconds": backend.ttl,
               "renew_seconds": DEFAULT_S3_TTL / 3}
    dead = dict(foreign, pid=int(proc.stdout),
                host=__import__("socket").gethostname())
    planted = f"{WRITERS_DIR}/{uuid.uuid4().hex}"
    backend.write(LEASE_NAME, foreign)
    with pytest.raises(StoreLeaseHeld):
        with backend.mark():
            pass
    backend.write(LEASE_NAME, dead)
    with backend.mark():
        pass
    assert backend.names() == []
    backend.write(planted, dict(foreign, op="commit"))
    with pytest.raises(StoreLeaseHeld):
        with backend.lease():
            pass
    backend.write(planted, dict(dead, op="commit"))
    with backend.lease():
        pass
    assert backend.names() == []


def test_posix_compaction_refused_while_commit_in_flight(
        spark, tmp_path):
    """THE data-loss race the lease exists to close: a commit in
    flight (writer mark held — any config, any process) must make
    compaction refuse instead of swapping bucket dirs out from under
    the commit's renames. Fails against pre-r16 code (compaction
    proceeded)."""
    store = str(tmp_path / "seen")
    _seed_store(spark, store)
    with posix_writer_mark(store):
        with pytest.raises(StoreLeaseHeld):
            compact_seen_store(spark, store)
    # mark released: compaction proceeds
    compact_seen_store(spark, store)


def test_posix_commit_refused_under_maintenance_lease(spark, tmp_path):
    """The reverse direction: a commit arriving while maintenance
    holds the store lease refuses BEFORE any append (store unchanged —
    the rerun ships the same survivors)."""
    store = str(tmp_path / "seen")
    _seed_store(spark, store)
    survivors, commit = seen_filter(
        _docs(spark, [(3, "cc")]), store, ["text"], num_buckets=4)
    assert _ids(survivors) == [3]
    with posix_maintenance_lease(store):
        with pytest.raises(StoreLeaseHeld):
            commit()
    # nothing appended: the same content still filters as NEW
    again, commit2 = seen_filter(
        _docs(spark, [(4, "cc")]), store, ["text"], num_buckets=4)
    assert _ids(again) == [4]
    commit2()


def test_posix_near_commit_refused_under_maintenance_lease(
        spark, tmp_path):
    """The near store's two-sub-store commit goes through the same
    writer mark (one per sub-store append)."""
    store = str(tmp_path / "near")
    s1, c1 = seen_near_filter(
        _docs(spark, [(1, "the quick brown fox jumps over the dog")]),
        store, text_col="text", id_col="doc_id", num_buckets=4)
    c1()
    s2, c2 = seen_near_filter(
        _docs(spark, [(2, "an entirely different document body here")]),
        store, text_col="text", id_col="doc_id", num_buckets=4)
    with posix_maintenance_lease(store):
        with pytest.raises(StoreLeaseHeld):
            c2()
    c2()  # after release the same commit completes


def test_posix_stale_dead_pid_artifacts_are_broken(spark, tmp_path):
    """A crashed holder must not wedge the store: lease AND mark files
    recorded by a dead pid on this host are broken by the next
    checker."""
    store = str(tmp_path / "seen")
    _seed_store(spark, store)
    proc = subprocess.run([sys.executable, "-c",
                           "import os; print(os.getpid())"],
                          capture_output=True, text=True, check=True)
    dead = {"owner": None, "op": "compact", "pid": int(proc.stdout),
            "host": __import__("socket").gethostname(),
            "acquired_unix": time.time(), "ttl_seconds": None}
    with open(os.path.join(store, LEASE_NAME), "w") as fh:
        json.dump(dead, fh)
    # writer breaks the dead lease and commits
    _, commit = seen_filter(_docs(spark, [(3, "cc")]), store,
                            ["text"], num_buckets=4)
    commit()
    # dead writer mark likewise broken by maintenance
    os.makedirs(os.path.join(store, WRITERS_DIR), exist_ok=True)
    with open(os.path.join(store, WRITERS_DIR, "deadmark"), "w") as fh:
        json.dump(dict(dead, op="commit"), fh)
    compact_seen_store(spark, store)
    assert not os.path.exists(os.path.join(store, WRITERS_DIR,
                                           "deadmark"))


def test_posix_same_owner_breaks_stale_predecessor(tmp_path):
    """A restarted incarnation of the SAME logical owner (a streaming
    query resuming its checkpoint) supersedes its predecessor's
    artifacts even when pid-liveness can't decide (same live pid)."""
    store = str(tmp_path / "seen")
    os.makedirs(store, exist_ok=True)
    stale = {"owner": "stream:ckpt-1", "op": "compact",
             "pid": os.getpid(),
             "host": __import__("socket").gethostname(),
             "acquired_unix": time.time(), "ttl_seconds": None}
    with open(os.path.join(store, LEASE_NAME), "w") as fh:
        json.dump(stale, fh)
    with lease_owner("stream:ckpt-1"):
        with posix_maintenance_lease(store):
            pass  # acquired by breaking the same-owner leftover
    # a DIFFERENT owner may not break it (live pid, no TTL)
    with open(os.path.join(store, LEASE_NAME), "w") as fh:
        json.dump(stale, fh)
    with lease_owner("stream:ckpt-2"), pytest.raises(StoreLeaseHeld):
        with posix_maintenance_lease(store):
            pass


# ---------------------------------------------------------------------------
# POSIX: the two-process race (VERDICT r15 item 1 done-criterion)
# ---------------------------------------------------------------------------

def _hold_in_subprocess(kind: str, store: str) -> subprocess.Popen:
    """A real second OS process holding a writer mark or the
    maintenance lease on ``store`` via the public API."""
    ctx = ("posix_writer_mark" if kind == "mark"
           else "posix_maintenance_lease")
    code = textwrap.dedent(f"""
        import sys, time
        sys.path.insert(0, {REPO!r})
        from universal_data_connector_spark.store_lease import {ctx}
        with {ctx}({store!r}):
            print("HELD", flush=True)
            time.sleep(60)
    """)
    proc = subprocess.Popen([sys.executable, "-c", code],
                            stdout=subprocess.PIPE, text=True)
    assert proc.stdout.readline().strip() == "HELD"
    return proc


def test_two_process_compaction_refused(spark, tmp_path):
    """Compaction racing a concurrent append from ANOTHER PROCESS on
    the SAME store path: the store-carried mark makes it refuse. The
    pre-r16 manager window could not see this process at all."""
    store = str(tmp_path / "seen")
    _seed_store(spark, store)
    proc = _hold_in_subprocess("mark", store)
    try:
        with pytest.raises(StoreLeaseHeld):
            compact_seen_store(spark, store)
    finally:
        proc.kill()
        proc.wait()


def test_two_process_commit_refused(spark, tmp_path):
    """The mirror image: this process's commit refuses while another
    process holds the store's maintenance lease."""
    store = str(tmp_path / "seen")
    _seed_store(spark, store)
    _, commit = seen_filter(_docs(spark, [(3, "cc")]), store,
                            ["text"], num_buckets=4)
    proc = _hold_in_subprocess("lease", store)
    try:
        with pytest.raises(StoreLeaseHeld):
            commit()
    finally:
        proc.kill()
        proc.wait()
    commit()  # holder gone: the same commit completes


# ---------------------------------------------------------------------------
# the two-config race (VERDICT r15 item 1 done-criterion)
# ---------------------------------------------------------------------------

def test_two_config_maintenance_409_on_shared_store(spark, tmp_path):
    """Config B (different pipeline names — the manager window sees
    nothing running) compacts the SAME stateDir config A is mid-commit
    on: the store lease refuses, and the REST endpoint maps it to 409
    keyed on store identity. Fails against pre-r16 code, where the
    config-name window let compaction proceed."""
    import urllib.request

    from universal_data_connector_spark.manager import PipelineManager
    from universal_data_connector_spark.rest import ControlPlaneServer

    store = str(tmp_path / "shared-store")
    _seed_store(spark, store)
    src_b = tmp_path / "in-b"
    src_b.mkdir()
    (src_b / "x.txt").write_text("hello")
    cfg_b = tmp_path / "config-b.yaml"
    cfg_b.write_text(f"""
pipelines:
  - name: pipeline-b-{uuid.uuid4().hex[:6]}
    source:
      type: file
      properties:
        directoryPath: {src_b}
    transformations:
      - type: dedup_state
        properties:
          stateDir: {store}
          keys: content
    sink:
      type: file
      properties:
        directoryPath: {tmp_path / "out-b"}
""")
    server = ControlPlaneServer(PipelineManager(spark), port=0).start()
    try:
        url = (f"http://127.0.0.1:{server.port}/api/pipelines/"
               f"maintenance?configFilePath={cfg_b}&op=compact")
        # config A's commit is in flight on the shared store
        with posix_writer_mark(store):
            req = urllib.request.Request(url, method="POST")
            try:
                urllib.request.urlopen(req)
                raise AssertionError("expected HTTP 409")
            except urllib.error.HTTPError as exc:
                assert exc.code == 409
                body = json.loads(exc.read())
                assert "writer commit" in body["error"]
        # mark released: the same request succeeds
        req = urllib.request.Request(url, method="POST")
        with urllib.request.urlopen(req) as resp:
            out = json.loads(resp.read())
        assert out["compacted"] == [{"store": store}]
    finally:
        server.stop()


# ---------------------------------------------------------------------------
# concurrency stress: no committed key is ever lost
# ---------------------------------------------------------------------------

def test_posix_interleaved_commits_and_compactions_lose_nothing(
        spark, tmp_path):
    """Interleave commits with compaction attempts from a second
    thread; every commit that RETURNED must have its keys present at
    the end (losers of the exclusion raise loudly instead)."""
    import threading

    store = str(tmp_path / "seen")
    committed: list[str] = []
    stop = threading.Event()
    refused = [0]

    def compact_loop():
        # bounded cadence: a back-to-back loop would hold the lease
        # nearly continuously and starve the writer (the exclusion is
        # correct but not fair — maintenance is an OFFLINE op)
        while not stop.is_set():
            try:
                compact_seen_store(spark, store)
            except StoreLeaseHeld:
                refused[0] += 1
            stop.wait(0.4)

    t = threading.Thread(target=compact_loop, daemon=True)
    t.start()
    try:
        i = 0
        for batch in range(8):
            texts = [f"doc-{batch}-{j}" for j in range(3)]
            rows = [(i + j, t_) for j, t_ in enumerate(texts)]
            i += len(texts)
            # the production contract under contention: a refused
            # commit (StoreLeaseHeld) or a read that raced a bucket
            # swap (loud FAILED_READ_FILE — reader fencing is a
            # documented non-goal) RERUNS the batch; what must never
            # happen is a commit that RETURNED losing keys
            while True:
                try:
                    _, commit = seen_filter(_docs(spark, rows), store,
                                            ["text"], num_buckets=4)
                    commit()
                    break
                except StoreLeaseHeld:
                    time.sleep(0.01)
                except Exception as exc:  # noqa: BLE001
                    # both shapes of the swapped-file race: read-time
                    # FAILED_READ_FILE and plan-time footer reads
                    if not any(s in str(exc) for s in
                               ("FAILED_READ_FILE",
                                "FileNotFoundException",
                                "does not exist")):
                        raise
                    time.sleep(0.01)
            committed.extend(texts)
    finally:
        stop.set()
        t.join(timeout=30)
    # every committed text must filter as SEEN
    probe, _ = seen_filter(
        _docs(spark, list(enumerate(committed))), store, ["text"],
        num_buckets=4)
    assert probe.count() == 0


# ---------------------------------------------------------------------------
# object store (moto loopback)
# ---------------------------------------------------------------------------

moto_server = pytest.importorskip("moto.server")
boto3 = pytest.importorskip("boto3")

BUCKET = "udc-lease-loopback"


@pytest.fixture(scope="module")
def s3_client():
    server = moto_server.ThreadedMotoServer(port=0)
    server.start()
    port = server._server.socket.getsockname()[1]
    client = boto3.client(
        "s3", endpoint_url=f"http://127.0.0.1:{port}",
        region_name="us-east-1",
        aws_access_key_id="test-access",
        aws_secret_access_key="test-secret")
    client.create_bucket(Bucket=BUCKET)
    yield client
    server.stop()


@pytest.fixture
def target(s3_client):
    from universal_data_connector_spark.streaming.object_state import (
        S3StateTarget,
    )
    return S3StateTarget(BUCKET, f"lease-{uuid.uuid4().hex[:8]}",
                         client=s3_client, num_buckets=4)


def _seed_s3(spark, target) -> None:
    from universal_data_connector_spark.operators.dedup_state import (
        seen_filter,
    )
    _, c = seen_filter(_docs(spark, [(1, "aa"), (2, "bb")]),
                          target, ["text"])
    c()


def test_s3_compaction_refused_while_commit_in_flight(spark, target):
    from universal_data_connector_spark.operators.dedup_state import (
        compact_seen_store,
    )
    from universal_data_connector_spark.store_lease import s3_writer_mark
    _seed_s3(spark, target)
    with s3_writer_mark(target):
        with pytest.raises(StoreLeaseHeld):
            compact_seen_store(spark, target)
    compact_seen_store(spark, target)


def test_s3_seen_append_proceeds_during_maintenance(spark, target):
    """Deliberate asymmetry vs POSIX (see ``S3SeenStore.append``): the
    object-store seen append is provably safe against compaction
    (listing-scoped deletes) and vacuum (namespace-excluded), so it
    takes NO writer mark — at 100 TB a compaction pass is long and a
    refusal would stall every ingest commit for its duration. The
    append must succeed under a held lease and its keys must stick."""
    from universal_data_connector_spark.operators.dedup_state import (
        seen_filter,
    )
    from universal_data_connector_spark.store_lease import (
        s3_maintenance_lease,
    )
    _seed_s3(spark, target)
    survivors, commit = seen_filter(
        _docs(spark, [(3, "cc")]), target, ["text"])
    assert _ids(survivors) == [3]
    with s3_maintenance_lease(target):
        commit()  # not refused, not lost
    probe, _ = seen_filter(_docs(spark, [(4, "cc")]),
                              target, ["text"])
    assert _ids(probe) == []


def test_s3_vacuum_refused_while_merge_in_flight(spark, target):
    """A vacuum racing a merge would delete the merge's fresh, not-
    yet-pointer-referenced generation objects; the merge's writer mark
    makes the vacuum refuse instead."""
    from universal_data_connector_spark.store_lease import s3_writer_mark
    from universal_data_connector_spark.streaming.object_state import (
        vacuum_target,
    )
    with s3_writer_mark(target):
        with pytest.raises(StoreLeaseHeld):
            vacuum_target(target)
    assert vacuum_target(target) == 0


def test_s3_merge_refused_under_maintenance_lease(spark, target):
    from universal_data_connector_spark.store_lease import (
        s3_maintenance_lease,
    )
    from universal_data_connector_spark.streaming.windows import (
        keep_latest_merge,
    )
    frame = spark.createDataFrame(
        [(1, 10, 1.0)], "user_id bigint, ord bigint, value double")
    with s3_maintenance_lease(target):
        with pytest.raises(StoreLeaseHeld):
            keep_latest_merge(frame, 1, target=target,
                            keys=["user_id"], order_col="ord")
    keep_latest_merge(frame, 1, target=target, keys=["user_id"],
                    order_col="ord")


def test_s3_vacuum_never_deletes_lease_namespace(spark, target):
    """The control objects (lease while held, writer-mark namespace)
    are excluded from the vacuum's garbage listing."""
    from universal_data_connector_spark.streaming.object_state import (
        vacuum_target,
    )
    from universal_data_connector_spark.streaming.windows import (
        keep_latest_merge,
    )
    frame = spark.createDataFrame(
        [(1, 10, 1.0)], "user_id bigint, ord bigint, value double")
    keep_latest_merge(frame, 1, target=target, keys=["user_id"],
                    order_col="ord")
    # a stale (ttl=0) mark: vacuum cleans it via the staleness rule,
    # but never lists the namespace as data garbage
    key = target._key(WRITERS_DIR, "stale-mark")
    target.client.put_object(
        Bucket=target.bucket, Key=key, Body=json.dumps(
            {"owner": "gone", "op": "commit", "pid": 1, "host": "x",
             "acquired_unix": 0.0, "ttl_seconds": 0.0}).encode())
    vacuum_target(target)
    # state intact after the vacuum
    from universal_data_connector_spark.streaming.object_state import (
        read_state_s3,
    )
    out = read_state_s3(
        spark, target, "user_id bigint, ord bigint, value double")
    assert out.count() == 1


def test_s3_ttl_expired_lease_is_broken(target):
    """No cross-host pid liveness exists on an object store, so a
    crashed holder's lease must expire via its TTL — both a writer
    and a later maintenance op may break it."""
    from universal_data_connector_spark.store_lease import (
        s3_maintenance_lease,
        s3_writer_mark,
    )

    def plant_expired():
        target.client.put_object(
            Bucket=target.bucket, Key=target._key(LEASE_NAME),
            Body=json.dumps(
                {"owner": "crashed-elsewhere", "op": "vacuum",
                 "pid": 1, "host": "another-host",
                 "acquired_unix": 0.0, "ttl_seconds": 0.0}).encode())

    plant_expired()
    with s3_writer_mark(target):
        pass  # broke the expired lease instead of raising
    plant_expired()
    with s3_maintenance_lease(target):
        pass  # claimed over the expired predecessor


# ---------------------------------------------------------------------------
# r17: heartbeat renewal (VERDICT r16 item 1) + staleness-rule fixes
# ---------------------------------------------------------------------------

def test_s3_slow_commit_under_renewal_still_excludes_maintenance(target):
    """A writer commit that outlives its own TTL keeps its exclusion
    via the heartbeat: the mark's acquired_unix is refreshed every
    ttl/3, so a concurrent maintenance attempt is refused instead of
    breaking a LIVE (but slow) commit. Fails against the pre-r17
    fixed-TTL code, where the elapsed mark read as stale."""
    from universal_data_connector_spark.store_lease import (
        s3_maintenance_lease,
        s3_writer_mark,
    )

    with s3_writer_mark(target, ttl=0.9):
        time.sleep(1.6)  # well past the un-renewed TTL; ~5 renewals
        with pytest.raises(StoreLeaseHeld):
            with s3_maintenance_lease(target):
                pass
    # commit finished: its mark is gone and maintenance proceeds
    with s3_maintenance_lease(target):
        pass


def test_s3_slow_maintenance_under_renewal_still_excludes_commit(target):
    """The mirror: a compaction longer than its TTL keeps refusing
    writer commits while live (the >1h-compaction edge of ADVICE
    r16), and a crashed (non-renewing) holder still expires —
    ``test_s3_ttl_expired_lease_is_broken`` above pins that side."""
    from universal_data_connector_spark.store_lease import (
        s3_maintenance_lease,
        s3_writer_mark,
    )

    # ttl=3.0 (renewal every 1.0 s) instead of the original 0.9/1.6:
    # the tight margin made the heartbeat lose to multi-second host
    # steal bursts (recorded r21 flake on a steal-burst window) — the
    # semantics under test (sleep > ttl, lease still held because the
    # holder renews) are unchanged, the real-time margin is just wide
    # enough that a ~2 s scheduler pause can't expire a live holder.
    with s3_maintenance_lease(target, ttl=3.0):
        time.sleep(5.0)
        with pytest.raises(StoreLeaseHeld):
            with s3_writer_mark(target):
                pass
    with s3_writer_mark(target):
        pass


def test_s3_lost_renewal_never_clobbers_successor(target):
    """Fenced renewal: if the holder's lease is broken and re-claimed
    by a successor (here: planted externally), the next renewal loses
    its ETag CAS, the renewer flips ``lost``, and the holder's release
    SKIPS its delete — the successor's lease survives intact."""
    from universal_data_connector_spark.store_lease import (
        s3_maintenance_lease,
    )

    foreign = {"owner": "successor", "op": "vacuum", "pid": 1,
               "host": "another-host", "acquired_unix": time.time(),
               "ttl_seconds": 3600.0}
    with s3_maintenance_lease(target, ttl=0.6):
        # simulate a breaker: replace the lease under the holder
        target.client.put_object(
            Bucket=target.bucket, Key=target._key(LEASE_NAME),
            Body=json.dumps(foreign).encode())
        time.sleep(0.7)  # at least one renewal fires and loses CAS
    got = json.loads(target.client.get_object(
        Bucket=target.bucket,
        Key=target._key(LEASE_NAME))["Body"].read())
    assert got["owner"] == "successor"  # release did not delete it


def test_same_owner_live_other_process_is_not_broken(tmp_path):
    """ADVICE r16 (medium): owner match alone must NOT break a
    still-LIVE predecessor in another process — a second incarnation
    starting while a zombie holds the lease mid-compaction would
    reopen the compaction-vs-append race. Once the zombie dies, the
    same-host dead-pid rule breaks the leftover."""
    store = str(tmp_path / "seen")
    os.makedirs(store, exist_ok=True)
    code = textwrap.dedent(f"""
        import sys, time
        sys.path.insert(0, {REPO!r})
        from universal_data_connector_spark.store_lease import (
            lease_owner, posix_maintenance_lease)
        with lease_owner("stream:ckpt-z"):
            with posix_maintenance_lease({store!r}):
                print("HELD", flush=True)
                time.sleep(60)
    """)
    proc = subprocess.Popen([sys.executable, "-c", code],
                            stdout=subprocess.PIPE, text=True)
    try:
        assert proc.stdout.readline().strip() == "HELD"
        with lease_owner("stream:ckpt-z"), pytest.raises(StoreLeaseHeld):
            with posix_maintenance_lease(store):
                pass
    finally:
        proc.kill()
        proc.wait()
    # predecessor dead: the same owner now supersedes its leftover
    with lease_owner("stream:ckpt-z"):
        with posix_maintenance_lease(store):
            pass


def test_posix_foreign_host_staleness_is_mtime_bounded(tmp_path):
    """VERDICT r16 item 3: a parseable POSIX payload whose host is
    not this host (crashed container, hostname changed on restart)
    falls back to mtime + the default TTL — old enough breaks, fresh
    refuses."""
    from universal_data_connector_spark.store_lease import (
        DEFAULT_S3_TTL,
    )

    store = str(tmp_path / "seen")
    os.makedirs(store, exist_ok=True)
    lease = os.path.join(store, LEASE_NAME)
    payload = {"owner": "who-knows", "op": "compact", "pid": 12345,
               "host": "some-dead-container", "acquired_unix": 0.0,
               "ttl_seconds": None}
    with open(lease, "w") as fh:
        json.dump(payload, fh)
    # fresh mtime: refused
    with pytest.raises(StoreLeaseHeld):
        with posix_maintenance_lease(store):
            pass
    # mtime older than the TTL: broken
    old = time.time() - DEFAULT_S3_TTL - 5
    os.utime(lease, (old, old))
    with posix_maintenance_lease(store):
        pass


def test_posix_heartbeat_refreshes_payload_and_mtime(tmp_path):
    """The POSIX heartbeat rewrites acquired_unix (and thereby mtime)
    so a long-running local holder never ages past the foreign-host
    mtime bound a shared-filesystem checker applies."""
    store = str(tmp_path / "seen")
    entered = time.time()
    with posix_maintenance_lease(store, renew_every=0.1):
        time.sleep(0.45)
        lease = os.path.join(store, LEASE_NAME)
        with open(lease) as fh:
            payload = json.load(fh)
        assert payload["acquired_unix"] > entered + 0.2
        assert os.path.getmtime(lease) > entered + 0.2
    assert not os.path.exists(os.path.join(store, LEASE_NAME))


def test_s3_renewal_exclusion_holds_under_hammering(target):
    """Contention stress for the heartbeat: a commit holding its mark
    well past the TTL (renewing at ttl/3) is hammered by maintenance
    attempts every ~40 ms — NONE may succeed while the commit is live,
    and the first attempt after release must succeed. Pre-r17 the
    first post-TTL attempt would break the live mark."""
    import threading

    from universal_data_connector_spark.store_lease import (
        s3_maintenance_lease,
        s3_writer_mark,
    )

    holding = threading.Event()
    released = threading.Event()

    def slow_commit():
        with s3_writer_mark(target, ttl=0.4):
            holding.set()
            time.sleep(1.3)  # > 3 TTLs; ~9 renewals
        released.set()

    t = threading.Thread(target=slow_commit, daemon=True)
    t.start()
    assert holding.wait(10)
    breaches = 0
    while not released.is_set():
        try:
            with s3_maintenance_lease(target):
                if not released.is_set():
                    breaches += 1  # maintenance ran over a live commit
        except StoreLeaseHeld:
            pass
        time.sleep(0.04)
    t.join(10)
    assert breaches == 0
    with s3_maintenance_lease(target):
        pass  # released: acquirable


def test_s3_renewal_exclusion_holds_mirror_direction(target):
    """The mirror: a long maintenance hold (renewing past its TTL) is
    hammered by writer commits — none lands while the lease is live."""
    import threading

    from universal_data_connector_spark.store_lease import (
        s3_maintenance_lease,
        s3_writer_mark,
    )

    holding = threading.Event()
    released = threading.Event()

    def slow_maintenance():
        # ttl=2.0 (renewal every ~0.67 s) instead of the original 0.4:
        # the tight margin lost the heartbeat to sub-second host
        # scheduler pauses (r22 flake on a contended window) — the
        # semantics (hold longer than the TTL, renewals keep exclusion)
        # are unchanged, the margin just tolerates a ~1.3 s pause.
        with s3_maintenance_lease(target, ttl=2.0):
            holding.set()
            time.sleep(4.0)
        released.set()

    t = threading.Thread(target=slow_maintenance, daemon=True)
    t.start()
    assert holding.wait(10)
    breaches = 0
    while not released.is_set():
        try:
            with s3_writer_mark(target):
                if not released.is_set():
                    breaches += 1
        except StoreLeaseHeld:
            pass
        time.sleep(0.04)
    t.join(10)
    assert breaches == 0
    with s3_writer_mark(target):
        pass


def test_s3_renewal_recovers_own_landed_write(target):
    """Nonce fencing (r17 review): a renewal whose earlier PUT landed
    but whose response was lost (stale cached ETag) CAS-conflicts
    against the holder's OWN write — the nonce identifies it and the
    heartbeat recovers instead of flipping lost; release still deletes
    the lease."""
    import botocore.exceptions  # noqa: F401 - env guard parity

    from universal_data_connector_spark.store_lease import (
        LEASE_NAME,
        s3_maintenance_lease,
    )

    key = target._key(LEASE_NAME)
    with s3_maintenance_lease(target, ttl=0.6):
        # simulate "previous tick landed, response lost": re-PUT our
        # own payload (same nonce, fresh acquired_unix) so the ETag
        # the renewer cached goes stale against our own write
        payload, _ = target._get_json(key)
        target.client.put_object(
            Bucket=target.bucket, Key=key,
            Body=json.dumps(dict(payload,
                                 acquired_unix=time.time())).encode())
        time.sleep(0.7)  # renewals CAS-conflict, must recover via nonce
        holder, _ = target._get_json(key)
        assert holder is not None and holder["nonce"] == payload["nonce"]
    # not lost: release deleted the lease as usual
    holder, _ = target._get_json(key)
    assert holder is None


# ---------------------------------------------------------------------------
# r18: renewer-construction release parity, pause self-fence, in-process
# same-owner live holders (VERDICT r17 items 3-4, ADVICE r17)
# ---------------------------------------------------------------------------

def test_s3_lease_released_when_renewer_construction_fails(
        target, monkeypatch):
    """VERDICT r17 item 3: a renewer-construction failure (thread/fd
    exhaustion) right after the claim PUT must release the S3 lease —
    the POSIX paths already do; pre-r18 the S3 lease leaked until its
    1 h TTL. Fails against the r17 code."""
    import universal_data_connector_spark.store_lease as sl

    def boom(*a, **k):
        raise RuntimeError("can't start thread")

    monkeypatch.setattr(sl._S3Leases, "renewer", boom)
    with pytest.raises(RuntimeError, match="can't start thread"):
        with sl.s3_maintenance_lease(target):
            pass
    holder, _ = target._get_json(target._key(LEASE_NAME))
    assert holder is None  # released, not leaked until TTL


def test_s3_mark_released_when_renewer_construction_fails(
        target, monkeypatch):
    """The writer-mark twin of the construction-failure release."""
    import universal_data_connector_spark.store_lease as sl

    def boom(*a, **k):
        raise RuntimeError("can't start thread")

    monkeypatch.setattr(sl._S3Leases, "renewer", boom)
    with pytest.raises(RuntimeError, match="can't start thread"):
        with sl.s3_writer_mark(target):
            pass
    assert target.list_keys(under=WRITERS_DIR) == []


def test_s3_paused_holder_release_never_deletes_successor(
        target, monkeypatch):
    """VERDICT r17 item 4: a holder paused past its TTL (no landed
    renewal) must SELF-FENCE at release — a successor may have broken
    and re-claimed the lease during the pause, and the pre-r18
    unconditional delete_object destroyed the successor's LIVE lease.
    Renewals are forced to fail transiently (the pause), a successor
    claims after the TTL lapses, and the paused holder's release must
    leave the successor's lease intact."""
    import universal_data_connector_spark.store_lease as sl

    def frozen_renewer(*a, **k):
        def never_lands():
            raise OSError("simulated pause: renewal cannot land")
        return sl._Renewer(never_lands, 0.05)

    monkeypatch.setattr(sl._S3Leases, "renewer", frozen_renewer)
    key = target._key(LEASE_NAME)
    successor = {"owner": "successor", "op": "vacuum", "pid": 1,
                 "host": "other-host", "nonce": "succ-nonce",
                 "acquired_unix": time.time(), "ttl_seconds": 3600.0}
    with sl.s3_maintenance_lease(target, ttl=0.3):
        time.sleep(0.5)  # past the TTL with zero landed renewals
        # the successor legitimately broke the now-expired lease and
        # claimed its own
        target.client.put_object(Bucket=target.bucket, Key=key,
                                 Body=json.dumps(successor).encode())
    got, _ = target._get_json(key)
    assert got is not None and got["nonce"] == "succ-nonce"


def test_posix_paused_holder_release_never_deletes_successor(
        tmp_path, monkeypatch):
    """POSIX twin of the pause self-fence: the lease file is a fixed
    name, so a paused holder's unconditional unlink would delete a
    successor's live lease."""
    import universal_data_connector_spark.store_lease as sl

    def frozen_renewer(*a, **k):
        def never_lands():
            raise OSError("simulated pause")
        return sl._Renewer(never_lands, 0.05)

    monkeypatch.setattr(sl._PosixLeases, "renewer", frozen_renewer)
    monkeypatch.setattr(sl, "DEFAULT_S3_TTL", 0.3)
    store = str(tmp_path / "seen")
    lease = os.path.join(store, LEASE_NAME)
    successor = {"owner": "successor", "op": "vacuum", "pid": 1,
                 "host": "other-host", "nonce": "succ-nonce",
                 "acquired_unix": time.time(), "ttl_seconds": 3600.0}
    with sl.posix_maintenance_lease(store):
        time.sleep(0.5)
        os.unlink(lease)  # successor broke the lapsed lease...
        with open(lease, "w") as fh:  # ...and claimed its own
            json.dump(successor, fh)
    with open(lease) as fh:
        assert json.load(fh)["nonce"] == "succ-nonce"


def test_in_process_same_owner_live_lease_not_broken(tmp_path):
    """ADVICE r17: two live threads sharing one ``lease_owner`` must
    not break each other's LIVE lease — pre-r18 the own-pid
    supersession rule treated any same-owner-same-pid artifact as a
    breakable leftover. The nonce registry distinguishes a HELD
    artifact from a leftover. Fails against the r17 code."""
    import threading

    store = str(tmp_path / "seen")
    holding, release = threading.Event(), threading.Event()

    def holder():
        with lease_owner("job:x"):
            with posix_maintenance_lease(store):
                holding.set()
                release.wait(30)

    t = threading.Thread(target=holder, daemon=True)
    t.start()
    assert holding.wait(10)
    try:
        with lease_owner("job:x"), pytest.raises(StoreLeaseHeld):
            with posix_maintenance_lease(store):
                pass
        assert os.path.exists(os.path.join(store, LEASE_NAME))
    finally:
        release.set()
        t.join(10)
    # holder released: the same owner acquires normally now
    with lease_owner("job:x"):
        with posix_maintenance_lease(store):
            pass


def test_in_process_same_owner_live_mark_excludes_maintenance(tmp_path):
    """The dangerous direction of ADVICE r17: a live writer mark from
    a same-owner sibling thread must keep excluding maintenance —
    pre-r18, the maintenance-side mark sweep broke the LIVE mark as stale and
    compaction proceeded concurrently with the commit."""
    import threading

    store = str(tmp_path / "seen")
    os.makedirs(store, exist_ok=True)
    holding, release = threading.Event(), threading.Event()

    def committer():
        with lease_owner("job:x"):
            with posix_writer_mark(store):
                holding.set()
                release.wait(30)

    t = threading.Thread(target=committer, daemon=True)
    t.start()
    assert holding.wait(10)
    try:
        with lease_owner("job:x"), pytest.raises(StoreLeaseHeld):
            with posix_maintenance_lease(store):
                pass
        # the sibling's mark survived the refused attempt
        assert len(os.listdir(os.path.join(store, WRITERS_DIR))) == 1
    finally:
        release.set()
        t.join(10)
    with lease_owner("job:x"):
        with posix_maintenance_lease(store):
            pass


def test_s3_in_process_same_owner_live_mark_excludes_maintenance(target):
    """S3 twin of the in-process same-owner mark exclusion."""
    import threading

    from universal_data_connector_spark.store_lease import (
        s3_maintenance_lease,
        s3_writer_mark,
    )

    holding, release = threading.Event(), threading.Event()

    def committer():
        with lease_owner("job:x"):
            with s3_writer_mark(target):
                holding.set()
                release.wait(30)

    t = threading.Thread(target=committer, daemon=True)
    t.start()
    assert holding.wait(10)
    try:
        with lease_owner("job:x"), pytest.raises(StoreLeaseHeld):
            with s3_maintenance_lease(target):
                pass
        assert len(target.list_keys(under=WRITERS_DIR)) == 1
    finally:
        release.set()
        t.join(10)
    with lease_owner("job:x"):
        with s3_maintenance_lease(target):
            pass


# ---------------------------------------------------------------------------
# Lease internals: inode fence, renewer-construction release, pause
# self-fence, nonce registry, staleness rules, heartbeat scheduler
# (the default tier runs these: conftest._DEFAULT_TIER_SMOKE)
# ---------------------------------------------------------------------------

def test_posix_renewer_never_overwrites_successor(tmp_path):
    """Inode fence (r17 review): after a breaker unlinks and re-claims
    the lease, the old holder's heartbeat must neither overwrite the
    successor's file (writes go through the held fd -> orphaned
    inode) nor delete it at release (lost flips on the inode
    mismatch)."""
    import json as _json
    import time as _time

    from universal_data_connector_spark.store_lease import LEASE_NAME

    store = str(tmp_path / "seen")
    lease = os.path.join(store, LEASE_NAME)
    successor = {"owner": "successor", "op": "compact", "pid": 1,
                 "host": "elsewhere", "acquired_unix": 0.0,
                 "ttl_seconds": None}
    with posix_maintenance_lease(store, renew_every=0.1):
        os.unlink(lease)  # a breaker...
        with open(lease, "w") as fh:  # ...and its successor's claim
            _json.dump(successor, fh)
        _time.sleep(0.45)  # several heartbeat ticks fire
        with open(lease) as fh:
            assert _json.load(fh)["owner"] == "successor"
    # release skipped its unlink: the successor's lease survives
    with open(lease) as fh:
        assert _json.load(fh)["owner"] == "successor"


def test_posix_renewer_failure_releases_claim(tmp_path, monkeypatch):
    """A renewer that fails to construct (fd exhaustion) must release
    the just-claimed artifact instead of wedging the store until the
    process exits (r17 review)."""
    import pytest

    from universal_data_connector_spark import store_lease as sl

    def boom(*a, **k):
        raise OSError(24, "Too many open files")

    monkeypatch.setattr(sl._PosixLeases, "renewer", boom)
    store = str(tmp_path / "seen")
    with pytest.raises(OSError):
        with sl.posix_maintenance_lease(store):
            pass
    assert not os.path.exists(os.path.join(store, sl.LEASE_NAME))
    with pytest.raises(OSError):
        with sl.posix_writer_mark(store):
            pass
    wdir = os.path.join(store, sl.WRITERS_DIR)
    assert os.listdir(wdir) == []


def test_wedged_nonce_ages_out_and_same_owner_supersedes(
        tmp_path, monkeypatch):
    """VERDICT r18 item 4: a nonce registered by a thread that died
    between claim and finally (no heartbeat ever ran) must stop
    counting as live once its artifact ages past the TTL without a
    renewal, so a same-process restart of the owner supersedes instead
    of wedging until process exit. Fails against the r18
    ``_is_stale`` (the bare registry check)."""
    import universal_data_connector_spark.store_lease as sl

    monkeypatch.setattr(sl, "DEFAULT_S3_TTL", 0.3)
    store = str(tmp_path / "seen")
    os.makedirs(store)
    path = os.path.join(store, sl.LEASE_NAME)
    payload = sl._payload("maintenance", "job:x", None)
    with open(path, "w") as fh:
        json.dump(payload, fh)
    # simulate the wedge: nonce registered, holding frame never
    # unwinds, renewer never constructed (no heartbeat)
    with sl._LIVE_NONCES_LOCK:
        sl._LIVE_NONCES.add(payload["nonce"])
    try:
        with sl.lease_owner("job:x"):
            # artifact still TTL-fresh: the registered nonce holds
            with pytest.raises(sl.StoreLeaseHeld):
                with sl.posix_maintenance_lease(store):
                    pass
            time.sleep(0.4)  # ages past the TTL with no renewal
            with sl.posix_maintenance_lease(store):
                pass  # supersedes the wedged leftover
    finally:
        with sl._LIVE_NONCES_LOCK:
            sl._LIVE_NONCES.discard(payload["nonce"])


def test_posix_paused_holder_untouched_artifact_still_released(
        tmp_path, monkeypatch):
    """ADVICE r18 (low): on POSIX a same-host live-pid no-TTL leftover
    is never stale to a different-owner checker, so the r18 self-fence
    (leave the artifact whenever the pause outlived the TTL) wedged
    maintenance until process exit. The inode fence proves the file
    was never broken/re-claimed during the pause and deletes it."""
    import universal_data_connector_spark.store_lease as sl

    monkeypatch.setattr(sl, "DEFAULT_S3_TTL", 0.3)
    store = str(tmp_path / "seen")
    lease = os.path.join(store, sl.LEASE_NAME)
    # renew_every default (TTL/3) was bound at import => no renewal
    # lands during the pause; last_ok stays at claim time
    with sl.posix_maintenance_lease(store):
        time.sleep(0.5)  # pause past the TTL; nobody touches the file
    assert not os.path.exists(lease)  # r18 self-fence left it behind
    # the wedge the advisor described: a DIFFERENT owner proceeds now
    with sl.lease_owner("other-owner"):
        with sl.posix_maintenance_lease(store):
            pass


def test_posix_paused_holder_replaced_artifact_still_fenced(
        tmp_path, monkeypatch):
    """The narrowing keeps the fence where it matters: if the file was
    broken and re-claimed during the pause (different inode), the
    release still leaves the successor's artifact alone."""
    import universal_data_connector_spark.store_lease as sl

    monkeypatch.setattr(sl, "DEFAULT_S3_TTL", 0.3)
    store = str(tmp_path / "seen")
    lease = os.path.join(store, sl.LEASE_NAME)
    successor = {"owner": "successor", "op": "vacuum", "pid": 1,
                 "host": "other-host", "nonce": "succ-nonce",
                 "acquired_unix": time.time(), "ttl_seconds": 3600.0}
    with sl.posix_maintenance_lease(store):
        time.sleep(0.5)
        os.unlink(lease)  # a breaker took the lapsed lease...
        with open(lease, "w") as fh:  # ...and a successor claimed it
            json.dump(successor, fh)
    with open(lease) as fh:
        assert json.load(fh)["nonce"] == "succ-nonce"


def test_heartbeat_pool_many_holders_all_tick_and_stop_clean():
    """Stress the pooled tick dispatcher: 24 concurrent renewers (6×
    the pool size) with mixed intervals — every one must keep
    receiving ticks (no lost re-schedule in the worker handoff) and
    stop() must leave no tick in flight."""
    import universal_data_connector_spark.store_lease as sl

    counts = [0] * 24
    renewers = []

    def make(i):
        def renew() -> bool:
            counts[i] += 1
            return True
        return renew

    for i in range(24):
        renewers.append(sl._Renewer(make(i), 0.05 + (i % 3) * 0.03))
    try:
        time.sleep(1.5)
    finally:
        for r in renewers:
            r.stop()
    assert min(counts) >= 3, f"some renewer starved: {counts}"
    settled = list(counts)
    time.sleep(0.3)
    assert counts == settled, "tick fired after stop()"


def test_is_stale_decision_matrix(monkeypatch):
    """Exhaustive truth table for the staleness rules after the r19
    nonce-TTL narrowing — every (owner-match, pid, host, nonce-state,
    ttl-state) combination asserted against the module docstring's
    three rules, so any future edit that flips one cell fails here
    with the exact combination named."""
    import socket as _socket

    import universal_data_connector_spark.store_lease as sl

    me_host = _socket.gethostname()
    me_pid = os.getpid()
    now = time.time()
    live_nonce = "tt-live-nonce"
    with sl._LIVE_NONCES_LOCK:
        sl._LIVE_NONCES.add(live_nonce)
    try:
        def payload(owner="job:x", pid=me_pid, host=me_host,
                    nonce="tt-unregistered", age=0.0, ttl=None):
            return {"owner": owner, "op": "t", "pid": pid, "host": host,
                    "nonce": nonce, "acquired_unix": now - age,
                    "ttl_seconds": ttl}

        dead_pid = 2 ** 22 + 12345  # outside this sandbox's pid space
        cases = [
            # (description, payload, checker_owner, expect_stale)
            ("own pid + owner + unregistered nonce -> leftover",
             payload(), "job:x", True),
            ("own pid + owner + LIVE fresh nonce -> held (ADVICE r17)",
             payload(nonce=live_nonce), "job:x", False),
            ("own pid + owner + live nonce but artifact aged past TTL"
             " -> wedged, breakable (VERDICT r18 item 4)",
             payload(nonce=live_nonce, age=sl.DEFAULT_S3_TTL + 1),
             "job:x", True),
            ("owner mismatch + our live pid -> held",
             payload(), "job:OTHER", False),
            ("no owner recorded + our live pid -> held",
             payload(owner=None), "job:x", False),
            ("same host, dead pid -> breakable regardless of owner",
             payload(owner="someone", pid=dead_pid), "job:x", True),
            ("same host, live pid, no ttl -> held",
             payload(owner="someone"), "job:x", False),
            ("foreign host, no ttl -> undecidable here (mtime bound"
             " lives in _PosixLeases.stale, not _is_stale)",
             payload(host="elsewhere"), "job:OTHER", False),
            ("foreign host, ttl expired -> breakable",
             payload(host="elsewhere", age=10.0, ttl=5.0),
             "job:OTHER", True),
            ("foreign host, ttl not yet expired -> held",
             payload(host="elsewhere", age=2.0, ttl=500.0),
             "job:OTHER", False),
            ("same OWNER but different pid, live ttl -> held"
             " (ADVICE r16: zombie predecessor keeps exclusion)",
             payload(pid=dead_pid + 1, host="elsewhere", ttl=500.0),
             "job:x", False),
            ("unreadable payload -> not breakable here",
             None, "job:x", False),
        ]
        for desc, p, checker, want in cases:
            got = sl._is_stale(p, checker)
            assert got == want, f"{desc}: got {got}, want {want}"
    finally:
        with sl._LIVE_NONCES_LOCK:
            sl._LIVE_NONCES.discard(live_nonce)


def test_hung_renewal_does_not_starve_other_heartbeats():
    """ADVICE r18 (low): ticks run on a small worker pool, so a single
    hung renewal (boto retries can take minutes) cannot head-of-line
    block every other holder's heartbeat and erode the 2/3-TTL slack.
    Fails against the r18 serial scheduler (the fast holder gets ~1
    tick in the window instead of dozens)."""
    import universal_data_connector_spark.store_lease as sl

    hang = threading.Event()

    def slow_renew() -> bool:
        hang.wait(10)  # simulated stalled network renewal
        return True

    ticks: list[float] = []

    def fast_renew() -> bool:
        ticks.append(time.time())
        return True

    slow = sl._Renewer(slow_renew, 0.05)
    fast = sl._Renewer(fast_renew, 0.05)
    try:
        time.sleep(1.0)
        assert len(ticks) >= 5, (
            f"fast heartbeat starved behind the hung one: {len(ticks)}")
    finally:
        hang.set()
        fast.stop()
        slow.stop()


def test_posix_fenced_release_leaves_successor_file(tmp_path, monkeypatch):
    """ADVICE r19 (medium): the release ownership check runs while the
    claim fd is still OPEN. A holder paused past the TTL whose lease
    was broken and re-claimed by a successor must leave the
    successor's file in place — detected through the held fd
    (st_nlink==0 / inode mismatch), not a close-then-stat race."""
    import json as _json
    import os
    import time

    import universal_data_connector_spark.store_lease as sl

    monkeypatch.setattr(sl, "DEFAULT_S3_TTL", 0.3)
    store = str(tmp_path / "seen")
    lease = os.path.join(store, sl.LEASE_NAME)
    successor = {"owner": "successor", "op": "vacuum", "pid": 1,
                 "host": "other-host", "nonce": "succ-nonce",
                 "acquired_unix": time.time(), "ttl_seconds": 3600.0}
    # renew_every huge: zero ticks land, so last_ok stays at claim
    # time and the holder is genuinely expired at release
    with sl.posix_maintenance_lease(store, renew_every=3600.0):
        time.sleep(0.5)
        os.unlink(lease)                 # breaker unlinked ours...
        with open(lease, "w") as fh:     # ...successor re-claimed
            _json.dump(successor, fh)
    with open(lease) as fh:
        assert _json.load(fh)["nonce"] == "succ-nonce"


def test_posix_fenced_release_still_unwedges_untouched_artifact(
        tmp_path, monkeypatch):
    """The ADVICE r18 unwedge survives the r20 re-ordering: a holder
    paused past the TTL whose artifact nobody touched (the common
    same-host POSIX case) DELETES it — fd nlink, path inode and the
    payload nonce all still prove ownership."""
    import os
    import time

    import universal_data_connector_spark.store_lease as sl

    monkeypatch.setattr(sl, "DEFAULT_S3_TTL", 0.3)
    store = str(tmp_path / "seen")
    lease = os.path.join(store, sl.LEASE_NAME)
    with sl.posix_maintenance_lease(store, renew_every=3600.0):
        time.sleep(0.5)  # expired, artifact untouched
    assert not os.path.exists(lease), (
        "paused-but-untouched lease must be deleted, not left to "
        "wedge maintenance until process exit")


def test_posix_fenced_release_catches_same_inode_overwrite(
        tmp_path, monkeypatch):
    """Third fence layer: a successor that OVERWRITES the expired
    lease in place (truncate+write — same path, same inode, so
    neither fstat-nlink nor the inode compare can see it) is caught
    by the payload-nonce re-read immediately before the unlink."""
    import json as _json
    import os
    import time

    import universal_data_connector_spark.store_lease as sl

    monkeypatch.setattr(sl, "DEFAULT_S3_TTL", 0.3)
    store = str(tmp_path / "seen")
    lease = os.path.join(store, sl.LEASE_NAME)
    successor = {"owner": "successor", "op": "vacuum", "pid": 1,
                 "host": "other-host", "nonce": "succ-nonce",
                 "acquired_unix": time.time(), "ttl_seconds": 3600.0}
    with sl.posix_maintenance_lease(store, renew_every=3600.0):
        time.sleep(0.5)  # expired with zero landed renewals
        ino_before = os.stat(lease).st_ino
        with open(lease, "w") as fh:  # in-place adoption, inode kept
            _json.dump(successor, fh)
        assert os.stat(lease).st_ino == ino_before
    with open(lease) as fh:
        assert _json.load(fh)["nonce"] == "succ-nonce", (
            "release deleted a successor's in-place claim the inode "
            "checks cannot distinguish — the nonce re-read must fence")


def test_nonce_exclusion_bound_scales_with_claim_schedule():
    """ADVICE r19 (low): _nonce_holds_exclusion must bound staleness
    by the claim's ACTUAL ttl/renew cadence, not the bare
    DEFAULT_S3_TTL — a live on-schedule holder with ttl >
    3x default (renew interval > 1 h) must not become same-process
    breakable between its own renewals."""
    import time

    import universal_data_connector_spark.store_lease as sl

    base = {"owner": "job:x", "op": "maintenance", "pid": 1,
            "host": "h", "nonce": "n-sched"}
    aged = time.time() - 2 * sl.DEFAULT_S3_TTL
    with sl._held_nonce("n-sched"):
        # default schedule, aged past the default TTL: wedge -> False
        assert not sl._nonce_holds_exclusion(
            dict(base, acquired_unix=aged,
                 ttl_seconds=None, renew_seconds=None))
        # big caller-supplied TTL: renewals land every ttl/3 > the
        # default TTL, so the same age is on-schedule -> True
        assert sl._nonce_holds_exclusion(
            dict(base, acquired_unix=aged,
                 ttl_seconds=4 * sl.DEFAULT_S3_TTL,
                 renew_seconds=4 * sl.DEFAULT_S3_TTL / 3))
        # POSIX (no ttl) with a slow renew cadence: bound follows
        # 4x renew_seconds -> True
        assert sl._nonce_holds_exclusion(
            dict(base, acquired_unix=aged, ttl_seconds=None,
                 renew_seconds=sl.DEFAULT_S3_TTL))
    # not registered at all -> never live
    assert not sl._nonce_holds_exclusion(
        dict(base, acquired_unix=time.time(),
             ttl_seconds=None, renew_seconds=None))


def test_heartbeat_pool_grows_past_static_cap_under_hung_renewals():
    """ADVICE r19 (low): 5+ simultaneously hung renewals (> the
    static 4-worker pool) must not starve another holder's heartbeat
    — the pool cap scales with the number of live renewers."""
    import threading
    import time

    import universal_data_connector_spark.store_lease as sl

    hang = threading.Event()

    def hung_renew() -> bool:
        hang.wait(15)
        return True

    ticks: list[float] = []

    def healthy_renew() -> bool:
        ticks.append(time.time())
        return True

    renewers = [sl._Renewer(hung_renew, 0.05) for _ in range(6)]
    healthy = sl._Renewer(healthy_renew, 0.05)
    try:
        time.sleep(1.5)
        assert len(ticks) >= 5, (
            f"healthy heartbeat starved behind 6 hung renewals "
            f"(pre-r20 pool cap): {len(ticks)} ticks")
    finally:
        hang.set()
        healthy.stop()
        for r in renewers:
            r.stop()


# ---------------------------------------------------------------------------
# conditional stale break: a breaker paused between its read and its
# break must not remove a successor's live lease
# ---------------------------------------------------------------------------

def _race_paused_breaker(monkeypatch, backend, hold, lease_nonce):
    """Thread A reads the stale lease and pauses inside ``read``; the
    main thread breaks that lease and claims its own; A then resumes.
    Returns what A got and the lease nonce seen while the main thread
    still held."""
    real_read = backend.read
    paused, resume = threading.Event(), threading.Event()
    breaker = {}

    def read(self, name):
        got = real_read(self, name)
        payload = got[0] if isinstance(got, tuple) else got
        if (threading.get_ident() == breaker.get("ident")
                and not paused.is_set() and isinstance(payload, dict)
                and payload.get("nonce") == "stale-nonce"):
            paused.set()
            resume.wait(30)
        return got

    monkeypatch.setattr(backend, "read", read)
    outcome = []

    def run():
        breaker["ident"] = threading.get_ident()
        try:
            with hold():
                outcome.append("held")
        except StoreLeaseHeld:
            outcome.append("refused")

    a = threading.Thread(target=run)
    a.start()
    assert paused.wait(30)
    with hold():
        resume.set()
        a.join(30)
        seen = lease_nonce()
    return outcome, seen


def test_posix_paused_breaker_never_deletes_successor_lease(
        tmp_path, monkeypatch):
    """A breaker that read a dead-pid lease and paused must not unlink
    the successor's lease that took its name meanwhile: it moves the
    file aside, finds another nonce, links it back and is refused."""
    import socket

    import universal_data_connector_spark.store_lease as sl

    store = str(tmp_path / "seen")
    os.makedirs(store)
    lease = os.path.join(store, LEASE_NAME)
    dead = subprocess.run([sys.executable, "-c",
                           "import os; print(os.getpid())"],
                          capture_output=True, text=True, check=True)
    with open(lease, "w") as fh:
        json.dump({"owner": None, "op": "compact",
                   "pid": int(dead.stdout), "host": socket.gethostname(),
                   "nonce": "stale-nonce", "acquired_unix": time.time(),
                   "ttl_seconds": None}, fh)

    def lease_nonce():
        if os.path.exists(lease):
            with open(lease) as fh:
                return json.load(fh)["nonce"]

    outcome, seen = _race_paused_breaker(
        monkeypatch, sl._PosixLeases,
        lambda: posix_maintenance_lease(store, op="compact"), lease_nonce)
    successor_held = seen not in (None, "stale-nonce")
    assert (outcome, successor_held) == (["refused"], True)
    assert not os.path.exists(lease)  # released by its one holder
    assert sorted(os.listdir(store)) == []  # no file left moved aside


def test_s3_paused_breaker_never_deletes_successor_lease(
        target, monkeypatch):
    """S3 twin: the paused breaker's delete carries the ETag it read,
    fails its precondition on the successor's object, and the re-read
    finds that lease live."""
    import universal_data_connector_spark.store_lease as sl

    key = target._key(LEASE_NAME)
    target.client.put_object(
        Bucket=target.bucket, Key=key,
        Body=json.dumps({"owner": "crashed-elsewhere", "op": "vacuum",
                         "pid": 1, "host": "another-host",
                         "nonce": "stale-nonce", "acquired_unix": 0.0,
                         "ttl_seconds": 0.0}).encode())

    def lease_nonce():
        got, _ = target._get_json(key)
        return got and got["nonce"]

    outcome, seen = _race_paused_breaker(
        monkeypatch, sl._S3Leases,
        lambda: sl.s3_maintenance_lease(target), lease_nonce)
    successor_held = seen not in (None, "stale-nonce")
    assert (outcome, successor_held) == (["refused"], True)
    assert target._get_json(key) == (None, None)
