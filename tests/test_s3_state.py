"""Object-store state backend e2e against a loopback moto server.

The POSIX state sinks' crash safety rides on ``os.rename``; the
object-store backend (``streaming/object_state.py``) replaces the
rename with immutable generations + a manifest-pointer CAS — the
lakehouse commit primitive. These tests drive the full protocol
against moto (which implements S3's public conditional-PUT semantics:
``If-None-Match:*`` create and ``If-Match`` ETag CAS, verified here),
including the crash cases the design argues about: a crash before the
pointer CAS leaves old state intact and the replay converges without
double-applying; ghost part files from a crashed attempt are invisible
because the pointer lists its objects explicitly; a concurrent writer
loses the CAS loudly.
"""

from __future__ import annotations

import json
import uuid
from functools import partial

import pytest

moto_server = pytest.importorskip("moto.server")
boto3 = pytest.importorskip("boto3")

from universal_data_connector_spark.streaming.object_state import (  # noqa: E402
    CasConflict,
    S3StateTarget,
    read_state_s3,
    vacuum_target,
)
from universal_data_connector_spark.streaming.windows import (  # noqa: E402
    additive_merge,
    claim_batch_run,
    foreachbatch_merge,
    keep_latest_merge,
    record_touched,
)

BUCKET = "udc-state-loopback"


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
    return S3StateTarget(BUCKET, f"state-{uuid.uuid4().hex[:8]}",
                         client=s3_client, num_buckets=4)


def _frame(spark, rows):
    return spark.createDataFrame(
        rows, "user_id bigint, ord bigint, value double")


AGG_SCHEMA = "user_id bigint, n bigint, total decimal(27,6), udc_kb int"


def _totals(spark, target):
    out = read_state_s3(spark, target, AGG_SCHEMA)
    return {r.user_id: (r.n, float(r.total)) for r in out.collect()}


# ---------------------------------------------------------------------------
# upsert
# ---------------------------------------------------------------------------

def test_upsert_keep_latest_across_merges(spark, target):
    keep_latest_merge(_frame(spark, [(1, 10, 1.0), (2, 10, 2.0)]), 1,
                    target=target, keys=["user_id"], order_col="ord")
    keep_latest_merge(_frame(spark, [(1, 20, 9.0), (3, 5, 3.0)]), 2,
                    target=target, keys=["user_id"], order_col="ord")
    out = read_state_s3(
        spark, target, "user_id bigint, ord bigint, value double")
    got = {r.user_id: (r.ord, r.value) for r in out.collect()}
    assert got == {1: (20, 9.0), 2: (10, 2.0), 3: (5, 3.0)}


def test_upsert_replay_is_idempotent(spark, target):
    batch = _frame(spark, [(1, 10, 1.0), (1, 10, 1.0), (2, 3, 2.0)])
    keep_latest_merge(batch, 1, target=target, keys=["user_id"],
                    order_col="ord")
    first = {r.user_id: (r.ord, r.value) for r in read_state_s3(
        spark, target,
        "user_id bigint, ord bigint, value double").collect()}
    keep_latest_merge(batch, 1, target=target, keys=["user_id"],
                    order_col="ord")
    again = {r.user_id: (r.ord, r.value) for r in read_state_s3(
        spark, target,
        "user_id bigint, ord bigint, value double").collect()}
    assert first == again == {1: (10, 1.0), 2: (3, 2.0)}


def test_cold_read_is_empty_not_an_error(spark, target):
    out = read_state_s3(spark, target, AGG_SCHEMA)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "user_id", "n", "total", "udc_kb"]


# ---------------------------------------------------------------------------
# agg_state: exactly-once
# ---------------------------------------------------------------------------

def test_agg_state_replay_does_not_double_count(spark, target):
    b1 = _frame(spark, [(1, 0, 1.5), (1, 0, 2.5), (2, 0, 10.0)])
    additive_merge(b1, 1, target=target, keys=["user_id"],
                       value_col="value")
    assert _totals(spark, target) == {1: (2, 4.0), 2: (1, 10.0)}
    # at-least-once delivery: the same batch id replays in full
    additive_merge(b1, 1, target=target, keys=["user_id"],
                       value_col="value")
    assert _totals(spark, target) == {1: (2, 4.0), 2: (1, 10.0)}
    # a NEW batch id adds
    additive_merge(_frame(spark, [(1, 0, 0.5)]), 2, target=target,
                       keys=["user_id"], value_col="value")
    assert _totals(spark, target) == {1: (3, 4.5), 2: (1, 10.0)}


def test_agg_state_crash_before_cas_then_replay_converges(
        spark, target, monkeypatch):
    """Crash injection at the exact point the design argues about: the
    merge uploads its generation objects and commits SOME pointer CAS
    calls, then dies. Old state must remain readable and the replay
    must apply exactly the uncommitted buckets."""
    additive_merge(
        _frame(spark, [(1, 0, 1.0), (2, 0, 2.0), (3, 0, 3.0),
                       (4, 0, 4.0), (5, 0, 5.0), (6, 0, 6.0)]),
        1, target=target, keys=["user_id"], value_col="value")
    before = _totals(spark, target)

    real_commit = S3StateTarget.commit_pointer
    calls = {"n": 0}

    def crashing_commit(self, bucket_id, applied, objects, etag):
        if calls["n"] >= 1:
            raise RuntimeError("injected crash mid-commit-loop")
        calls["n"] += 1
        return real_commit(self, bucket_id, applied, objects, etag)

    b2 = _frame(spark, [(1, 0, 10.0), (2, 0, 20.0), (3, 0, 30.0),
                        (4, 0, 40.0), (5, 0, 50.0), (6, 0, 60.0)])
    monkeypatch.setattr(S3StateTarget, "commit_pointer", crashing_commit)
    with pytest.raises(RuntimeError, match="injected crash"):
        additive_merge(b2, 2, target=target, keys=["user_id"],
                           value_col="value")
    monkeypatch.setattr(S3StateTarget, "commit_pointer", real_commit)

    # partial state is never visible as corruption: every key reads
    # either its old or its new total, never a mix within a bucket
    mid = _totals(spark, target)
    for uid, old in before.items():
        new = (old[0] + 1, old[1] + uid * 10.0)
        assert mid[uid] in (old, new)
    assert mid != before  # one bucket DID commit before the crash

    # checkpoint replays batch 2: committed buckets skip, the rest apply
    additive_merge(b2, 2, target=target, keys=["user_id"],
                       value_col="value")
    assert _totals(spark, target) == {
        uid: (old[0] + 1, old[1] + uid * 10.0)
        for uid, old in before.items()}

    # the crashed attempt's unreferenced generation objects are garbage
    # vacuum can prove and reclaim; live state survives it
    assert vacuum_target(target) > 0
    assert _totals(spark, target) == {
        uid: (old[0] + 1, old[1] + uid * 10.0)
        for uid, old in before.items()}


def test_ghost_objects_are_invisible_to_readers(spark, s3_client, target):
    """The pointer lists its objects explicitly, so junk under a
    committed generation prefix (a crashed attempt that partitioned
    differently, an abandoned multipart) can never be read as state."""
    additive_merge(_frame(spark, [(1, 0, 1.0)]), 1, target=target,
                       keys=["user_id"], value_col="value")
    ptr_key = next(k for k in target.list_keys() if k.endswith("/_ptr"))
    gen_prefix = json.loads(
        s3_client.get_object(Bucket=BUCKET, Key=ptr_key)["Body"].read()
    )["objects"][0].rsplit("/", 1)[0]
    # plant a ghost part file beside the committed one
    s3_client.put_object(Bucket=BUCKET,
                         Key=f"{gen_prefix}/part-999.parquet",
                         Body=b"not even parquet")
    assert _totals(spark, target) == {1: (1, 1.0)}


def test_concurrent_writer_loses_cas_loudly(spark, target):
    additive_merge(_frame(spark, [(1, 0, 1.0)]), 1, target=target,
                       keys=["user_id"], value_col="value")
    bucket_id = next(b for b in range(target.num_buckets)
                     if target.read_pointer(b)[0] is not None)
    ptr, stale_etag = target.read_pointer(bucket_id)
    # another writer commits in between
    target.commit_pointer(bucket_id, ptr["applied"] + 1,
                          ptr["objects"], stale_etag)
    with pytest.raises(CasConflict, match="one writer per state target"):
        target.commit_pointer(bucket_id, ptr["applied"] + 2,
                              ptr["objects"], stale_etag)


# ---------------------------------------------------------------------------
# streaming end-to-end
# ---------------------------------------------------------------------------

def test_streaming_agg_state_s3_end_to_end(spark, tmp_path, target):
    """Real readStream -> foreachBatch -> CAS commits, two triggers:
    totals must equal the batch groupBy over both files."""
    src = tmp_path / "in"
    src.mkdir()

    def write(name, rows):
        with open(src / name, "w") as f:
            for uid, v in rows:
                f.write(json.dumps({"user_id": uid, "value": v}) + "\n")

    def run(ckpt):
        raw = (spark.readStream
               .schema("user_id bigint, value double")
               .option("maxFilesPerTrigger", "1").json(str(src)))
        q = foreachbatch_merge(
            raw, partial(additive_merge, target=target, keys=["user_id"],
                         value_col="value"),
            checkpoint=str(tmp_path / ckpt))
        q.awaitTermination()

    write("a.json", [(1, 1.0), (1, 2.0), (2, 5.0)])
    write("b.json", [(1, 4.0), (3, 7.0)])
    run("ckpt")
    assert _totals(spark, target) == {
        1: (3, 7.0), 2: (1, 5.0), 3: (1, 7.0)}
    # restart on the SAME checkpoint: nothing new to process, nothing
    # double-applied
    run("ckpt")
    assert _totals(spark, target) == {
        1: (3, 7.0), 2: (1, 5.0), 3: (1, 7.0)}


# ---------------------------------------------------------------------------
# batch-run intent (the begin/end_batch_run twin)
# ---------------------------------------------------------------------------

def test_batch_runs_claim_monotonic_ids(spark, target):
    rid1 = claim_batch_run(target, fingerprint="fp-a")
    additive_merge(_frame(spark, [(1, 0, 1.0)]), rid1, target=target,
                       keys=["user_id"], value_col="value")
    target.intent_clear()
    rid2 = claim_batch_run(target, fingerprint="fp-b")
    assert rid2 == rid1 + 1
    additive_merge(_frame(spark, [(1, 0, 1.0)]), rid2, target=target,
                       keys=["user_id"], value_col="value")
    target.intent_clear()
    assert _totals(spark, target) == {1: (2, 2.0)}


def test_batch_run_same_fingerprint_resumes_same_id(spark, target):
    rid = claim_batch_run(target, fingerprint="fp-x")
    # crash before the merge: rerun with the same input resumes the id
    assert claim_batch_run(target, fingerprint="fp-x") == rid
    target.intent_clear()


def test_batch_run_changed_input_after_complete_reclaims_fresh(
        spark, target):
    rid = claim_batch_run(target, fingerprint="fp-old")
    additive_merge(_frame(spark, [(1, 0, 1.0), (2, 0, 2.0)]), rid,
                       target=target, keys=["user_id"], value_col="value")
    # crash between the merge and end_batch_run: the intent survives,
    # but every recorded bucket committed -> a changed input reclaims
    rid2 = claim_batch_run(target, fingerprint="fp-new")
    assert rid2 == rid + 1
    target.intent_clear()


def test_batch_run_changed_input_after_partial_apply_raises(
        spark, target, monkeypatch):
    # seed two keys in different buckets so batch 2 touches >= 2
    additive_merge(_frame(spark, [(1, 0, 1.0), (2, 0, 2.0),
                                      (3, 0, 3.0), (4, 0, 4.0)]),
                       claim_batch_run(target, fingerprint="seed"),
                       target=target, keys=["user_id"], value_col="value")
    target.intent_clear()

    rid = claim_batch_run(target, fingerprint="fp-old")
    real_commit = S3StateTarget.commit_pointer
    calls = {"n": 0}

    def crashing_commit(self, bucket_id, applied, objects, etag):
        if calls["n"] >= 1:
            raise RuntimeError("injected crash")
        calls["n"] += 1
        return real_commit(self, bucket_id, applied, objects, etag)

    monkeypatch.setattr(S3StateTarget, "commit_pointer", crashing_commit)
    with pytest.raises(RuntimeError):
        additive_merge(
            _frame(spark, [(1, 0, 10.0), (2, 0, 20.0), (3, 0, 30.0),
                           (4, 0, 40.0)]),
            rid, target=target, keys=["user_id"], value_col="value")
    monkeypatch.setattr(S3StateTarget, "commit_pointer", real_commit)
    # SOME recorded bucket committed, some did not: a different input
    # must be refused — no automatic choice is safe
    with pytest.raises(ValueError, match="partially applied"):
        claim_batch_run(target, fingerprint="fp-new")
    # the ORIGINAL input resumes and completes, then the new input runs
    rid_resume = claim_batch_run(target, fingerprint="fp-old")
    assert rid_resume == rid
    additive_merge(
        _frame(spark, [(1, 0, 10.0), (2, 0, 20.0), (3, 0, 30.0),
                       (4, 0, 40.0)]),
        rid_resume, target=target, keys=["user_id"], value_col="value")
    target.intent_clear()
    assert _totals(spark, target) == {
        1: (2, 11.0), 2: (2, 22.0), 3: (2, 33.0), 4: (2, 44.0)}


def test_record_touched_noop_without_matching_intent(target):
    # streaming merges carry no intent: recording must be a no-op
    record_touched(target, 99, [0, 1])
    assert target._get_json(target._key("_udc_batch_intent"))[0] is None


# ---------------------------------------------------------------------------
# vacuum keeps live state
# ---------------------------------------------------------------------------

def test_vacuum_reclaims_superseded_generations(spark, target):
    additive_merge(_frame(spark, [(1, 0, 1.0)]), 1, target=target,
                       keys=["user_id"], value_col="value")
    additive_merge(_frame(spark, [(1, 0, 2.0)]), 2, target=target,
                       keys=["user_id"], value_col="value")
    n_before = len([k for k in target.list_keys() if "gen-" in k])
    deleted = vacuum_target(target)
    assert deleted > 0
    assert len([k for k in target.list_keys() if "gen-" in k]) \
        == n_before - deleted
    assert _totals(spark, target) == {1: (2, 3.0)}


# ---------------------------------------------------------------------------
# engine surface: YAML pipelines routed onto the object-store backend
# ---------------------------------------------------------------------------

def _events_csv(rows):
    out = "event_id,user_id,ts,value\n"
    for r in rows:
        out += ",".join(map(str, r)) + "\n"
    return out


_SQL_EVENTS = """
    SELECT CAST(f[1] AS BIGINT) AS user_id,
           CAST(f[3] AS DOUBLE) AS value
    FROM (SELECT split(line, ',') AS f FROM (
            SELECT explode(slice(split(content, '\\n'), 2,
                                 1000000)) AS line
            FROM _input))
    WHERE size(f) >= 4"""


def test_agg_state_sink_yaml_s3_backend_incremental_runs(
        spark, tmp_path, s3_client, target):
    """A 'agg_state' sink whose props carry bucketName routes onto the
    object-store backend: two batch runs (manifest-scoped to new files)
    claim monotonic run ids via the CAS intent, apply exactly once,
    and the engine's deferred finalize clears the intent AFTER its
    consumed-file bookkeeping."""
    from universal_data_connector_spark.config import parse_config
    from universal_data_connector_spark.engine import run

    inp = tmp_path / "in"
    inp.mkdir()
    cfg = parse_config({"pipelines": [{
        "name": "totals-state-s3",
        "source": {"type": "file",
                   "properties": {"path": str(inp), "pattern": "*.csv",
                                  "manifestDir": str(tmp_path / "m")}},
        "transformations": [
            {"type": "sql", "properties": {"query": _SQL_EVENTS}},
        ],
        "sink": {"type": "agg_state",
                 "properties": {"bucketName": BUCKET,
                                "prefix": target.prefix,
                                "endpoint":
                                    s3_client.meta.endpoint_url,
                                "accessKey": "test-access",
                                "secretKey": "test-secret",
                                "keys": "user_id",
                                "valueColumn": "value",
                                "numBuckets": "4"}},
    }]}).pipelines[0]

    with open(inp / "a.csv", "w") as f:
        f.write(_events_csv([(1, 7, "2026-01-01 10:00:00", 1.0),
                             (2, 8, "2026-01-01 10:30:00", 5.0)]))
    run(spark, cfg)
    assert _totals(spark, target) == {7: (1, 1.0), 8: (1, 5.0)}
    # intent cleared by the deferred finalize
    assert target._get_json(target._key("_udc_batch_intent"))[0] is None

    with open(inp / "b.csv", "w") as f:
        f.write(_events_csv([(3, 7, "2026-01-01 11:00:00", 2.0)]))
    run(spark, cfg)
    assert _totals(spark, target) == {7: (2, 3.0), 8: (1, 5.0)}


def test_upsert_sink_yaml_s3_backend_streaming(
        spark, tmp_path, s3_client, target):
    """A streaming 'upsert' sink with bucketName props: readStream ->
    foreachBatch -> CAS commits through the sink registry."""
    from universal_data_connector_spark.sinks import create_sink
    from universal_data_connector_spark.config import SinkConfig

    src = tmp_path / "in"
    src.mkdir()
    with open(src / "a.json", "w") as f:
        for row in [{"user_id": 1, "ord": 1, "value": 1.0},
                    {"user_id": 1, "ord": 2, "value": 9.0},
                    {"user_id": 2, "ord": 1, "value": 5.0}]:
            f.write(json.dumps(row) + "\n")
    raw = (spark.readStream
           .schema("user_id bigint, ord bigint, value double")
           .json(str(src)))
    q = create_sink(raw, SinkConfig(type="upsert", properties={
        "bucketName": BUCKET, "prefix": target.prefix,
        "endpoint": s3_client.meta.endpoint_url,
        "accessKey": "test-access", "secretKey": "test-secret",
        "keys": "user_id", "orderColumn": "ord", "numBuckets": "4",
        "checkpointLocation": str(tmp_path / "ckpt")}), streaming=True)
    q.awaitTermination()
    out = read_state_s3(
        spark, target, "user_id bigint, ord bigint, value double")
    got = {r.user_id: (r.ord, r.value) for r in out.collect()}
    assert got == {1: (2, 9.0), 2: (1, 5.0)}


def test_constant_id_upsert_rerun_crash_cannot_tear_state(
        spark, target, monkeypatch):
    """Write-once generations under a CONSTANT batch id (the batch
    upsert sink passes 0 every run): a second run that crashes after
    uploading but before ANY pointer CAS must leave the first run's
    state byte-for-byte readable — the crashed upload may not touch a
    single live object. (Without the per-merge generation nonce the
    second upload overwrote the pointer-referenced objects in place,
    committing — or tearing — state with no commit.)"""
    keep_latest_merge(_frame(spark, [(1, 10, 1.0), (2, 10, 2.0)]), 0,
                    target=target, keys=["user_id"], order_col="ord")
    expected = {1: (10, 1.0), 2: (10, 2.0)}

    def refusing_commit(self, bucket_id, applied, objects, etag):
        raise RuntimeError("injected crash before any CAS")

    monkeypatch.setattr(S3StateTarget, "commit_pointer", refusing_commit)
    with pytest.raises(RuntimeError, match="before any CAS"):
        keep_latest_merge(_frame(spark, [(1, 99, 8.0), (2, 99, 9.0)]), 0,
                        target=target, keys=["user_id"], order_col="ord")
    monkeypatch.undo()

    out = read_state_s3(
        spark, target, "user_id bigint, ord bigint, value double")
    assert {r.user_id: (r.ord, r.value) for r in out.collect()} \
        == expected
    # the rerun (same constant id) completes and supersedes
    keep_latest_merge(_frame(spark, [(1, 99, 8.0), (2, 99, 9.0)]), 0,
                    target=target, keys=["user_id"], order_col="ord")
    out = read_state_s3(
        spark, target, "user_id bigint, ord bigint, value double")
    assert {r.user_id: (r.ord, r.value) for r in out.collect()} \
        == {1: (99, 8.0), 2: (99, 9.0)}


# ---------------------------------------------------------------------------
# model-based crash fuzz: random merges, random crash points, replay —
# final state must equal an in-memory model that applied every batch
# exactly once (the campaign's differential method, aimed at the
# commit protocol itself)
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("backend,seed", [
    (backend, seed) for backend in ("s3", "posix") for seed in (0, 1, 2)])
def test_agg_state_crash_fuzz_against_model(spark, request, tmp_path,
                                            monkeypatch, backend, seed):
    """Both storage targets run the same additive merge; the crash is
    injected at each one's per-bucket commit (the S3 pointer CAS, the
    POSIX two-rename swap)."""
    import random

    from universal_data_connector_spark.streaming.windows import (
        PosixStateTarget,
        additive_merge,
        read_state,
    )

    if backend == "s3":
        tgt = request.getfixturevalue("target")
        cls, method = S3StateTarget, "commit_pointer"

        def totals():
            return _totals(spark, tgt)
    else:
        tgt = PosixStateTarget(str(tmp_path / "state"), num_buckets=4)
        cls, method = PosixStateTarget, "commit_bucket"

        def totals():
            out = read_state(spark, tgt.path, AGG_SCHEMA)
            return {r.user_id: (r.n, float(r.total)) for r in out.collect()}

    def merge(batch, batch_id):
        additive_merge(batch, batch_id, target=tgt, keys=["user_id"],
                       value_col="value")

    rng = random.Random(seed)
    model: dict[int, tuple[int, float]] = {}
    real_commit = getattr(cls, method)

    def crash_after(n, message):
        calls = {"n": 0}

        def crashing(self, *args):
            if calls["n"] >= n:
                raise RuntimeError(message)
            calls["n"] += 1
            return real_commit(self, *args)
        return crashing

    for batch_id in range(1, 7):
        rows = [(rng.randint(1, 12), 0, float(rng.randint(1, 9)))
                for _ in range(rng.randint(0, 8))]
        for uid, _, v in rows:
            n, t = model.get(uid, (0, 0.0))
            model[uid] = (n + 1, t + v)
        batch = _frame(spark, rows) if rows else _frame(
            spark, []).limit(0)

        # crash after a random number of bucket commits (possibly 0 =
        # crash before any commit, possibly >= touched = no crash)
        monkeypatch.setattr(cls, method,
                            crash_after(rng.randint(0, 4), "fuzz crash"))
        try:
            merge(batch, batch_id)
            crashed = False
        except RuntimeError:
            crashed = True
        monkeypatch.setattr(cls, method, real_commit)
        if crashed:
            # the checkpoint replays the batch (possibly after a
            # second crash at a different point)
            if rng.random() < 0.3:
                monkeypatch.setattr(
                    cls, method,
                    crash_after(rng.randint(0, 2), "fuzz crash 2"))
                try:
                    merge(batch, batch_id)
                except RuntimeError:
                    pass
                monkeypatch.setattr(cls, method, real_commit)
            merge(batch, batch_id)

    assert totals() == model
    if backend == "s3":
        # every committed pointer survives a vacuum of the crash garbage
        vacuum_target(tgt)
        assert totals() == model


# ---------------------------------------------------------------------------
# object-store seen store (cross-run dedup, operators/dedup_state.py)
# ---------------------------------------------------------------------------

def _doc_frame(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_seen_filter_s3_across_batches(spark, target):
    from universal_data_connector_spark.operators.dedup_state import (
        seen_filter,
    )

    b1, c1 = seen_filter(_doc_frame(spark, [(1, "aa"), (2, "bb")]),
                            target, ["text"])
    assert sorted(r.doc_id for r in b1.collect()) == [1, 2]
    c1()
    b2, c2 = seen_filter(_doc_frame(spark, [(3, "aa"), (4, "cc")]),
                            target, ["text"])
    assert sorted(r.doc_id for r in b2.collect()) == [4]
    # uncommitted: rerun ships the same survivor (no data loss)
    b2r, c2r = seen_filter(_doc_frame(spark, [(4, "cc")]),
                              target, ["text"])
    assert sorted(r.doc_id for r in b2r.collect()) == [4]
    c2r()
    b3, _ = seen_filter(
        _doc_frame(spark, [(5, "aa"), (6, "bb"), (7, "cc")]),
        target, ["text"])
    assert b3.count() == 0


def test_seen_filter_s3_partial_commit_is_safe(spark, target,
                                               monkeypatch):
    """Crash mid-commit (some buckets' key objects uploaded): the
    rerun's survivors exclude the appended keys — correct, because the
    sink had already succeeded — and re-commit converges with no torn
    object ever visible (PUTs are atomic)."""
    from universal_data_connector_spark.operators.dedup_state import (
        seen_filter,
    )
    from universal_data_connector_spark.streaming.object_state import (
        S3StateTarget,
    )

    rows = [(i, f"doc-{i}") for i in range(32)]
    b1, c1 = seen_filter(_doc_frame(spark, rows), target, ["text"])
    assert b1.count() == 32

    # crash injection at the driver-side append seam (the per-object
    # transport now runs executor-side, out of monkeypatch reach):
    # upload ONE touched bucket's keys for real, then die — the same
    # "some buckets' key objects appended" state as before
    import universal_data_connector_spark.operators.dedup_state as ds
    from pyspark.sql import functions as F

    real_append = ds.S3SeenStore.append

    def crashing_append(self, frame, sub):
        one = frame.agg(F.min("udc_kb")).first()[0]
        real_append(self, frame.filter(F.col("udc_kb") == one), sub)
        raise RuntimeError("injected crash mid-append")

    monkeypatch.setattr(ds.S3SeenStore, "append", crashing_append)
    with pytest.raises(RuntimeError, match="mid-append"):
        c1()
    monkeypatch.undo()

    # rerun: the partially-appended keys filter as seen (they shipped
    # before the crash — finalize runs post-sink), the rest survive
    b1r, c1r = seen_filter(_doc_frame(spark, rows), target, ["text"])
    survivors = sorted(r.doc_id for r in b1r.collect())
    assert 0 < len(survivors) < 32
    c1r()
    b2, _ = seen_filter(_doc_frame(spark, rows), target, ["text"])
    assert b2.count() == 0


def test_dedup_state_yaml_s3_store_two_runs(spark, tmp_path, s3_client,
                                            target):
    """Engine e2e: the dedup_state transformation with bucketName props
    maintains the seen store on the object store across two runs."""
    from universal_data_connector_spark.config import parse_config
    from universal_data_connector_spark.engine import run

    inp = tmp_path / "in"
    out = tmp_path / "out"
    inp.mkdir()
    cfg = parse_config({"pipelines": [{
        "name": "dedup-ingest-s3",
        "source": {"type": "file",
                   "properties": {"path": str(inp), "pattern": "*.txt"}},
        "transformations": [
            {"type": "dedup_state",
             "properties": {"bucketName": BUCKET,
                            "prefix": target.prefix,
                            "endpoint": s3_client.meta.endpoint_url,
                            "accessKey": "test-access",
                            "secretKey": "test-secret",
                            "keys": "content", "numBuckets": "4"}},
        ],
        "sink": {"type": "file",
                 "properties": {"path": str(out), "extension": ".txt"}},
    }]}).pipelines[0]

    (inp / "a.txt").write_text("hello corpus")
    run(spark, cfg)
    import os as _os
    assert sorted(_os.listdir(out)) == ["a.txt"]
    (inp / "b.txt").write_text("hello corpus")   # dup content, new name
    (inp / "c.txt").write_text("fresh content")
    run(spark, cfg)
    assert sorted(_os.listdir(out)) == ["a.txt", "c.txt"]


# ---------------------------------------------------------------------------
# object-store seen-store compaction
# ---------------------------------------------------------------------------

def _seen_object_count(target):
    return len([k for k in target.list_keys()
                if k.endswith(".parquet")
                and k.rsplit("/", 1)[-1].startswith("seen-")])


def test_compact_seen_store_s3_preserves_filtering(spark, target):
    """After several commits (plus a replay), compaction collapses
    each bucket to one object and changes no filtering decision."""
    from universal_data_connector_spark.operators.dedup_state import (
        compact_seen_store,
        seen_filter,
    )

    for batch in ([(1, "aa"), (2, "bb")], [(3, "cc"), (4, "dd")]):
        out, commit = seen_filter(_doc_frame(spark, batch),
                                     target, ["text"])
        out.collect()
        commit()
        commit()  # replayed commit: duplicate appends
    before = _seen_object_count(target)
    deleted = compact_seen_store(spark, target)
    assert deleted == before  # every pre-compact object superseded
    after = _seen_object_count(target)
    assert after < before
    # per-bucket: exactly one object remains
    for b in range(target.num_buckets):
        ks = [k for k in target.list_keys(under=f"kb={b}")
              if k.endswith(".parquet")]
        assert len(ks) <= 1
    probe, _ = seen_filter(
        _doc_frame(spark, [(9, "aa"), (10, "dd"), (11, "zz")]),
        target, ["text"])
    assert sorted(r.doc_id for r in probe.collect()) == [11]
    # idempotent: a second compaction finds nothing to merge
    assert compact_seen_store(spark, target) == 0


def test_compact_seen_store_s3_never_deletes_racing_append(
        spark, target, monkeypatch):
    """A commit landing between the compactor's listing and its
    deletes must survive: only objects in the compactor's own listing
    are deleted, so the racer's keys still filter afterwards."""
    from universal_data_connector_spark.operators.dedup_state import (
        compact_seen_store,
        seen_filter,
    )
    from universal_data_connector_spark.streaming.object_state import (
        S3StateTarget,
    )

    out, commit = seen_filter(
        _doc_frame(spark, [(1, "aa"), (2, "bb"), (3, "cc")]),
        target, ["text"])
    out.collect()
    commit()
    commit()

    race = {"done": False}
    real_delete = S3StateTarget.delete_keys

    def racing_delete(self, keys):
        if not race["done"]:
            race["done"] = True
            out2, c2 = seen_filter(
                _doc_frame(spark, [(4, "race-doc")]), target, ["text"])
            out2.collect()
            c2()
        return real_delete(self, keys)

    monkeypatch.setattr(S3StateTarget, "delete_keys", racing_delete)
    compact_seen_store(spark, target)
    monkeypatch.undo()

    probe, _ = seen_filter(
        _doc_frame(spark, [(7, "aa"), (8, "race-doc"), (9, "new")]),
        target, ["text"])
    assert sorted(r.doc_id for r in probe.collect()) == [9]


def test_compact_seen_store_s3_crash_before_delete_is_safe(
        spark, target, monkeypatch):
    """Crash between the compact upload and the deletes: duplicates
    remain (harmless), filtering is unchanged, and a rerun of the
    compactor converges."""
    from universal_data_connector_spark.operators.dedup_state import (
        compact_seen_store,
        seen_filter,
    )
    from universal_data_connector_spark.streaming.object_state import (
        S3StateTarget,
    )

    out, commit = seen_filter(
        _doc_frame(spark, [(1, "aa"), (2, "bb")]), target, ["text"])
    out.collect()
    commit()
    commit()

    def crashing_delete(self, keys):
        raise RuntimeError("injected crash before delete")

    monkeypatch.setattr(S3StateTarget, "delete_keys", crashing_delete)
    with pytest.raises(RuntimeError, match="before delete"):
        compact_seen_store(spark, target)
    monkeypatch.undo()

    probe, _ = seen_filter(
        _doc_frame(spark, [(5, "aa"), (6, "zz")]), target, ["text"])
    assert sorted(r.doc_id for r in probe.collect()) == [6]
    compact_seen_store(spark, target)
    for b in range(target.num_buckets):
        ks = [k for k in target.list_keys(under=f"kb={b}")
              if k.endswith(".parquet")]
        assert len(ks) <= 1


def test_compact_seen_store_s3_ignores_foreign_objects(spark, target):
    """A parquet object under the prefix that is NOT a seen-store file
    (e.g. a misrouted state-sink generation) is neither read as keys
    nor deleted by the compactor."""
    from universal_data_connector_spark.operators.dedup_state import (
        compact_seen_store,
        seen_filter,
    )

    out, commit = seen_filter(_doc_frame(spark, [(1, "aa")]),
                                 target, ["text"])
    out.collect()
    commit()
    commit()
    foreign = target._key("kb=0", "gen-1-deadbeef", "part-0.parquet")
    target.client.put_object(Bucket=target.bucket, Key=foreign,
                             Body=b"not really parquet")
    compact_seen_store(spark, target)
    assert foreign in target.list_keys(under="kb=0")
    probe, _ = seen_filter(
        _doc_frame(spark, [(2, "aa"), (3, "bb")]), target, ["text"])
    assert sorted(r.doc_id for r in probe.collect()) == [3]


# ---------------------------------------------------------------------------
# object-store NEAR dedup store
# ---------------------------------------------------------------------------

_NB = ("the quick brown fox jumps over the lazy dog while the stream "
       "processes tokens and windows merge shuffle state into compact "
       "aggregate partitions every single hour")


def test_seen_near_filter_s3_across_batches(spark, target):
    from universal_data_connector_spark.operators.dedup_state import (
        seen_near_filter,
    )

    distinct = ("completely different content about database engines "
                "and the catalyst optimizer planning broadcast joins "
                "for dimension tables at scale with adaptive execution")
    b1, c1 = seen_near_filter(
        _doc_frame(spark, [(1, _NB), (2, distinct)]), target)
    assert sorted(r.doc_id for r in b1.collect()) == [1, 2]
    c1()
    fresh = ("entirely novel words describing sensor calibration and "
             "oceanographic measurement campaigns across seasonal "
             "temperature gradients in the northern fjord systems")
    b2, c2 = seen_near_filter(
        _doc_frame(spark, [(3, _NB + " appended"),
                           (4, distinct), (5, fresh)]), target)
    assert sorted(r.doc_id for r in b2.collect()) == [5]
    c2()
    b3, _ = seen_near_filter(
        _doc_frame(spark, [(6, fresh + " suffix")]), target)
    assert b3.count() == 0


def test_seen_near_filter_s3_param_mismatch_raises(spark, target):
    from universal_data_connector_spark.operators.dedup_state import (
        seen_near_filter,
    )

    b1, c1 = seen_near_filter(_doc_frame(spark, [(1, _NB)]), target)
    b1.collect()
    c1()
    with pytest.raises(ValueError, match="not comparable"):
        seen_near_filter(_doc_frame(spark, [(2, _NB)]), target,
                            num_hashes=64, bands=16)


def test_seen_near_filter_s3_crash_between_appends_converges(
        spark, target, monkeypatch):
    """Crash after the band append but before the sig append: the
    rerun re-ships (finalize died pre-manifest) and the replayed
    commit completes the sig store — the rerun-shaped convergence
    argument of the POSIX store, under atomic PUTs."""
    from universal_data_connector_spark.operators.dedup_state import (
        seen_near_filter,
    )
    from universal_data_connector_spark.streaming.object_state import (
        S3StateTarget,
    )

    b1, c1 = seen_near_filter(_doc_frame(spark, [(1, _NB)]), target)
    assert b1.count() == 1

    import universal_data_connector_spark.operators.dedup_state as ds

    real_append = ds.S3SeenStore.append

    def crashing_append(self, frame, sub):
        if sub == "sigs":
            raise RuntimeError("injected crash before sig append")
        return real_append(self, frame, sub)

    monkeypatch.setattr(ds.S3SeenStore, "append", crashing_append)
    with pytest.raises(RuntimeError, match="before sig append"):
        c1()
    monkeypatch.undo()

    # rerun: bands exist but sigs are missing -> candidates cannot be
    # scored, the doc ships again (at-least-once), commit completes
    b1r, c1r = seen_near_filter(_doc_frame(spark, [(1, _NB)]),
                                   target)
    assert b1r.count() == 1
    c1r()
    b2, _ = seen_near_filter(
        _doc_frame(spark, [(2, _NB + " extra")]), target)
    assert b2.count() == 0


def test_compact_seen_store_s3_handles_near_substores(spark, target):
    from universal_data_connector_spark.operators.dedup_state import (
        compact_seen_store,
        seen_near_filter,
    )

    b1, c1 = seen_near_filter(_doc_frame(spark, [(1, _NB)]), target)
    b1.collect()
    c1()
    c1()  # replayed commit: duplicate appends in bands/ and sigs/
    assert compact_seen_store(spark, target) > 0
    for sub in ("bands", "sigs"):
        for b in range(target.num_buckets):
            ks = [k for k in target.list_keys(under=f"{sub}/kb={b}")
                  if k.endswith(".parquet")]
            assert len(ks) <= 1, (sub, b, ks)
    probe, _ = seen_near_filter(
        _doc_frame(spark, [(2, _NB + " coda"),
                           (3, "wholly new material about harbor "
                               "dredging schedules and sediment "
                               "transport modelling results")]),
        target)
    assert sorted(r.doc_id for r in probe.collect()) == [3]


def test_dedup_state_near_yaml_s3_two_runs(spark, tmp_path, s3_client,
                                           target):
    """Engine e2e, mode near + bucketName: a tweaked rewrite of an
    already-shipped document is dropped on the second run, with the
    store living entirely on the object store."""
    from universal_data_connector_spark.config import parse_config
    from universal_data_connector_spark.engine import run

    inp = tmp_path / "in"
    out = tmp_path / "out"
    inp.mkdir()
    cfg = parse_config({"pipelines": [{
        "name": "near-ingest-s3",
        "source": {"type": "file",
                   "properties": {"path": str(inp), "pattern": "*.txt"}},
        "transformations": [
            {"type": "dedup_state",
             "properties": {"mode": "near",
                            "bucketName": BUCKET,
                            "prefix": target.prefix,
                            "endpoint": s3_client.meta.endpoint_url,
                            "accessKey": "test-access",
                            "secretKey": "test-secret",
                            "textColumn": "content",
                            "idColumn": "source_file"}},
        ],
        "sink": {"type": "file",
                 "properties": {"path": str(out), "extension": ".txt"}},
    }]}).pipelines[0]

    import os as _os
    (inp / "a.txt").write_text(_NB)
    run(spark, cfg)
    assert sorted(_os.listdir(out)) == ["a.txt"]
    (inp / "a.txt").unlink()
    (inp / "b.txt").write_text(_NB + " appended")       # near-dup
    (inp / "c.txt").write_text("fresh prose about alpine snowpack "
                               "instrumentation and avalanche "
                               "forecasting networks this season")
    run(spark, cfg)
    assert sorted(_os.listdir(out)) == ["a.txt", "c.txt"]


# ---------------------------------------------------------------------------
# object-store EMBEDDING dedup store
# ---------------------------------------------------------------------------

def _vec_frame(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>")


def _oh(i, dim=8, scale=1.0):
    v = [0.0] * dim
    v[i] = scale
    return v


def test_seen_embedding_filter_s3_across_batches(spark, target):
    from universal_data_connector_spark.operators.dedup_state import (
        seen_embedding_filter,
    )

    b1, c1 = seen_embedding_filter(
        _vec_frame(spark, [(1, _oh(0)), (2, _oh(1))]), target)
    assert sorted(r.vec_id for r in b1.collect()) == [1, 2]
    c1()
    b2, c2 = seen_embedding_filter(
        _vec_frame(spark, [(3, _oh(0, scale=2.0)), (4, _oh(2))]),
        target)
    assert sorted(r.vec_id for r in b2.collect()) == [4]
    c2()


def test_seen_embedding_filter_s3_dim_and_param_guards(spark, target):
    from universal_data_connector_spark.operators.dedup_state import (
        seen_embedding_filter,
    )

    b1, c1 = seen_embedding_filter(
        _vec_frame(spark, [(1, _oh(0, dim=8))]), target)
    b1.collect()
    c1()
    with pytest.raises(ValueError, match="8-wide"):
        seen_embedding_filter(
            _vec_frame(spark, [(2, _oh(0, dim=4))]), target)
    with pytest.raises(ValueError, match="not comparable"):
        seen_embedding_filter(
            _vec_frame(spark, [(3, _oh(1))]), target,
            n_planes=64, bands=8)


def test_seen_embedding_filter_s3_crash_between_appends_converges(
        spark, target, monkeypatch):
    from universal_data_connector_spark.operators.dedup_state import (
        seen_embedding_filter,
    )
    from universal_data_connector_spark.streaming.object_state import (
        S3StateTarget,
    )

    b1, c1 = seen_embedding_filter(
        _vec_frame(spark, [(1, _oh(0))]), target)
    assert b1.count() == 1

    import universal_data_connector_spark.operators.dedup_state as ds

    real_append = ds.S3SeenStore.append

    def crashing_append(self, frame, sub):
        if sub == "vecs":
            raise RuntimeError("injected crash before vec append")
        return real_append(self, frame, sub)

    monkeypatch.setattr(ds.S3SeenStore, "append", crashing_append)
    with pytest.raises(RuntimeError, match="before vec append"):
        c1()
    monkeypatch.undo()

    # bands without vecs cannot flag: the doc ships again
    # (at-least-once) and the replayed commit completes the store
    b1r, c1r = seen_embedding_filter(
        _vec_frame(spark, [(1, _oh(0))]), target)
    assert b1r.count() == 1
    c1r()
    b2, _ = seen_embedding_filter(
        _vec_frame(spark, [(2, _oh(0, scale=3.0))]), target)
    assert b2.count() == 0


def test_compact_seen_store_s3_handles_embedding_substores(
        spark, target):
    from universal_data_connector_spark.operators.dedup_state import (
        compact_seen_store,
        seen_embedding_filter,
    )

    b1, c1 = seen_embedding_filter(
        _vec_frame(spark, [(1, _oh(0))]), target)
    b1.collect()
    c1()
    c1()  # duplicate appends under bands/ and vecs/
    assert compact_seen_store(spark, target) > 0
    for sub in ("bands", "vecs"):
        for b in range(target.num_buckets):
            ks = [k for k in target.list_keys(under=f"{sub}/kb={b}")
                  if k.endswith(".parquet")]
            assert len(ks) <= 1, (sub, b, ks)
    probe, _ = seen_embedding_filter(
        _vec_frame(spark, [(2, _oh(0, scale=0.5)), (3, _oh(3))]),
        target)
    assert sorted(r.vec_id for r in probe.collect()) == [3]


def test_dedup_state_embedding_yaml_s3(spark, tmp_path, s3_client,
                                       target):
    """Engine e2e, mode embedding + bucketName: the store lives on the
    object store end to end."""
    import os as _os

    from universal_data_connector_spark.config import parse_config
    from universal_data_connector_spark.engine import run

    inp = tmp_path / "in"
    out = tmp_path / "out"
    inp.mkdir()
    cfg = parse_config({"pipelines": [{
        "name": "emb-ingest-s3",
        "source": {"type": "file",
                   "properties": {"path": str(inp),
                                  "pattern": "*.json"}},
        "transformations": [
            {"type": "sql",
             "properties": {"query":
                 "SELECT source_file, file_type, content, "
                 "from_json(content, 'array<double>') AS embedding "
                 "FROM _input"}},
            {"type": "dedup_state",
             "properties": {"mode": "embedding",
                            "bucketName": BUCKET,
                            "prefix": target.prefix,
                            "endpoint": s3_client.meta.endpoint_url,
                            "accessKey": "test-access",
                            "secretKey": "test-secret",
                            "idColumn": "source_file"}},
            {"type": "project",
             "properties": {"columns":
                            ["source_file", "file_type", "content"]}},
        ],
        "sink": {"type": "file",
                 "properties": {"path": str(out),
                                "extension": ".json"}},
    }]}).pipelines[0]

    (inp / "a.json").write_text("[1.0, 0.0, 0.0, 0.0]")
    run(spark, cfg)
    assert sorted(_os.listdir(out)) == ["a.json"]
    (inp / "a.json").unlink()
    (inp / "b.json").write_text("[2.5, 0.0, 0.0, 0.0]")
    (inp / "c.json").write_text("[0.0, 0.0, 1.0, 0.0]")
    run(spark, cfg)
    assert sorted(_os.listdir(out)) == ["a.json", "c.json"]


def test_cli_compact_stores_s3_branch(spark, s3_client, target):
    """The CLI maintenance entry routes bucketName dedup_state stores
    onto compact_seen_store and dedups shared stores."""
    from universal_data_connector_spark.cli import _compact_stores
    from universal_data_connector_spark.config import parse_config
    from universal_data_connector_spark.operators.dedup_state import (
        seen_filter,
    )

    b, c = seen_filter(_doc_frame(spark, [(1, "cli compact")]),
                          target, ["text"])
    b.collect()
    c()
    c()  # duplicate append to supersede
    props = {"mode": "exact", "keys": "text",
             "bucketName": BUCKET, "prefix": target.prefix,
             "endpoint": s3_client.meta.endpoint_url,
             "accessKey": "test-access", "secretKey": "test-secret"}
    cfg = parse_config({"pipelines": [
        {"name": f"p{i}",
         "source": {"type": "file", "properties": {"path": "/x"}},
         "transformations": [{"type": "dedup_state",
                              "properties": dict(props)}],
         "sink": {"type": "file", "properties": {"path": "/y"}}}
        for i in (1, 2)]})    # same store twice -> compacts once
    assert _compact_stores(spark, cfg) == 0
    for b_ in range(target.num_buckets):
        ks = [k for k in target.list_keys(under=f"kb={b_}")
              if k.endswith(".parquet")]
        assert len(ks) <= 1
    probe, _ = seen_filter(
        _doc_frame(spark, [(2, "cli compact"), (3, "fresh")]),
        target, ["text"])
    assert sorted(r.doc_id for r in probe.collect()) == [3]


def test_cli_vacuum_stores_spares_colocated_seen_store(
        spark, s3_client, target):
    """--vacuum-stores reclaims superseded generations of a state-sink
    target and must NOT touch a dedup seen store sharing the same
    bucket+prefix (append-only: no pointer ever references it)."""
    from universal_data_connector_spark.cli import _vacuum_stores
    from universal_data_connector_spark.config import parse_config
    from universal_data_connector_spark.operators.dedup_state import (
        seen_filter,
        seen_near_filter,
    )

    # two merges -> first generation superseded; plus co-located stores
    additive_merge(_frame(spark, [(1, 1, 1.0)]), 1,
                       target=target, keys=["user_id"],
                       value_col="value")
    additive_merge(_frame(spark, [(1, 2, 2.0)]), 2,
                       target=target, keys=["user_id"],
                       value_col="value")
    b, c = seen_filter(_doc_frame(spark, [(1, "keep me")]), target,
                          ["text"])
    b.collect()
    c()
    nb, nc = seen_near_filter(_doc_frame(spark, [(2, _NB)]), target)
    nb.collect()
    nc()

    before = set(target.list_keys())
    cfg = parse_config({"pipelines": [{
        "name": "v",
        "source": {"type": "file", "properties": {"path": "/x"}},
        "sink": {"type": "agg_state",
                 "properties": {"keys": "user_id",
                                "valueColumn": "value",
                                "bucketName": BUCKET,
                                "prefix": target.prefix,
                                "endpoint":
                                    s3_client.meta.endpoint_url,
                                "accessKey": "test-access",
                                "secretKey": "test-secret"}},
    }]})
    assert _vacuum_stores(cfg) == 0
    after = set(target.list_keys())
    deleted = before - after
    assert deleted, "expected superseded generations to be reclaimed"
    # nothing of the seen stores went anywhere
    assert all("seen-" not in k and "/bands/" not in k
               and "/sigs/" not in k for k in deleted), deleted
    # both stores still answer
    assert _totals(spark, target)[1][0] == 2
    p1, _ = seen_filter(_doc_frame(spark, [(3, "keep me")]), target,
                           ["text"])
    assert p1.count() == 0
    p2, _ = seen_near_filter(
        _doc_frame(spark, [(4, _NB + " tweak")]), target)
    assert p2.count() == 0


def test_dedup_state_streaming_s3_store(spark, tmp_path, s3_client,
                                        target):
    """Streaming dedup_state with the seen store on the OBJECT store:
    the foreachBatch filter-sink-commit contract is backend-agnostic."""
    import os as _os
    import time as _time

    from universal_data_connector_spark.config import parse_config
    from universal_data_connector_spark.engine import run

    inp = tmp_path / "in"
    out = tmp_path / "out"
    inp.mkdir()
    cfg = parse_config({"pipelines": [{
        "name": "stream-dedup-s3",
        "source": {"type": "file",
                   "properties": {"path": str(inp), "pattern": "*.txt",
                                  "streaming": "true"}},
        "transformations": [
            {"type": "dedup_state",
             "properties": {"keys": "content",
                            "bucketName": BUCKET,
                            "prefix": target.prefix,
                            "endpoint": s3_client.meta.endpoint_url,
                            "accessKey": "test-access",
                            "secretKey": "test-secret",
                            "checkpointLocation":
                                str(tmp_path / "ckpt")}},
        ],
        "sink": {"type": "file",
                 "properties": {"path": str(out), "extension": ".txt"}},
    }]}).pipelines[0]

    (inp / "a.txt").write_text("object store stream")
    q = run(spark, cfg, streaming=True)
    try:
        q.processAllAvailable()
        assert sorted(_os.listdir(out)) == ["a.txt"]
        (inp / "b.txt").write_text("object store stream")   # dup
        (inp / "c.txt").write_text("novel object content")
        q.processAllAvailable()
        assert sorted(_os.listdir(out)) == ["a.txt", "c.txt"]
    finally:
        q.stop()
    _time.sleep(0)
    # keys landed on the object store, not on local disk
    assert any(k for k in target.list_keys()
               if "seen-" in k and k.endswith(".parquet"))


def test_read_state_s3_eager_snapshot_survives_merge_and_vacuum(
        spark, target):
    """ADVICE r15: the default frame is LAZY (re-GETs pointer-listed
    objects per action), so a caller interleaving reads with a merge
    commit plus vacuum would re-evaluate against deleted generations.
    ``eager=True`` restores the pinned-snapshot behavior."""
    keep_latest_merge(_frame(spark, [(1, 10, 1.0)]), 1, target=target,
                    keys=["user_id"], order_col="ord")
    snap = read_state_s3(
        spark, target, "user_id bigint, ord bigint, value double",
        eager=True)
    # supersede the generation the snapshot came from, then vacuum it
    keep_latest_merge(_frame(spark, [(1, 20, 9.0)]), 2, target=target,
                    keys=["user_id"], order_col="ord")
    vacuum_target(target)
    got = {r.user_id: (r.ord, r.value) for r in snap.collect()}
    assert got == {1: (10, 1.0)}  # the pinned pre-merge state
