"""Round-15 regression tests.

1. Executor-side S3 store transport (VERDICT r14 item 1): no
   driver-local scratch directory on any merge path, and the DRIVER
   client moves metadata only (pointer/intent ops) — the data-plane
   GET/PUT counts ride in the executor tasks.
2. ADVICE r14 fixes: dedup_state near-mode tuning props plumb to the
   store meta; `_batch_dim` is NULL-safe and mixed-width-loud; NULL
   row ids fail loudly in the near/embedding filters; intent
   touched-bucket recording unions across replays; the REST
   maintenance endpoint refuses while the same config's pipelines run.
3. VERDICT r14 item 6: interleaved two-writer crash fuzz on the
   object-store near/embedding seen stores against a Python-set
   oracle (the append-only at-least-once contract).
"""

from __future__ import annotations

import json
import tempfile
import urllib.error
import urllib.request

import pytest

boto3 = pytest.importorskip("boto3")
moto_server = pytest.importorskip("moto.server")

from universal_data_connector_spark.streaming.object_state import (  # noqa: E402
    S3StateTarget,
    read_state_s3,
)
from universal_data_connector_spark.streaming.windows import (  # noqa: E402
    additive_merge,
    claim_batch_run,
    keep_latest_merge,
    record_touched,
)

BUCKET = "udc-r15-tests"
CREDS = {"aws_access_key_id": "test-access",
         "aws_secret_access_key": "test-secret",
         "region_name": "us-east-1"}


@pytest.fixture(scope="module")
def s3_setup():
    server = moto_server.ThreadedMotoServer(port=0)
    server.start()
    port = server._server.socket.getsockname()[1]
    endpoint = f"http://127.0.0.1:{port}"
    client = boto3.client("s3", endpoint_url=endpoint, **CREDS)
    client.create_bucket(Bucket=BUCKET)
    yield endpoint, client
    server.stop()


def _target(s3_setup, prefix, **kw):
    endpoint, client = s3_setup
    return S3StateTarget(BUCKET, prefix, client=client, num_buckets=4,
                         **kw)


def _frame(spark, rows):
    return spark.createDataFrame(
        rows, "user_id bigint, ord bigint, value double")


def _doc_frame(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


# ---------------------------------------------------------------------------
# 1. executor-side transport
# ---------------------------------------------------------------------------

def test_no_driver_scratch_on_any_s3_merge_path(spark, s3_setup,
                                                monkeypatch):
    """The old transport staged every byte through
    tempfile.mkdtemp(prefix='udc_...') scratch dirs on the driver;
    the executor-side transport must create NONE of them across the
    whole store family (state upsert/agg, exact seen filter+commit,
    read-back)."""
    from universal_data_connector_spark.operators.dedup_state import (
        seen_filter,
    )

    made: list[str] = []
    real_mkdtemp = tempfile.mkdtemp

    def recording_mkdtemp(*args, **kwargs):
        path = real_mkdtemp(*args, **kwargs)
        made.append(kwargs.get("prefix") or (args[1] if len(args) > 1
                                             else ""))
        return path

    monkeypatch.setattr(tempfile, "mkdtemp", recording_mkdtemp)

    tgt = _target(s3_setup, "scratchless-upsert")
    keep_latest_merge(_frame(spark, [(1, 10, 1.0), (2, 10, 2.0)]), 1,
                    target=tgt, keys=["user_id"], order_col="ord")
    keep_latest_merge(_frame(spark, [(1, 20, 9.0), (3, 5, 3.0)]), 2,
                    target=tgt, keys=["user_id"], order_col="ord")
    got = {r.user_id: r.ord for r in read_state_s3(
        spark, tgt, "user_id bigint, ord bigint, value double")
        .collect()}
    assert got == {1: 20, 2: 10, 3: 5}

    agg_tgt = _target(s3_setup, "scratchless-agg")
    additive_merge(_frame(spark, [(1, 0, 1.5), (2, 0, 2.5)]), 1,
                       target=agg_tgt, keys=["user_id"],
                       value_col="value")
    additive_merge(_frame(spark, [(1, 0, 1.0)]), 2,
                       target=agg_tgt, keys=["user_id"],
                       value_col="value")
    totals = {r.user_id: float(r.total) for r in read_state_s3(
        spark, agg_tgt,
        "user_id bigint, n bigint, total decimal(27,6)").collect()}
    assert totals == {1: 2.5, 2: 2.5}

    seen_tgt = _target(s3_setup, "scratchless-seen")
    b1, c1 = seen_filter(
        _doc_frame(spark, [(1, "alpha"), (2, "beta")]), seen_tgt,
        ["text"])
    assert b1.count() == 2
    c1()
    b2, c2 = seen_filter(
        _doc_frame(spark, [(3, "alpha"), (4, "gamma")]), seen_tgt,
        ["text"])
    assert sorted(r.doc_id for r in b2.collect()) == [4]
    c2()

    udc_scratch = [p for p in made if str(p).startswith("udc_")]
    assert udc_scratch == [], udc_scratch


class _CountingClient:
    """Delegating wrapper that counts the DRIVER-side S3 data ops."""

    def __init__(self, inner):
        self._inner = inner
        self.counts: dict[str, int] = {}

    def __getattr__(self, name):
        attr = getattr(self._inner, name)
        if name in ("get_object", "put_object", "delete_object"):
            def wrapped(*a, **k):
                self.counts[name] = self.counts.get(name, 0) + 1
                return attr(*a, **k)
            return wrapped
        return attr


def test_driver_client_is_metadata_rate_only(spark, s3_setup):
    """Steady-state warm agg merge over k touched buckets: the driver
    client performs exactly k+2 GETs (k pointers + 1 intent probe +
    1 store-lease probe) and k+1 PUTs (k pointer CAS + 1 writer mark)
    — the k data GETs and k data PUTs of the BENCH_NOTES_r14 §6 table
    moved into the executor tasks, so the driver's share is
    metadata-rate. The r16 store-lease writer mark adds a CONSTANT
    +1 GET / +1 PUT / +1 DELETE per merge (flat in k), the price of
    fencing the merge's fresh generation against a concurrent
    vacuum."""
    endpoint, real_client = s3_setup
    counting = _CountingClient(real_client)
    tgt = S3StateTarget(BUCKET, "metadata-rate", client=counting,
                        num_buckets=4, endpoint_url=endpoint, **CREDS)

    rows = [(i, 0, float(i)) for i in range(400)]
    additive_merge(_frame(spark, rows), 1, target=tgt,
                       keys=["user_id"], value_col="value")
    k = sum(1 for b in range(tgt.num_buckets)
            if tgt.read_pointer(b)[0] is not None)
    assert k == 4

    counting.counts.clear()
    additive_merge(_frame(spark, rows), 2, target=tgt,
                       keys=["user_id"], value_col="value")
    assert counting.counts.get("get_object", 0) == k + 2
    assert counting.counts.get("put_object", 0) == k + 1
    assert counting.counts.get("delete_object", 0) == 1
    # the data plane still moved: every bucket's pointer advanced to a
    # fresh, non-empty generation object list (PUT by the executors)
    for b in range(tgt.num_buckets):
        ptr, _ = tgt.read_pointer(b)
        assert ptr["applied"] == 2 and ptr["objects"]


def test_read_state_s3_schema_is_exact_cold_and_warm(spark, s3_setup):
    tgt = _target(s3_setup, "exact-schema")
    ddl = "user_id bigint, ord bigint, value double"
    cold = read_state_s3(spark, tgt, ddl)
    assert [f.name for f in cold.schema.fields] == [
        "user_id", "ord", "value"]
    keep_latest_merge(_frame(spark, [(1, 10, 1.0)]), 1, target=tgt,
                    keys=["user_id"], order_col="ord")
    warm = read_state_s3(spark, tgt, ddl)
    assert [f.name for f in warm.schema.fields] == [
        "user_id", "ord", "value"]
    with_kb = read_state_s3(spark, tgt, ddl + ", udc_kb int")
    rows = with_kb.collect()
    assert rows and all(r.udc_kb is not None for r in rows)


# ---------------------------------------------------------------------------
# 2. ADVICE r14 fixes
# ---------------------------------------------------------------------------

def test_near_tuning_props_reach_the_store_meta(spark, tmp_path):
    """YAML numHashes/bands/shingleN must pin the store's
    _udc_near_meta (ADVICE r14: they were silently dropped and the
    128/32/5 defaults pinned instead)."""
    from universal_data_connector_spark.engine import _seen_filter_for

    store = tmp_path / "near-store"
    df = spark.createDataFrame(
        [("f1", "a b c d e f g h")], "source_file string, content string")
    survivors, commit = _seen_filter_for(df, {
        "mode": "near", "stateDir": str(store),
        "numHashes": "64", "bands": "16", "shingleN": "3"})
    survivors.collect()
    meta = json.loads((store / "_udc_near_meta").read_text())
    assert meta == {"num_hashes": 64, "bands": 16, "shingle_n": 3}


def _vec_frame(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>")


def _oh(i, dim=8, scale=1.0):
    v = [0.0] * dim
    v[i] = scale
    return v


def test_batch_dim_ignores_leading_null_and_rejects_mixed(
        spark, tmp_path):
    from universal_data_connector_spark.operators.dedup_state import (
        _batch_dim,
        seen_embedding_filter,
    )

    # a leading NULL must not pin a bogus width
    df = _vec_frame(spark, [(1, None), (2, _oh(0))])
    assert _batch_dim(df, "embedding") == 8
    # all-null batch pins nothing
    assert _batch_dim(_vec_frame(spark, [(1, None)]), "embedding") is None
    # mixed widths fail loudly instead of passing a first-row guard
    with pytest.raises(ValueError, match="mixes vector widths"):
        _batch_dim(_vec_frame(spark, [(1, _oh(0, dim=4)),
                                      (2, _oh(0, dim=8))]), "embedding")

    # end to end: the NULL-vector row always ships and is not stored
    store = tmp_path / "emb-store"
    b1, c1 = seen_embedding_filter(df, str(store))
    assert sorted(r.vec_id for r in b1.collect()) == [1, 2]
    c1()
    assert (store / "_udc_emb_dim").read_text().strip() == "8"
    b2, _ = seen_embedding_filter(
        _vec_frame(spark, [(3, None), (4, _oh(0, scale=2.0))]),
        str(store))
    # 3 (NULL, always ships) survives; 4 is a cosine-1.0 dup of 2
    assert sorted(r.vec_id for r in b2.collect()) == [3]


def test_null_row_ids_fail_loudly(spark, tmp_path):
    from universal_data_connector_spark.operators.dedup_state import (
        seen_embedding_filter,
        seen_near_filter,
    )

    docs = spark.createDataFrame(
        [(None, "some text here"), (2, "other text")],
        "doc_id bigint, text string")
    with pytest.raises(ValueError, match="NULL 'doc_id'"):
        seen_near_filter(docs, str(tmp_path / "n1"),
                         text_col="text", id_col="doc_id")
    vecs = _vec_frame(spark, [(None, _oh(0)), (2, _oh(1))])
    with pytest.raises(ValueError, match="NULL 'vec_id'"):
        seen_embedding_filter(vecs, str(tmp_path / "n2"))


def test_record_touched_s3_unions_across_replays(spark, s3_setup):
    """Partial apply, then a replay that records only its pending
    subset, then a changed-input resume: with the union fix the
    resume RAISES (genuine partial apply) instead of misreading the
    run as provably-never-committed and abandoning it."""
    tgt = _target(s3_setup, "touched-union")
    run = claim_batch_run(tgt, fingerprint="input-A")
    record_touched(tgt, run, [0, 1])
    # bucket 0 commits, then the run crashes
    tgt.commit_pointer(0, run, [], None)
    # replay of input-A: only bucket 1 is still pending
    assert claim_batch_run(tgt, fingerprint="input-A") == run
    record_touched(tgt, run, [1])
    stored, _ = tgt._get_json(tgt._key("_udc_batch_intent"))
    assert stored["touched"] == [0, 1]
    # the replay crashes again; a DIFFERENT input arrives
    with pytest.raises(ValueError, match="partially applied"):
        claim_batch_run(tgt, fingerprint="input-B")


def test_intent_record_touched_posix_unions(tmp_path):
    from universal_data_connector_spark.streaming.windows import (
        _BATCH_INTENT,
        _intent_load,
        PosixStateTarget,
        begin_batch_run,
        record_touched,
    )

    path = str(tmp_path / "state")
    run = begin_batch_run(path, num_buckets=4, fingerprint="A")
    record_touched(PosixStateTarget(path), run, [0, 1])
    record_touched(PosixStateTarget(path), run, [1])
    stored = _intent_load(f"{path}/{_BATCH_INTENT}")
    assert stored["touched"] == [0, 1]


def test_rest_maintenance_409_while_config_pipelines_run(
        spark, tmp_path):
    import yaml

    from universal_data_connector_spark.manager import Job, PipelineManager
    from universal_data_connector_spark.rest import ControlPlaneServer

    cfg = {"pipelines": [{
        "name": "maint-pipe",
        "source": {"type": "file",
                   "properties": {"path": str(tmp_path / "in")}},
        "transformations": [{
            "type": "dedup_state",
            "properties": {"stateDir": str(tmp_path / "store"),
                           "keys": "content"}}],
        "sink": {"type": "file",
                 "properties": {"path": str(tmp_path / "out")}},
    }]}
    (tmp_path / "in").mkdir()
    cfg_path = tmp_path / "cfg.yaml"
    cfg_path.write_text(yaml.safe_dump(cfg))

    mgr = PipelineManager(spark)
    # a live job of THIS config's pipeline (batch job in RUNNING state)
    mgr._jobs["maint-pipe-1"] = Job("maint-pipe-1", "maint-pipe", 1,
                                    "batch")
    srv = ControlPlaneServer(mgr, port=0).start()
    base = f"http://127.0.0.1:{srv.port}/api/pipelines"
    try:
        req = urllib.request.Request(
            f"{base}/maintenance?configFilePath={cfg_path}&op=compact",
            method="POST")
        with pytest.raises(urllib.error.HTTPError) as err:
            urllib.request.urlopen(req, timeout=10)
        assert err.value.code == 409
        body = json.loads(err.value.read())
        assert body["running"] == ["maint-pipe"]

        # once the job is terminal the same request succeeds
        mgr._jobs["maint-pipe-1"]._state = "COMPLETED"
        with urllib.request.urlopen(req, timeout=30) as resp:
            assert resp.status == 200
    finally:
        srv.stop()


def test_jdbc_streaming_yaml_downgrades_to_batch(spark, tmp_path):
    """A reference YAML with a jdbc source and streaming: 'true' used
    to raise at submission (VERDICT r14 Missing #4). The reference's
    jdbc 'stream' is a one-time paged read of a static query
    (JdbcSourceContext.java:69-73), so the pipeline now runs with its
    real semantics — a finite batch delivering the same rows exactly
    once — and the manager records a completed BATCH job."""
    from universal_data_connector_spark.config import parse_config
    from universal_data_connector_spark.manager import PipelineManager

    db = str(tmp_path / "derbydb")
    url = f"jdbc:derby:{db};create=true"
    driver = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
    seed = spark.createDataFrame(
        [(1, "alice"), (2, "bob")], "id bigint, name string")
    (seed.coalesce(1).write.format("jdbc")
         .options(url=url, dbtable="people_r15", driver=driver)
         .mode("append").save())

    out = str(tmp_path / "out")
    cfg = parse_config({"pipelines": [{
        "name": "jdbc-streamed",
        "source": {"type": "jdbc", "properties": {
            "jdbcUrl": url, "driver": driver,
            "query": 'SELECT "id", "name" FROM people_r15',
            "streaming": "true",
        }},
        "sink": {"type": "file",
                 "properties": {"path": out, "format": "parquet"}},
    }]}).pipelines[0]

    mgr = PipelineManager(spark)
    job = mgr.start_pipeline(cfg)
    assert mgr.wait(timeout=120)
    info = next(j for j in mgr.jobs() if j["name"] == job)
    assert info["status"] == "COMPLETED"
    got = {(r.id, r.name) for r in spark.read.parquet(out)
           .select("id", "name").collect()}
    assert got == {(1, "alice"), (2, "bob")}


# ---------------------------------------------------------------------------
# 3. interleaved two-writer crash fuzz (VERDICT r14 item 6)
# ---------------------------------------------------------------------------

_BASES = [" ".join(f"w{i}tok{j}" for j in range(16)) for i in range(4)]


@pytest.mark.parametrize("seed", [0, 1])
def test_two_writer_interleaved_near_store_fuzz(spark, s3_setup, seed):
    """Two concurrent runs against ONE object-store near store:
    filters and commits interleave randomly (and commits sometimes
    crash-skip). Append-only PUTs make every interleaving safe —
    each run's survivors must equal the Python-set oracle evaluated
    against the bases committed BEFORE that run's filter step
    (at-least-once: two writers that filter before either commits
    both ship the same base)."""
    import random

    from universal_data_connector_spark.operators.dedup_state import (
        seen_near_filter,
    )

    rng = random.Random(seed)
    tgt = _target(s3_setup, f"two-writer-near-{seed}")
    committed: set[int] = set()
    next_id = 0

    for _round in range(5):
        batches = []
        for _w in range(2):
            picks = [rng.randrange(len(_BASES))
                     for _ in range(rng.randint(0, 3))]
            rows = [(next_id + k, _BASES[p])
                    for k, p in enumerate(picks)]
            next_id += len(picks)
            batches.append((rows, picks))

        # schedule: filter A, then either (filter B, commit A/B in
        # random order) or (commit A, filter B, commit B)
        a_first_commits = rng.random() < 0.5
        (rows_a, picks_a), (rows_b, picks_b) = batches

        def run_filter(rows, picks):
            surv, commit = seen_near_filter(
                _doc_frame(spark, rows), tgt)
            got = sorted(r.doc_id for r in surv.collect())
            expect = sorted(i for (i, _), p in zip(rows, picks)
                            if p not in committed)
            assert got == expect
            shipped = {p for (i, _), p in zip(rows, picks) if i in got}
            return commit, shipped

        commit_a, shipped_a = run_filter(rows_a, picks_a)
        if a_first_commits:
            if rng.random() > 0.2:   # 20%: A crash-skips its commit
                commit_a()
                committed |= shipped_a
            commit_b, shipped_b = run_filter(rows_b, picks_b)
            commit_b()
            committed |= shipped_b
        else:
            commit_b, shipped_b = run_filter(rows_b, picks_b)
            order = [(commit_a, shipped_a), (commit_b, shipped_b)]
            rng.shuffle(order)
            for commit, shipped in order:
                if rng.random() > 0.2:
                    commit()
                    committed |= shipped

    # final probe: everything ever committed filters as seen
    rows = [(next_id + k, b) for k, b in enumerate(_BASES)]
    surv, _ = seen_near_filter(_doc_frame(spark, rows), tgt)
    got_bases = {r.text for r in surv.select("text").collect()}
    assert got_bases == {_BASES[i] for i in range(len(_BASES))
                         if i not in committed}


@pytest.mark.parametrize("seed", [0])
def test_two_writer_interleaved_embedding_store_fuzz(spark, s3_setup,
                                                     seed):
    import random

    from universal_data_connector_spark.operators.dedup_state import (
        seen_embedding_filter,
    )

    rng = random.Random(seed)
    tgt = _target(s3_setup, f"two-writer-emb-{seed}")
    committed: set[int] = set()
    next_id = 0

    def run_filter(rows, picks):
        surv, commit = seen_embedding_filter(
            _vec_frame(spark, rows), tgt)
        got = sorted(r.vec_id for r in surv.collect())
        expect = sorted(i for (i, _), p in zip(rows, picks)
                        if p not in committed)
        assert got == expect
        shipped = {p for (i, _), p in zip(rows, picks) if i in got}
        return commit, shipped

    for _round in range(4):
        pairs = []
        for _w in range(2):
            picks = [rng.randrange(8) for _ in range(rng.randint(0, 3))]
            rows = [(next_id + k, _oh(p, scale=1.0 + rng.random()))
                    for k, p in enumerate(picks)]
            next_id += len(picks)
            pairs.append((rows, picks))
        (rows_a, picks_a), (rows_b, picks_b) = pairs

        commit_a, shipped_a = run_filter(rows_a, picks_a)
        if rng.random() < 0.5:
            commit_a()
            committed |= shipped_a
            commit_b, shipped_b = run_filter(rows_b, picks_b)
            commit_b()
            committed |= shipped_b
        else:
            commit_b, shipped_b = run_filter(rows_b, picks_b)
            for commit, shipped in ((commit_a, shipped_a),
                                    (commit_b, shipped_b)):
                if rng.random() > 0.25:
                    commit()
                    committed |= shipped


# ---------------------------------------------------------------------------
# 4. transport hardening: randomized schema round-trip + buffer rollover
# ---------------------------------------------------------------------------

_TYPE_POOL = [
    ("bigint", lambda rng: rng.randrange(-2**62, 2**62)),
    ("int", lambda rng: rng.randrange(-2**31, 2**31 - 1)),
    ("double", lambda rng: rng.choice(
        [rng.uniform(-1e12, 1e12), 0.0, -0.0, 1e-300])),
    ("decimal(27,6)", lambda rng: __import__("decimal").Decimal(
        rng.randrange(-10**20, 10**20)) / 10**6),
    ("string", lambda rng: "".join(rng.choice(
        "abc é中\U0001f600\n,\"") for _ in range(rng.randrange(0, 12)))),
    ("boolean", lambda rng: rng.random() < 0.5),
    ("date", lambda rng: __import__("datetime").date(
        rng.randrange(1971, 2200), rng.randrange(1, 13),
        rng.randrange(1, 28))),
    ("timestamp", lambda rng: __import__("datetime").datetime(
        rng.randrange(1971, 2200), rng.randrange(1, 13),
        rng.randrange(1, 28), rng.randrange(24), rng.randrange(60),
        rng.randrange(60), rng.randrange(0, 10**6))),
    ("array<bigint>", lambda rng: [rng.randrange(-2**62, 2**62)
                                   for _ in range(rng.randrange(0, 5))]),
    ("array<double>", lambda rng: [rng.uniform(-1e6, 1e6)
                                   for _ in range(rng.randrange(0, 5))]),
    ("binary", lambda rng: bytes(rng.randrange(256)
                                 for _ in range(rng.randrange(0, 16)))),
]


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_write_read_objects_roundtrip_random_schemas(spark, s3_setup,
                                                     seed):
    """Randomized schema round-trip through the executor transport:
    write_objects serializes per-task Arrow tables to parquet PUTs,
    read_objects GETs them back and casts by name to the declared
    schema — every supported column family (ints, doubles, exact
    decimals, multibyte/newline/comma strings, booleans, dates,
    microsecond timestamps, arrays, binary) plus NULLs must survive
    byte-faithfully across process boundaries."""
    import random

    from universal_data_connector_spark.streaming.object_state import (
        read_objects,
        write_objects,
    )

    rng = random.Random(seed)
    cols = rng.sample(_TYPE_POOL, rng.randrange(2, 6))
    names = [f"c{i}" for i in range(len(cols))]
    ddl = ", ".join(f"{n} {t}" for n, (t, _) in zip(names, cols))

    n_rows = rng.randrange(1, 60)
    rows = []
    for _ in range(n_rows):
        rows.append(tuple(
            None if rng.random() < 0.15 else gen(rng)
            for (_t, gen) in cols))
    df = spark.createDataFrame(rows, ddl)

    tgt = _target(s3_setup, f"roundtrip-{seed}")
    from pyspark.sql import functions as F
    kb = F.pmod(F.xxhash64(*[F.col(n) for n in names]),
                F.lit(4)).cast("int")
    keyed = df.withColumn("udc_kb", kb)
    touched = sorted(r[0] for r in
                     keyed.select("udc_kb").distinct().collect())
    objects = write_objects(
        keyed, tgt, touched,
        tgt._key("kb={b}", "rt", "part-{nonce}-{i}.parquet"))
    keyed_objects = [(k, b) for b, ks in objects.items() for k in ks]
    assert keyed_objects

    back = read_objects(spark, tgt, keyed_objects,
                        ddl + ", udc_kb int")

    def canon(frame):
        out = []
        for r in frame.collect():
            row = []
            for v in r:
                if isinstance(v, list):
                    v = tuple(v)
                if isinstance(v, bytearray):
                    v = bytes(v)
                row.append(v)
            out.append(tuple(row))
        return sorted(out, key=repr)

    assert canon(back) == canon(keyed)


def test_write_objects_buffer_rollover_produces_valid_parts(
        spark, s3_setup):
    """Force the in-task buffer cap so one bucket rolls over multiple
    objects: every rolled part must land, the returned key lists must
    name all of them, and the read path must reassemble the exact
    rows."""
    from pyspark.sql import functions as F

    from universal_data_connector_spark.streaming.object_state import (
        read_objects,
        write_objects,
    )

    tgt = _target(s3_setup, "rollover")
    df = (spark.range(5_000)
          .selectExpr("id", "repeat('x', 200) as pad")
          .withColumn("udc_kb", F.pmod(F.col("id"), F.lit(2))
                      .cast("int")))
    # small Arrow batches so the task sees MANY batches and the 64 KB
    # buffer cap actually trips mid-stream (default 10k-record batches
    # would deliver each partition as one batch — no rollover to test)
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prior = spark.conf.get(conf, None)
    spark.conf.set(conf, "500")
    try:
        objects = write_objects(
            df, tgt, [0, 1],
            tgt._key("kb={b}", "ro", "part-{nonce}-{i}.parquet"),
            max_buffer_bytes=64 << 10)   # 64 KB: forces rollovers
    finally:
        if prior is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, prior)
    assert all(len(ks) > 1 for ks in objects.values()), {
        b: len(ks) for b, ks in objects.items()}

    keyed_objects = [(k, b) for b, ks in objects.items() for k in ks]
    back = read_objects(spark, tgt, keyed_objects,
                        "id bigint, pad string, udc_kb int")
    assert back.count() == 5_000
    assert back.selectExpr("sum(id) s").collect()[0]["s"] \
        == sum(range(5_000))
    assert back.filter("length(pad) != 200").count() == 0
    # bucket column faithfully rebuilt from the object keys
    assert back.filter("pmod(id, 2) != udc_kb").count() == 0


# ---------------------------------------------------------------------------
# 5. streaming self-compaction cadence (compactEveryBatches)
# ---------------------------------------------------------------------------

def _stream_dedup_cfg(inp, out, ckpt, extra_props):
    import yaml  # noqa: F401 - parity with engine yaml surface

    from universal_data_connector_spark.config import parse_config
    return parse_config({"pipelines": [{
        "name": "stream-dedup-compact",
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


def test_streaming_compaction_cadence_posix(spark, tmp_path):
    """compactEveryBatches=1 keeps every bucket at ONE seen file no
    matter how many micro-batches ran, with dedup behavior unchanged
    (the r15 probe measured the uncompacted read cost growing linearly
    in run count — this prop is the in-pipeline fix)."""
    import os

    from universal_data_connector_spark.engine import run

    inp, out = tmp_path / "in", tmp_path / "out"
    store = tmp_path / "store"
    inp.mkdir()
    cfg = _stream_dedup_cfg(inp, out, tmp_path / "ckpt",
                            {"stateDir": str(store)})
    (inp / "a.txt").write_text("first content")
    q = run(spark, cfg, streaming=True)
    try:
        q.processAllAvailable()
        (inp / "b.txt").write_text("first content")    # dup
        (inp / "c.txt").write_text("second content")
        q.processAllAvailable()
        (inp / "d.txt").write_text("third content")
        q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(os.listdir(out)) == ["a.txt", "c.txt", "d.txt"]
    for name in os.listdir(store):
        if name.startswith("udc_kb="):
            files = [f for f in os.listdir(store / name)
                     if f.endswith(".parquet")]
            assert len(files) == 1, (name, files)


def test_streaming_compaction_cadence_s3(spark, tmp_path, s3_setup):
    import os

    from universal_data_connector_spark.engine import run

    endpoint, client = s3_setup
    tgt = _target(s3_setup, "stream-compact")
    inp, out = tmp_path / "in", tmp_path / "out"
    inp.mkdir()
    cfg = _stream_dedup_cfg(inp, out, tmp_path / "ckpt", {
        "bucketName": BUCKET, "prefix": tgt.prefix,
        "endpoint": endpoint, "accessKey": CREDS["aws_access_key_id"],
        "secretKey": CREDS["aws_secret_access_key"]})
    (inp / "a.txt").write_text("s3 first")
    q = run(spark, cfg, streaming=True)
    try:
        q.processAllAvailable()
        (inp / "b.txt").write_text("s3 first")          # dup
        (inp / "c.txt").write_text("s3 second")
        q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(os.listdir(out)) == ["a.txt", "c.txt"]
    for b in range(tgt.num_buckets):
        ks = [k for k in tgt.list_keys(under=f"kb={b}")
              if k.endswith(".parquet")]
        assert len(ks) <= 1, (b, ks)


def test_compact_cadence_on_batch_pipeline_warns_and_ignores(
        spark, tmp_path, caplog):
    import logging

    from universal_data_connector_spark.config import parse_config
    from universal_data_connector_spark.engine import prepare

    inp = tmp_path / "in"
    inp.mkdir()
    (inp / "a.txt").write_text("batch cadence")
    cfg = parse_config({"pipelines": [{
        "name": "batch-cadence",
        "source": {"type": "file",
                   "properties": {"path": str(inp), "pattern": "*.txt"}},
        "transformations": [
            {"type": "dedup_state",
             "properties": {"keys": "content",
                            "stateDir": str(tmp_path / "store"),
                            "compactEveryBatches": "3"}}],
        "sink": {"type": "file",
                 "properties": {"path": str(tmp_path / "out")}},
    }]}).pipelines[0]
    with caplog.at_level(logging.WARNING,
                         logger="universal_data_connector_spark.engine"):
        run = prepare(spark, cfg)
    try:
        assert run.df.count() == 1
    finally:
        run.close()
    assert any("compactEveryBatches" in r.message for r in caplog.records)


# ---------------------------------------------------------------------------
# 6. r15 self-review fixes
# ---------------------------------------------------------------------------

def test_maintenance_window_blocks_new_starts(spark, tmp_path):
    """The one-shot running check was a TOCTOU (r15 review): a
    pipeline could start DURING a long compaction. The window now
    blocks new submissions for its whole duration."""
    import yaml

    from universal_data_connector_spark.config import parse_config
    from universal_data_connector_spark.manager import (
        MaintenanceConflict,
        PipelineManager,
    )

    inp = tmp_path / "in"
    inp.mkdir()
    (inp / "a.txt").write_text("window block")
    cfg = parse_config({"pipelines": [{
        "name": "blocked-pipe",
        "source": {"type": "file", "properties": {"path": str(inp)}},
        "sink": {"type": "file",
                 "properties": {"path": str(tmp_path / "out"),
                                "extension": ".txt"}},
    }]}).pipelines[0]

    mgr = PipelineManager(spark)
    with mgr.maintenance_window([]):
        with pytest.raises(MaintenanceConflict,
                           match="maintenance is in progress"):
            mgr.start_pipeline(cfg)
        # a second window is also refused while one is open
        with pytest.raises(MaintenanceConflict, match="another"):
            with mgr.maintenance_window([]):
                pass
    # window closed: the same submission now runs to completion
    job = mgr.start_pipeline(cfg)
    assert mgr.wait(timeout=120)
    assert next(j for j in mgr.jobs()
                if j["name"] == job)["status"] == "COMPLETED"


def test_dedup_state_tuning_props_fail_at_build(spark):
    """Bad near/embedding tuning combinations must fail at BUILD
    (submission), not in the first micro-batch inside foreachBatch —
    newly reachable since the props plumb through (r15 review)."""
    from universal_data_connector_spark.engine import (
        _check_dedup_state_props,
    )

    with pytest.raises(ValueError, match="divide numHashes"):
        _check_dedup_state_props(
            ["content", "source_file"],
            {"mode": "near", "stateDir": "/tmp/x",
             "numHashes": "100", "bands": "32"})
    with pytest.raises(ValueError, match="must divide n_planes"):
        _check_dedup_state_props(
            ["embedding", "vec_id"],
            {"mode": "embedding", "stateDir": "/tmp/x",
             "nPlanes": "100", "bands": "32"})


def test_seen_store_prefix_with_braces_round_trips(spark, s3_setup):
    """Braces are legal S3 key characters; the task-side str.format
    over the key template must not read a user prefix like
    'corpus-{prod}' as a placeholder (r15 review)."""
    from universal_data_connector_spark.operators.dedup_state import (
        seen_filter,
    )

    tgt = _target(s3_setup, "corpus-{prod}/seen")
    b1, c1 = seen_filter(
        _doc_frame(spark, [(1, "brace one"), (2, "brace two")]),
        tgt, ["text"])
    assert b1.count() == 2
    c1()
    b2, _ = seen_filter(
        _doc_frame(spark, [(3, "brace one"), (4, "brace three")]),
        tgt, ["text"])
    assert sorted(r.doc_id for r in b2.collect()) == [4]


def test_injected_client_config_reaches_executor_kwargs(s3_setup):
    """An injected client's botocore Config (addressing style) must
    survive into the executor-side client kwargs (r15 review: MinIO
    path-style clients lost it and misrouted)."""
    from botocore.config import Config

    endpoint, _client = s3_setup
    styled = boto3.client(
        "s3", endpoint_url=endpoint,
        config=Config(s3={"addressing_style": "path"}), **CREDS)
    styled.create_bucket(Bucket="styled-bucket")
    tgt = S3StateTarget("styled-bucket", "cfg-carry", client=styled,
                        num_buckets=4)
    cfg = tgt.client_kwargs.get("config")
    assert cfg is not None and cfg.s3 == {"addressing_style": "path"}
    # and the kwargs still build a working client
    probe = boto3.client("s3", **tgt.client_kwargs)
    probe.put_object(Bucket="styled-bucket", Key="cfg-carry/ping",
                     Body=b"x")
    assert probe.get_object(Bucket="styled-bucket",
                            Key="cfg-carry/ping")["Body"].read() == b"x"


def test_engine_run_still_raises_for_direct_jdbc_streaming(spark):
    """engine.run(streaming=True) keeps the loud build-time raise for
    a jdbc source: a DIRECT API caller was promised a StreamingQuery,
    and silently running batch and returning None would break
    query.awaitTermination() after the work already ran (r15 review).
    The downgrade applies on the YAML/manager surface only."""
    from universal_data_connector_spark.config import parse_config
    from universal_data_connector_spark.engine import run

    cfg = parse_config({"pipelines": [{
        "name": "direct-jdbc-stream",
        "source": {"type": "jdbc", "properties": {
            "jdbcUrl": "jdbc:derby:memory:direct;create=true",
            "query": "SELECT 1", "streaming": "true"}},
        "sink": {"type": "file",
                 "properties": {"path": "/tmp/na", "format": "parquet"}},
    }]}).pipelines[0]
    with pytest.raises(ValueError, match="batch pipelines only"):
        run(spark, cfg, streaming=True)


# ---------------------------------------------------------------------------
# 7. cadence x restart interaction
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("seed", [0, 1])
def test_compaction_cadence_survives_query_restarts(spark, tmp_path,
                                                    seed):
    """compactEveryBatches composed with kill-and-restart: the query
    is stopped and re-run between drops (offsets replay, batch ids
    continue from the checkpoint) while the cadence compacts the store
    mid-history. Model: every distinct content ships exactly once
    across the whole history, and the store never exceeds one file
    per bucket plus the post-compaction appends."""
    import os
    import random

    from universal_data_connector_spark.config import parse_config
    from universal_data_connector_spark.engine import run

    rng = random.Random(seed)
    inp = tmp_path / "in"
    out = tmp_path / "out"
    store = tmp_path / "seen"
    inp.mkdir()
    cfg = parse_config({"pipelines": [{
        "name": "cadence-restart-fuzz",
        "source": {"type": "file",
                   "properties": {"path": str(inp), "pattern": "*.txt",
                                  "streaming": "true"}},
        "transformations": [
            {"type": "dedup_state",
             "properties": {"stateDir": str(store), "keys": "content",
                            "numBuckets": "4",
                            "compactEveryBatches": "2",
                            "checkpointLocation":
                                str(tmp_path / "ckpt")}},
        ],
        "sink": {"type": "file",
                 "properties": {"path": str(out), "extension": ".txt"}},
    }]}).pipelines[0]

    vocab = [f"cadence fuzz variant {i}" for i in range(6)]
    shipped: set[str] = set()
    next_id = 0
    for _round in range(6):
        for _ in range(rng.randint(0, 3)):
            text = vocab[rng.randrange(len(vocab))]
            (inp / f"f{next_id}.txt").write_text(text)
            next_id += 1
            shipped.add(text)
        q = run(spark, cfg, streaming=True)   # fresh query each round
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = sorted((out / n).read_text().rstrip("\n")
                     for n in os.listdir(out))
        assert got == sorted(shipped), f"round {_round}"
        # compaction bound: at most 2 files per bucket (the compacted
        # file plus at most one post-compaction append at cadence 2)
        for name in os.listdir(store):
            if name.startswith("udc_kb="):
                files = [f for f in os.listdir(store / name)
                         if f.endswith(".parquet")]
                assert len(files) <= 2, (name, files)


def test_compaction_cadence_survives_restarts_s3(spark, tmp_path,
                                                 s3_setup):
    """Object-store twin of the cadence x restart fuzz (one seed):
    same exactly-once model, per-bucket OBJECT count bounded by the
    cadence."""
    import os
    import random

    from universal_data_connector_spark.config import parse_config
    from universal_data_connector_spark.engine import run

    endpoint, _client = s3_setup
    tgt = _target(s3_setup, "cadence-restart")
    rng = random.Random(3)
    inp = tmp_path / "in"
    out = tmp_path / "out"
    inp.mkdir()
    cfg = parse_config({"pipelines": [{
        "name": "cadence-restart-s3",
        "source": {"type": "file",
                   "properties": {"path": str(inp), "pattern": "*.txt",
                                  "streaming": "true"}},
        "transformations": [
            {"type": "dedup_state",
             "properties": {"keys": "content",
                            "bucketName": BUCKET,
                            "prefix": tgt.prefix,
                            "endpoint": endpoint,
                            "accessKey": CREDS["aws_access_key_id"],
                            "secretKey": CREDS["aws_secret_access_key"],
                            "compactEveryBatches": "2",
                            "checkpointLocation":
                                str(tmp_path / "ckpt")}},
        ],
        "sink": {"type": "file",
                 "properties": {"path": str(out), "extension": ".txt"}},
    }]}).pipelines[0]

    vocab = [f"s3 cadence variant {i}" for i in range(5)]
    shipped: set[str] = set()
    next_id = 0
    for _round in range(4):
        for _ in range(rng.randint(0, 3)):
            text = vocab[rng.randrange(len(vocab))]
            (inp / f"f{next_id}.txt").write_text(text)
            next_id += 1
            shipped.add(text)
        q = run(spark, cfg, streaming=True)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = sorted((out / n).read_text().rstrip("\n")
                     for n in os.listdir(out))
        assert got == sorted(shipped), f"round {_round}"
        for b in range(tgt.num_buckets):
            ks = [k for k in tgt.list_keys(under=f"kb={b}")
                  if k.endswith(".parquet")]
            assert len(ks) <= 2, (b, ks)


def test_read_objects_schema_evolution_fails_descriptively(
        spark, s3_setup):
    """A read schema asking for a column the stored objects never had
    (pipeline schema evolution) must fail naming the object and the
    missing column — not with pyarrow's bare KeyError inside a task."""
    from universal_data_connector_spark.streaming.object_state import (
        read_objects,
    )

    tgt = _target(s3_setup, "schema-evo")
    keep_latest_merge(_frame(spark, [(1, 10, 1.0)]), 1, target=tgt,
                    keys=["user_id"], order_col="ord")
    ptr = next(tgt.read_pointer(b)[0]
               for b in range(tgt.num_buckets)
               if tgt.read_pointer(b)[0] is not None)
    keyed = [(k, 0) for k in ptr["objects"]]
    evolved = read_objects(
        spark, tgt, keyed,
        "user_id bigint, ord bigint, value double, new_col string")
    with pytest.raises(Exception, match="lacks column.*new_col"):
        evolved.collect()
