"""Round-8 regression tests (VERDICT r7 items 2-4 + ADVICE r7 items).

1. Batch agg_state runs with NEW data each run must ACCUMULATE — the
   old fresh-tempdir streaming wrapper replayed every run as batch 0,
   so markers >= 0 silently dropped later runs' increments (ADVICE r7
   high, sinks/upsert.py).
2. A crashed batch agg_state run resumes its claimed run id from the
   intent file: already-swapped buckets skip, unswapped apply.
3. Upsert merge winners are deterministic on order_col ties (content
   tiebreak), across re-runs and crash replays (VERDICT r7 item 1).
4. Batch mode calls the merge bodies directly — no udc_oneshot_
   scratch copy of the input (VERDICT r7 item 2).
5. URI-scheme state targets are rejected up front instead of
   os.makedirs-ing a literal local "s3a:" dir (VERDICT r7 item 4).
6. The state sinks' current-state read partition-prunes on udc_kb —
   untouched buckets never opened (VERDICT r7 item 8a).
"""

from __future__ import annotations

import glob
import os
import tempfile

import pytest
from pyspark.sql import functions as F


def _mk(spark, rows):
    return spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, value double")


def _state(spark, target):
    return {r.user_id: (r.n, float(r.total))
            for r in spark.read.parquet(target).collect()}


def test_batch_agg_state_second_run_accumulates(spark, tmp_path):
    """Two batch runs of the agg_state sink with DIFFERENT data must
    both apply (ADVICE r7 high: the second run's increments were
    silently dropped for previously-touched buckets)."""
    from universal_data_connector_spark.sinks.upsert import agg_state_sink

    target = str(tmp_path / "state")
    props = {"path": target, "keys": "user_id", "valueColumn": "value",
             "numBuckets": 4}
    agg_state_sink(_mk(spark, [(1, 7, 1.0), (2, 7, 2.0), (3, 8, 5.0)]),
                   props)
    assert _state(spark, target) == {7: (2, 3.0), 8: (1, 5.0)}

    # second run, new data, SAME previously-touched key 7
    agg_state_sink(_mk(spark, [(4, 7, 10.0), (5, 9, 1.0)]), props)
    assert _state(spark, target) == {7: (3, 13.0), 8: (1, 5.0),
                                     9: (1, 1.0)}

    # third run exercises monotonic ids past 1
    agg_state_sink(_mk(spark, [(6, 8, 1.0)]), props)
    assert _state(spark, target) == {7: (3, 13.0), 8: (2, 6.0),
                                     9: (1, 1.0)}


def test_batch_agg_state_crash_resume_applies_exactly_once(spark, tmp_path):
    """A rerun after a mid-swap crash resumes the intent's run id:
    buckets that already swapped (marker == id) skip, the rest apply —
    never a double-count, never a drop."""
    from universal_data_connector_spark.sinks.upsert import agg_state_sink
    from universal_data_connector_spark.streaming.windows import (
        _BATCH_INTENT,
        agg_state_merge,
        begin_batch_run,
    )

    target = str(tmp_path / "state")
    props = {"path": target, "keys": "user_id", "valueColumn": "value",
             "numBuckets": 4}
    # users 1..8 spread across the 4 buckets
    agg_state_sink(
        _mk(spark, [(i, i, float(i)) for i in range(1, 9)]), props)
    want = _state(spark, target)

    # simulate a crashed second run: merge ran (all buckets swapped,
    # markers advanced) but end_batch_run never cleared the intent
    batch2 = _mk(spark, [(100 + i, i, 10.0) for i in range(1, 9)])
    run_id = begin_batch_run(target, num_buckets=4)
    agg_state_merge(batch2, run_id, path=target, keys=["user_id"],
                    value_col="value", num_buckets=4)
    assert os.path.isfile(os.path.join(target, _BATCH_INTENT))
    want = {u: (n + 1, t + 10.0) for u, (n, t) in want.items()}
    assert _state(spark, target) == want

    # the rerun (same input batch, per the replay contract) resumes the
    # same id -> every bucket's marker >= id -> no bucket re-applies
    agg_state_sink(batch2, props)
    assert _state(spark, target) == want
    assert not os.path.isfile(os.path.join(target, _BATCH_INTENT))

    # and a FRESH run with new data still applies
    agg_state_sink(_mk(spark, [(200, 1, 1.0)]), props)
    want[1] = (want[1][0] + 1, want[1][1] + 1.0)
    assert _state(spark, target) == want


def test_upsert_tie_winners_deterministic_across_replays(spark, tmp_path):
    """Two rows with EQUAL order_col for one key must merge to the
    same winner on every run — including a replay into a target that
    already holds one of them (VERDICT r7 item 1: the old ordering
    left tie winners to shuffle order)."""
    from universal_data_connector_spark.sinks.upsert import upsert_sink

    rows = [(1, 7, "payload-a"), (2, 7, "payload-b"), (3, 7, "payload-c"),
            (4, 8, "x")]

    def run_fresh(tag):
        target = str(tmp_path / f"t{tag}")
        df = spark.createDataFrame(
            rows, "event_id bigint, user_id bigint, payload string"
        ).withColumn("ord", F.lit(5))
        # vary input partitioning run-to-run to stress shuffle order
        upsert_sink(df.repartition(int(tag) + 1),
                    {"path": target, "keys": "user_id",
                     "orderColumn": "ord", "numBuckets": 4})
        return target

    winners = set()
    for tag in "0123":
        t = run_fresh(tag)
        got = {(r.user_id, r.event_id, r.payload)
               for r in spark.read.parquet(t).collect()}
        winners.add(frozenset(got))
    assert len(winners) == 1, f"tie winners varied across runs: {winners}"

    # replay the same batch into an existing target: state (the prior
    # winner) ties with each incoming row -> must keep the same winner
    t0 = str(tmp_path / "t0")
    before = {(r.user_id, r.event_id, r.payload)
              for r in spark.read.parquet(t0).collect()}
    df = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, payload string"
    ).withColumn("ord", F.lit(5))
    from universal_data_connector_spark.sinks.upsert import upsert_sink
    upsert_sink(df, {"path": t0, "keys": "user_id", "orderColumn": "ord",
                     "numBuckets": 4})
    after = {(r.user_id, r.event_id, r.payload)
             for r in spark.read.parquet(t0).collect()}
    assert after == before


def test_batch_state_sinks_skip_scratch_copy(spark, tmp_path, monkeypatch):
    """Batch mode must not write the input to a udc_oneshot_ scratch
    dir (VERDICT r7 item 2: 1x avoidable write + read of the batch)."""
    from universal_data_connector_spark.sinks.upsert import (
        agg_state_sink,
        upsert_sink,
    )

    scratch_root = tmp_path / "scratch"
    scratch_root.mkdir()
    monkeypatch.setenv("TMPDIR", str(scratch_root))
    tempfile.tempdir = None  # re-read TMPDIR
    try:
        df = _mk(spark, [(1, 7, 1.0)]).withColumn("ord", F.lit(1))
        upsert_sink(df, {"path": str(tmp_path / "u"), "keys": "user_id",
                         "orderColumn": "ord"})
        agg_state_sink(_mk(spark, [(1, 7, 1.0)]),
                       {"path": str(tmp_path / "a"), "keys": "user_id",
                        "valueColumn": "value"})
    finally:
        tempfile.tempdir = None
    assert glob.glob(str(scratch_root / "udc_oneshot_*")) == []
    assert glob.glob(str(scratch_root / "udc_upsert_ck_*")) == []
    assert glob.glob(str(scratch_root / "udc_aggstate_ck_*")) == []


@pytest.mark.parametrize("uri", ["s3a://bucket/state", "gs://b/x",
                                 "abfs://c@a.dfs.core.windows.net/s",
                                 "file:///tmp/state"])
def test_state_sinks_reject_uri_scheme_targets(spark, uri):
    """A URI-scheme target must raise up front, naming the lakehouse
    alternative — not os.makedirs a literal local 's3a:' directory
    and silently keep state in the wrong place (VERDICT r7 item 4)."""
    from universal_data_connector_spark.streaming.windows import (
        _upsert_ensure_meta,
        agg_state_merge,
        upsert_merge,
    )

    with pytest.raises(ValueError, match="lakehouse|MERGE INTO"):
        _upsert_ensure_meta(uri, 4)
    df = _mk(spark, [(1, 7, 1.0)]).withColumn("ord", F.lit(1))
    with pytest.raises(ValueError, match="lakehouse|MERGE INTO"):
        upsert_merge(df, 0, path=uri, keys=["user_id"], order_col="ord",
                     num_buckets=4)
    with pytest.raises(ValueError, match="lakehouse|MERGE INTO"):
        agg_state_merge(df, 0, path=uri, keys=["user_id"],
                        value_col="value", num_buckets=4)
    assert not os.path.isdir("s3a:") and not os.path.isdir("gs:")


def test_manifest_record_distributed_matches_driver_side(spark, tmp_path):
    """manifest_record with a session dedupes via a distributed
    anti-join (driver memory O(this run), ADVICE r7 low); results and
    log contents must match the driver-side fallback exactly."""
    from universal_data_connector_spark.sources.files import (
        canonical_file_uri,
        manifest_record,
    )

    def logged(d):
        out = set()
        for name in os.listdir(d):
            if name.endswith(".log"):
                with open(os.path.join(d, name)) as fh:
                    out.update(line.strip() for line in fh if line.strip())
        return out

    d1, d2 = str(tmp_path / "m1"), str(tmp_path / "m2")
    batch1 = ["file:///data/a.txt", "file:///data/b.txt"]
    batch2 = ["file:///data/b.txt", "file:///data/c.txt"]  # b repeats
    for d, sess in ((d1, spark), (d2, None)):
        assert manifest_record(batch1, d, sess) == 2
        assert manifest_record(batch2, d, sess) == 1  # only c is new
        assert manifest_record(batch2, d, sess) == 0
    assert logged(d1) == logged(d2) == {
        canonical_file_uri(u) for u in batch1 + batch2}


def test_manifest_filter_passthrough_only_on_missing_path(spark, tmp_path):
    """A missing manifest dir means 'nothing consumed yet' ->
    passthrough; any OTHER read failure must propagate, not silently
    disable dedup (ADVICE r7 low)."""
    from universal_data_connector_spark.sources.files import (
        manifest_filter,
    )

    df = spark.createDataFrame([("file:///x/a.txt",)], "source_file string")
    out = manifest_filter(df, spark, str(tmp_path / "never-created"))
    assert out.count() == 1  # passthrough, no raise


def test_read_touched_partition_prunes_on_bucket_col(spark, tmp_path):
    """The actual current-state reader used by BOTH merge bodies must
    carry the udc_kb filter as a PARTITION filter — untouched bucket
    directories are never opened (VERDICT r7 item 8a). Guards against
    a future edit reintroducing a full-target read."""
    from universal_data_connector_spark.streaming.windows import (
        _UPSERT_BUCKET_COL,
        _read_touched,
    )

    target = str(tmp_path / "t")
    df = _mk(spark, [(i, i, float(i)) for i in range(1, 9)])
    (df.withColumn(_UPSERT_BUCKET_COL,
                   F.pmod(F.xxhash64("user_id"), F.lit(4)).cast("int"))
       .write.partitionBy(_UPSERT_BUCKET_COL).parquet(target))

    picked = _read_touched(spark, target, [0, 1])
    plan = picked._jdf.queryExecution().executedPlan().toString()
    assert _UPSERT_BUCKET_COL in plan
    import re
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and _UPSERT_BUCKET_COL in m.group(1), (
        f"udc_kb isin must be a partition filter, plan:\n{plan}")
    # and the pruned read returns exactly the picked buckets' rows
    got = {r.user_id for r in picked.collect()}
    full = {r.user_id: r[_UPSERT_BUCKET_COL]
            for r in spark.read.parquet(target).collect()}
    assert got == {u for u, b in full.items() if b in (0, 1)}


def test_archive_plan_excludes_manifest_logs(spark, tmp_path):
    """With archiveDir AND manifestDir both set, the archive step must
    not move the manifest's own .log files (that would empty the
    manifest and re-expose every consumed file)."""
    from universal_data_connector_spark.config import parse_config
    from universal_data_connector_spark.engine import run

    inp = tmp_path / "in"
    inp.mkdir()
    (inp / "a.txt").write_text("alpha")
    manifest = tmp_path / "m"
    archive = tmp_path / "arch"
    out = tmp_path / "out"

    def cfg(name):
        return parse_config({"pipelines": [{
            "name": name,
            "source": {"type": "file",
                       "properties": {"path": str(inp), "pattern": "*.txt",
                                      "manifestDir": str(manifest),
                                      "archiveDir": str(archive)}},
            "transformations": [],
            "sink": {"type": "file",
                     "properties": {"path": str(out),
                                    "extension": ".txt"}},
        }]}).pipelines[0]

    run(spark, cfg("r1"))
    logs1 = {f for f in os.listdir(manifest) if f.endswith(".log")}
    assert logs1, "first run must record its consumed file"
    assert os.path.isfile(archive / "a.txt")

    # second run: nothing new to consume; the manifest log files must
    # stay exactly where they are, not be archived as bogus inputs
    (inp / "b.txt").write_text("beta")
    run(spark, cfg("r2"))
    logs2 = {f for f in os.listdir(manifest) if f.endswith(".log")}
    assert logs1 <= logs2, "manifest logs were moved/deleted"
    archived = set(os.listdir(archive))
    assert not any(f.endswith(".log") for f in archived), archived


def test_begin_batch_run_torn_and_concurrent_claims(spark, tmp_path):
    """A torn (empty) intent file is repaired and reclaimed; a
    concurrent claim that loses the O_EXCL race fails loudly instead
    of silently sharing the winner's run id (shared id = the loser's
    increments skipped on every bucket the winner touched)."""
    from universal_data_connector_spark.streaming import windows as W

    target = str(tmp_path / "t")
    # fresh claim
    rid = W.begin_batch_run(target, num_buckets=4)
    assert rid == 0
    W.end_batch_run(target)

    # torn claim: intent exists but empty -> repaired with the same id
    open(os.path.join(target, W._BATCH_INTENT), "w").close()
    assert W.begin_batch_run(target, num_buckets=4) == 0
    stored = W._intent_load(os.path.join(target, W._BATCH_INTENT))
    assert stored["run_id"] == 0
    W.end_batch_run(target)

    # lost race: the file appears between the existence check and the
    # exclusive create
    real_isfile = os.path.isfile

    def lying_isfile(p):
        if p.endswith(W._BATCH_INTENT):
            open(p, "w").write("7")  # the other runner wins here
            return False
        return real_isfile(p)

    os.path.isfile, saved = lying_isfile, os.path.isfile
    try:
        with pytest.raises(ValueError, match="another batch run"):
            W.begin_batch_run(target, num_buckets=4)
    finally:
        os.path.isfile = saved


def test_engine_defers_agg_state_finalize_past_bookkeeping(
        spark, tmp_path, monkeypatch):
    """If consumed-file bookkeeping fails AFTER the agg_state merge,
    the run intent must survive so the rerun (same unrecorded files)
    RESUMES the same id and skips — not claim a fresh id and
    double-apply (code-review finding on sinks/upsert.py)."""
    from universal_data_connector_spark.config import parse_config
    from universal_data_connector_spark.engine import run
    from universal_data_connector_spark.sources import files as src_files
    from universal_data_connector_spark.streaming import windows as W

    inp = tmp_path / "in"
    inp.mkdir()
    _ = inp
    (inp / "a.csv").write_text(
        "event_id,user_id,ts,value\n1,7,2026-01-01 10:00:00,1.0\n")
    target = str(tmp_path / "state")
    cfg = parse_config({"pipelines": [{
        "name": "incr",
        "source": {"type": "file",
                   "properties": {"path": str(inp), "pattern": "*.csv",
                                  "manifestDir": str(tmp_path / "m")}},
        "transformations": [
            {"type": "sql", "properties": {"query": """
                SELECT CAST(f[1] AS BIGINT) AS user_id,
                       CAST(f[3] AS DOUBLE) AS value
                FROM (SELECT split(line, ',') AS f FROM (
                        SELECT explode(slice(split(content, '\n'), 2,
                                             1000000)) AS line
                        FROM _input))
                WHERE size(f) >= 4"""}},
        ],
        "sink": {"type": "agg_state",
                 "properties": {"path": target, "keys": "user_id",
                                "valueColumn": "value",
                                "numBuckets": "4"}},
    }]}).pipelines[0]

    real_record = src_files.manifest_record
    calls = {"n": 0}

    def failing_record(files, mdir, sp=None):
        calls["n"] += 1
        if calls["n"] == 1:
            raise OSError("simulated bookkeeping failure")
        return real_record(files, mdir, sp)

    monkeypatch.setattr(src_files, "manifest_record", failing_record)
    with pytest.raises(OSError, match="simulated"):
        run(spark, cfg)
    # merge happened, bookkeeping didn't: intent must still be claimed
    assert os.path.isfile(os.path.join(target, W._BATCH_INTENT))
    state = {r.user_id: (r.n, float(r.total))
             for r in spark.read.parquet(target).collect()}
    assert state == {7: (1, 1.0)}

    # rerun: same (unrecorded) file replays, resumes the same run id,
    # every bucket skips -> no double-count; bookkeeping now succeeds
    # and the intent clears
    run(spark, cfg)
    state = {r.user_id: (r.n, float(r.total))
             for r in spark.read.parquet(target).collect()}
    assert state == {7: (1, 1.0)}
    assert not os.path.isfile(os.path.join(target, W._BATCH_INTENT))


def test_lenient_casts_saturate(spark):
    """Out-of-range numerics saturate (Java narrowing intValue/
    longValue, the reference's fallback), never silently null->0."""
    from universal_data_connector_spark.functions import casts as fc

    df = spark.createDataFrame(
        [("3000000000",), ("-3000000000",), ("NaN",), ("42.7",),
         ("junk",), ("1e300",)], "s string")
    got = [(r.i, r.l) for r in df.select(
        fc.lenient_int(F.col("s")).alias("i"),
        fc.lenient_long(F.col("s")).alias("l")).collect()]
    assert got == [
        (2147483647, 3000000000),
        (-2147483648, -3000000000),
        (0, 0),
        (42, 42),
        (None, None),
        (2147483647, 9223372036854775807),
    ]


def test_streaming_parquet_file_sink_works(spark, tmp_path):
    """The streaming parquet file sink must start and write (review:
    .write was evaluated on the streaming frame before the branch,
    raising CALL_ON_STREAMING_DATASET_UNSUPPORTED — the path was
    dead)."""
    from universal_data_connector_spark.sinks.files import file_sink

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.json").write_text('{"k": 1, "v": "x"}\n{"k": 2, "v": "y"}\n')
    out = str(tmp_path / "out")
    stream = (spark.readStream.schema("k bigint, v string")
              .json(str(src)))
    q = file_sink(stream, {"path": out, "format": "parquet",
                           "checkpointLocation": str(tmp_path / "ck")},
                  streaming=True)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {(r.k, r.v) for r in spark.read.parquet(out).collect()}
    assert rows == {(1, "x"), (2, "y")}


def test_file_sink_binary_content_roundtrip(spark, tmp_path):
    """A directory source's BINARY content writes byte-for-byte (no
    text-mode crash, no forced trailing newline)."""
    from universal_data_connector_spark.sinks.files import _write_file_mode

    payload = bytes([0, 155, 10, 255, 13]) * 3
    df = spark.createDataFrame(
        [("blob.bin", bytearray(payload))],
        "source_file string, content binary")
    out = tmp_path / "out"
    _write_file_mode(df, str(out), extension="")
    assert (out / "blob.bin").read_bytes() == payload


def test_as_of_join_keeps_duplicate_left_rows(spark):
    """Two left rows sharing (key, ts) but differing in payload must
    BOTH survive with their own match (review: the window partitioned
    on (key, ts) and collapsed them to one row)."""
    from universal_data_connector_spark.operators.relational import (
        as_of_join,
    )

    left = spark.createDataFrame(
        [(1, 10, "A"), (1, 10, "B"), (1, 20, "C")],
        "k bigint, lts bigint, payload string")
    right = spark.createDataFrame(
        [(1, 5, "r5"), (1, 15, "r15")],
        "k bigint, rts bigint, rval string")
    out = as_of_join(left, right, on="k", left_ts="lts", right_ts="rts",
                     tiebreakers=["rval"])
    got = sorted((r.payload, r.rval) for r in out.collect())
    assert got == [("A", "r5"), ("B", "r5"), ("C", "r15")]


def test_salted_join_rejects_other_side_outer(spark):
    """Right/full outer would emit salt-1 null-extended phantom copies
    per other-side row — rejected loudly."""
    from universal_data_connector_spark.operators.relational import (
        salted_join,
    )

    a = spark.createDataFrame([(1, "x")], "k bigint, v string")
    b = spark.createDataFrame([(1, "y")], "k bigint, w string")
    for how in ("right", "full", "full_outer", "rightouter"):
        with pytest.raises(ValueError, match="salted_join"):
            salted_join(a, b, ["k"], how)
    # the supported shapes still work
    assert salted_join(a, b, ["k"], "left", salt=4).count() == 1


def test_s3_sink_rejects_nonparquet_schema_filemode(spark):
    """schema/format binding of file-mode blobs to a non-parquet
    format would fall into file_sink's os.makedirs passthrough and
    write to a LOCAL './s3a:...' dir — rejected up front."""
    from universal_data_connector_spark.sinks.files import s3_sink

    df = spark.createDataFrame(
        [("f.csv", "CSV", "a,b\n1,2\n")],
        "source_file string, file_type string, content string")
    with pytest.raises(ValueError, match="parquet"):
        s3_sink(df, {"bucketName": "b", "format": "csv",
                     "schema": '{"type":"record","name":"r","fields":[]}'})
    assert not os.path.isdir("s3a:")


def test_manager_job_names_unique_same_millisecond(spark, tmp_path):
    """Two submissions in the same millisecond must get distinct job
    names (collision silently orphaned the first job and shared its
    Spark job group)."""
    import time as time_mod

    from universal_data_connector_spark.config import parse_config
    from universal_data_connector_spark.manager import PipelineManager

    inp = tmp_path / "in"
    inp.mkdir()
    (inp / "a.txt").write_text("hello")
    mgr = PipelineManager(spark)

    def cfg(i):
        return parse_config({"pipelines": [{
            "name": "same-name",
            "source": {"type": "file",
                       "properties": {"path": str(inp),
                                      "pattern": "*.txt"}},
            "transformations": [],
            "sink": {"type": "memory",
                     "properties": {"table": f"mgr_dup_{i}"}},
        }]}).pipelines[0]

    frozen = time_mod.time()
    orig = time_mod.time
    time_mod.time = lambda: frozen
    try:
        n1 = mgr.start_pipeline(cfg(1))
        n2 = mgr.start_pipeline(cfg(2))
    finally:
        time_mod.time = orig
    assert n1 != n2
    assert mgr.wait(timeout=60)
    assert {j["name"] for j in mgr.jobs()} == {n1, n2}


def test_column_filter_streaming_legal(spark, tmp_path):
    """The file-mode CSV column filter is now a row-local projection,
    so it runs under Structured Streaming (review: the old distinct +
    left-semi self-join raised 'stream-stream LeftSemi ... not
    supported' at query start) — both granularities."""
    from universal_data_connector_spark.engine import _filter_transform

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.csv").write_text(
        "id,status,assignee\n1,important,alice\n2,normal,bob\n")
    (src / "b.csv").write_text("id,status\n9,normal\n")

    from universal_data_connector_spark.sources.files import file_source

    for gran, want in (("file", {("a.csv", 2)}),
                       ("row", {("a.csv", 1)})):
        raw = file_source(spark, {"path": str(src), "pattern": "*.csv"},
                          streaming=True)
        out = _filter_transform(raw, {"column": "status",
                                      "condition": "important",
                                      "granularity": gran})
        q = (out.writeStream.format("memory")
             .queryName(f"filt_{gran}")
             .option("checkpointLocation", str(tmp_path / f"ck_{gran}"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        rows = spark.sql(f"SELECT * FROM filt_{gran}").collect()
        got = {(os.path.basename(r.source_file),
                len([l for l in r.content.split("\n")[1:] if l.strip()]))
               for r in rows}
        assert got == want, f"granularity={gran}: {got}"


def test_column_filter_batch_semantics_unchanged(spark):
    """Row-local rewrite keeps the batch semantics: whole-file keep on
    any matching row; row granularity rebuilds header + matching lines
    in order; short rows and missing columns never match."""
    from universal_data_connector_spark.engine import _filter_transform

    df = spark.createDataFrame(
        [("x.csv", "CSV", "id,status\n1,important\n2,normal\n3,important extra\nshort\n"),
         ("y.csv", "CSV", "id,status\n7,normal\n"),
         ("z.csv", "CSV", "id,other\n1,important\n"),  # no status column
         ("t.txt", "TEXT", "very important note")],
        "source_file string, file_type string, content string")
    kept = _filter_transform(df, {"column": "status",
                                  "condition": "important"})
    assert {r.source_file for r in kept.collect()} == {"x.csv", "t.txt"}

    rows = _filter_transform(df, {"column": "status",
                                  "condition": "important",
                                  "granularity": "row"})
    got = {r.source_file: r.content for r in rows.collect()}
    assert set(got) == {"x.csv", "t.txt"}
    assert got["x.csv"] == "id,status\n1,important\n3,important extra"


def test_explode_csv_rows_duplicate_headers_bind_first(spark):
    """Duplicate header names (after lower/trim) bind to the first
    occurrence instead of crashing the batch with DUPLICATED_MAP_KEY."""
    from universal_data_connector_spark.sources.records import (
        explode_csv_rows,
    )

    df = spark.createDataFrame(
        [("d.csv", "CSV", "id,ID,name\n1,2,alice\n")],
        "source_file string, file_type string, content string")
    rows = explode_csv_rows(df).collect()
    assert len(rows) == 1
    fields = rows[0]["__fields"]
    assert fields["id"] == "1"      # first occurrence wins
    assert fields["name"] == "alice"


def test_sql_transform_unique_view_no_leftovers(spark):
    """The sql transform registers a unique per-call view (no fixed
    '_input' shared across concurrent builds) and drops it after."""
    from universal_data_connector_spark.engine import _sql_transform

    df = spark.createDataFrame([(1,), (2,)], "x bigint")
    out = _sql_transform(df, {"query": "SELECT SUM(x) AS s FROM _input"})
    assert out.collect()[0].s == 3
    leftover = [t.name for t in spark.catalog.listTables()
                if t.name.startswith("_input")]
    assert leftover == [], leftover


def test_map_transform_none_and_case_insensitive(spark):
    from universal_data_connector_spark.engine import _map_transform

    df = spark.createDataFrame([("a", "b")], "Status string, other string")
    # None column -> default target (first column), no crash
    out = _map_transform(df, {"column": None, "prefix": "P-"})
    assert out.collect()[0].Status == "P-a"
    # case-insensitive resolution
    out = _map_transform(df, {"column": "status", "suffix": "-S"})
    assert out.collect()[0].Status == "a-S"
    # unknown column -> warn + passthrough, not an analysis error
    out = _map_transform(df, {"column": "nope", "prefix": "x"})
    assert out.collect()[0].Status == "a"


def test_directory_source_preserve_structure_scheme_path(spark, tmp_path):
    """preserveStructure must survive a scheme-qualified configured
    path (review: 'file:///x' never matched Spark's 'file:/x' spelling
    and silently degraded every file to its basename)."""
    from universal_data_connector_spark.sources.files import (
        directory_source,
    )

    root = tmp_path / "data"
    (root / "sub").mkdir(parents=True)
    (root / "sub" / "x.bin").write_bytes(b"\x01")
    (root / "y.bin").write_bytes(b"\x02")
    df = directory_source(spark, {"path": f"file://{root}",
                                  "preserveStructure": "true"})
    names = {r.source_file for r in df.collect()}
    assert names == {"sub/x.bin", "y.bin"}, names


def test_riff_container_disambiguation(spark):
    """RIFF is a container magic: WAV, WebP, and AVI share it and are
    told apart by the format tag at bytes 9-12; an unknown RIFF stays
    octet-stream instead of mislabeling as audio."""
    from universal_data_connector_spark.operators.multimodal import (
        binary_metadata,
    )

    wav = b"RIFF\x00\x00\x00\x00WAVEfmt "
    webp = b"RIFF\x00\x00\x00\x00WEBPVP8 "
    avi = b"RIFF\x00\x00\x00\x00AVI LIST"
    riff_unknown = b"RIFF\x00\x00\x00\x00XXXX"
    df = spark.createDataFrame(
        [(1, wav), (2, webp), (3, avi), (4, riff_unknown)],
        "asset_id bigint, content binary")
    got = {r.asset_id: r.media_type for r in binary_metadata(df).collect()}
    assert got == {1: "audio/wav", 2: "image/webp", 3: "video/x-msvideo",
                   4: "application/octet-stream"}


def test_sample_frames_boundary_and_nulls(spark):
    """Exact-multiple lengths do not emit a one-past-end offset, and
    NULL/empty content keeps its row (NULL frame) instead of silently
    vanishing from the pipeline."""
    from universal_data_connector_spark.operators.multimodal import (
        sample_frames,
    )

    df = spark.createDataFrame(
        [(1, b"x" * 4096), (2, b"x" * 4097), (3, None), (4, b"")],
        "asset_id bigint, content binary")
    out = sample_frames(df, every_n_bytes=1024, max_frames=16)
    frames = {}
    for r in out.collect():
        frames.setdefault(r.asset_id, []).append(r.frame_offset)
    assert sorted(frames[1]) == [0, 1024, 2048, 3072]  # not 4096
    assert sorted(frames[2]) == [0, 1024, 2048, 3072, 4096]
    assert frames[3] == [None] and frames[4] == [None]


def test_partition_by_content_hash_distribution(spark):
    """Partitioning keys on the full-entropy hash: with many distinct
    contents, rows spread across (nearly) all shard partitions instead
    of the balls-into-bins collapse of re-hashing the shard value."""
    from universal_data_connector_spark.operators.multimodal import (
        partition_by_content_hash,
    )

    df = spark.createDataFrame(
        [(i, f"content-{i}".encode()) for i in range(512)],
        "asset_id bigint, content binary")
    out = partition_by_content_hash(df, n_shards=16)
    sizes = (out.rdd.glom().map(len).collect())
    assert len(sizes) == 16
    nonempty = [s for s in sizes if s > 0]
    assert len(nonempty) == 16, f"empty partitions: {sizes}"
    assert max(sizes) <= 3 * (512 // 16), f"skewed: {sizes}"


def test_kafka_records_preserves_explicit_key(spark):
    """An explicit key column is the caller's partitioning key — it
    must survive the content fallback; a frame with no payload fails
    loudly."""
    from universal_data_connector_spark.sinks.kafka import kafka_records

    df = spark.createDataFrame(
        [("route-1", "payload-a")], "key string, content string")
    row = kafka_records(df).collect()[0]
    assert (row.key, row.value) == ("route-1", "payload-a")

    nothing = spark.createDataFrame([(1,)], "x bigint")
    with pytest.raises(ValueError, match="kafka sink needs"):
        kafka_records(nothing)


def test_currency_double_parse_first(spark):
    """Scientific notation must survive the currency cast (review:
    unconditional stripping turned '1e5' into 15.0)."""
    from universal_data_connector_spark.functions import casts as fc

    df = spark.createDataFrame(
        [("1e5",), ("2.5E-3",), ("$75,000.00",), ("EUR 1,234.75",),
         ("junk",)], "s string")
    got = [r.d for r in df.select(
        fc.lenient_currency_double(F.col("s")).alias("d")).collect()]
    assert got[0] == 100000.0
    assert got[1] == 0.0025
    assert got[2] == 75000.0
    assert got[3] == 1234.75
    assert got[4] is None


def test_cc_and_clusters_reject_string_ids(spark):
    """String ids must raise, not silently NULL out every edge and
    delete the corpus via is_canonical=NULL."""
    from universal_data_connector_spark.operators.dedup import (
        connected_components,
        dedup_clusters,
    )

    edges = spark.createDataFrame(
        [("a", "b")], "id_1 string, id_2 string")
    with pytest.raises(TypeError, match="integral id"):
        connected_components(edges)
    docs = spark.createDataFrame([("a", "t")], "doc_id string, text string")
    with pytest.raises(TypeError, match="integral id"):
        dedup_clusters(docs, edges)


def test_as_of_join_key_not_ambiguous(spark):
    """The join key must appear ONCE in the output (review: both
    sides' keys survived as duplicate 'k' columns, so select/groupBy/
    write on the key raised AMBIGUOUS_REFERENCE)."""
    from universal_data_connector_spark.operators.relational import (
        as_of_join,
    )

    left = spark.createDataFrame([(1, 10)], "k bigint, lts bigint")
    right = spark.createDataFrame([(1, 5, "r")], "k bigint, rts bigint, v string")
    out = as_of_join(left, right, on="k", left_ts="lts", right_ts="rts",
                     tiebreakers=["rts"])
    assert out.columns.count("k") == 1
    assert [(r.k, r.v) for r in out.select("k", "v").collect()] == [(1, "r")]


def test_containment_max_postings_underestimates(spark):
    """The shared inverted-index cap is exposed on containment too:
    capped scores never ADD pairs (strict underestimate)."""
    from universal_data_connector_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    text = "one two three four five six seven eight nine ten"
    docs = spark.createDataFrame(
        [(1, text), (2, text), (3, "totally different words here entirely")],
        "doc_id bigint, text string")
    full = {(r.id_1, r.id_2)
            for r in ngram_containment_pairs(docs, threshold=0.9).collect()}
    capped = {(r.id_1, r.id_2)
              for r in ngram_containment_pairs(
                  docs, threshold=0.9, max_postings=1).collect()}
    assert full == {(1, 2)}
    assert capped <= full


def test_sql_transform_preserves_input_literal(spark):
    """The per-call view rewrite must not touch the text '_input'
    inside single-quoted SQL string literals."""
    from universal_data_connector_spark.engine import _sql_transform

    df = spark.createDataFrame([("_input",), ("other",)], "name string")
    out = _sql_transform(df, {"query":
        "SELECT COUNT(*) AS n FROM _input WHERE name = '_input'"})
    assert out.collect()[0].n == 1


def test_s3_sink_rejects_formatless_record_mode(spark):
    """Record-mode frames with no/unknown format would fall into the
    local text passthrough — rejected with a clear message."""
    from universal_data_connector_spark.sinks.files import s3_sink

    df = spark.createDataFrame([(1, "x")], "id bigint, v string")
    with pytest.raises(ValueError, match="record-mode"):
        s3_sink(df, {"bucketName": "b"})


def test_cc_accepts_scale_zero_decimal_ids(spark):
    """DECIMAL(p,0) ids (JDBC NUMERIC) cast to bigint losslessly and
    must stay accepted by the integral-id guard."""
    from pyspark.sql import functions as SF

    from universal_data_connector_spark.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame([(1, 2), (2, 3)], "id_1 bigint, id_2 bigint") \
        .select(SF.col("id_1").cast("decimal(38,0)").alias("id_1"),
                SF.col("id_2").cast("decimal(38,0)").alias("id_2"))
    comp = {(r.node, r.component) for r in connected_components(edges).collect()}
    assert comp == {(1, 1), (2, 1), (3, 1)}
