"""Round-10 regression tests (ADVICE r9 items + VERDICT r9 item 4).

1. (low) exact_group_percentiles validates ps up front: an
   out-of-range fraction raises ValueError immediately instead of an
   opaque KeyError from the pick-join bookkeeping.
2. (low) _sql_transform skips literals by re.split index PARITY, not
   by first character: in doubleQuotedIdentifiers mode a NON-literal
   segment can itself start with a double quote (a quoted alias
   abutting a single-quoted literal), and `_input` inside it must
   still be rewritten.
3. (low) ts_outlier_iqr LEFT-joins the quartile frame: a group whose
   values are ALL null is absent from exact_group_percentiles output
   but the oracle's quantile_cont emits it with null quartiles — the
   left join keeps the group (null fences -> n_outliers 0), matching
   the oracle exactly.
4. (verdict item 4) events_rfm_segments materializes the per-customer
   aggregate so the orders groupBy executes ONCE: the returned plan
   reads the checkpoint, not a second aggregation over the scan.
5. (low) begin_batch_run reclaims on a changed fingerprint when the
   crashed run recorded its touched set but swapped ZERO buckets
   (markers all below the run id): zero swaps = state untouched.
6. (low) the boto3 S3 fetch decodes a non-UTF-8 object with
   replacement characters (the reference's `new String(bytes, UTF_8)`
   result) rather than crashing the task — and round-trips valid
   UTF-8 exactly.
"""

from __future__ import annotations

import os

import pytest


# ---------------------------------------------------------------------------
# 1. quantile fraction bounds
# ---------------------------------------------------------------------------

def test_exact_group_percentiles_rejects_out_of_range_ps(spark):
    from universal_data_connector_spark.operators.quantiles import (
        exact_group_percentiles,
    )

    df = spark.range(10).toDF("v")
    for bad in ([1.5], [-0.01], [0.5, 2.0]):
        with pytest.raises(ValueError, match=r"outside \[0, 1\]"):
            exact_group_percentiles(df, [], "v", bad,
                                    [f"q{i}" for i in range(len(bad))])


# ---------------------------------------------------------------------------
# 2. _input rewrite: split-parity, not first-character sniffing
# ---------------------------------------------------------------------------

def test_sql_transform_dqi_quote_leading_nonliteral_rewritten(spark):
    """In dqi mode, `'x'"a"` lexes as literal + quoted ALIAS, so the
    re.split segment after the literal BEGINS with a double quote yet
    is NOT a literal — the old first-char test skipped it, leaving
    the later `FROM "_input"` unrewritten (ADVICE r9)."""
    from universal_data_connector_spark.engine import _sql_transform

    conf = "spark.sql.ansi.doubleQuotedIdentifiers"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "true")
    try:
        df = spark.range(3).toDF("id")
        out = _sql_transform(
            df, {"query": 'SELECT \'x\'"a", count(*) AS n FROM "_input"'})
        row = out.collect()[0]
        assert row.a == "x"
        assert row.n == 3
    finally:
        spark.conf.set(conf, old)


# ---------------------------------------------------------------------------
# 3. ts_outlier_iqr keeps all-null groups (oracle parity)
# ---------------------------------------------------------------------------

def test_ts_outlier_iqr_keeps_all_null_group(spark, tmp_path):
    import duckdb

    from tests.oracle_harness import compare
    from universal_data_connector_spark.plans.catalog import (
        ORACLES,
        QUERIES,
    )

    import datetime as dt

    ts0 = dt.datetime(2024, 1, 1)
    rows = ([("ok", float(i), ts0) for i in range(1, 9)]
            + [("ghost", None, ts0)] * 3)
    (spark.createDataFrame(
        rows, "event_type string, value double, ts timestamp")
          .coalesce(1).write.parquet(str(tmp_path / "events.parquet")))

    sdf = QUERIES["ts_outlier_iqr"](spark, str(tmp_path))
    got = {r.event_type: r for r in sdf.collect()}
    assert set(got) == {"ok", "ghost"}
    assert got["ghost"].q1 is None and got["ghost"].q3 is None
    assert got["ghost"].n_outliers == 0 and got["ghost"].n == 3

    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM "
            f"'{tmp_path}/events.parquet/*.parquet'")
    ok, detail = compare(sdf, con.sql(ORACLES["ts_outlier_iqr"]))
    assert ok, detail


# ---------------------------------------------------------------------------
# 4. events_rfm_segments: one aggregation execution
# ---------------------------------------------------------------------------

def test_events_rfm_segments_single_aggregation_plan(spark):
    from tests.conftest import SF_DIR
    from universal_data_connector_spark.plans.catalog import QUERIES

    df = QUERIES["events_rfm_segments"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the per-customer aggregate is served from its checkpoint in the
    # returned plan — the build materialized it once, so the orders
    # groupBy ran exactly once overall
    assert "Scan ExistingRDD" in plan
    # no aggregation over the raw orders scan: the checkpoint scan
    # feeds the join, and the plan never reads orders again
    assert "Scan parquet" not in plan
    df.collect()  # executes against the checkpoint without error


# ---------------------------------------------------------------------------
# 5. recorded-but-zero-swapped reclaims on changed fingerprint
# ---------------------------------------------------------------------------

def test_begin_batch_run_recorded_zero_swapped_reclaims(spark, tmp_path):
    """Bucket dirs EXIST (from earlier completed runs, markers below
    the crashed run's id) and the crashed run recorded its touched
    set but swapped nothing: zero markers at the run id = state
    untouched, so a changed input reclaims fresh (ADVICE r9)."""
    from universal_data_connector_spark.streaming.windows import (
        _BATCH_INTENT,
        _intent_load,
        PosixStateTarget,
        agg_state_merge,
        begin_batch_run,
        end_batch_run,
        record_touched,
    )

    def mk(rows):
        return spark.createDataFrame(
            rows, "event_id bigint, user_id bigint, value double")

    target = str(tmp_path / "state")
    rid0 = begin_batch_run(target, num_buckets=4, fingerprint="fp0")
    agg_state_merge(mk([(i, i, 1.0) for i in range(1, 9)]), rid0,
                    path=target, keys=["user_id"], value_col="value",
                    num_buckets=4)
    end_batch_run(target)

    rid1 = begin_batch_run(target, num_buckets=4, fingerprint="fp1")
    assert rid1 > rid0
    # crash AFTER recording the planned buckets, BEFORE any swap:
    # every marker in the touched dirs is still below rid1
    record_touched(PosixStateTarget(target), rid1, [0, 1, 2, 3])
    rid2 = begin_batch_run(target, num_buckets=4, fingerprint="fp2")
    assert rid2 == rid1  # fresh claim recomputes the same next id
    stored = _intent_load(os.path.join(target, _BATCH_INTENT))
    assert stored["fingerprint"] == "fp2"  # re-claimed, not resumed
    assert stored.get("touched") is None


# ---------------------------------------------------------------------------
# 6. boto3 fetch: non-UTF-8 body decodes with replacement, loudly
# ---------------------------------------------------------------------------

def test_s3_boto3_source_decodes_invalid_utf8_with_replacement(spark):
    boto3 = pytest.importorskip("boto3")
    moto_server = pytest.importorskip("moto.server")

    server = moto_server.ThreadedMotoServer(port=0)
    server.start()
    try:
        port = server._server.socket.getsockname()[1]
        endpoint = f"http://127.0.0.1:{port}"
        client = boto3.client(
            "s3", endpoint_url=endpoint, region_name="us-east-1",
            aws_access_key_id="t", aws_secret_access_key="t")
        client.create_bucket(Bucket="b10")
        client.put_object(Bucket="b10", Key="in/bad.txt",
                          Body=b"ok\xff\xfe tail")
        client.put_object(Bucket="b10", Key="in/good.txt",
                          Body="héllo".encode())

        from universal_data_connector_spark.sources.files import (
            _s3_source_boto3,
        )

        df = _s3_source_boto3(spark, {
            "bucketName": "b10", "prefix": "in/", "endpoint": endpoint,
            "accessKey": "t", "secretKey": "t"})
        got = {os.path.basename(r.source_file): r.content
               for r in df.collect()}
    finally:
        server.stop()
    assert got["good.txt"] == "héllo"
    assert got["bad.txt"] == "ok�� tail"


def test_begin_batch_run_recovers_before_zero_swap_proof(
        spark, tmp_path, monkeypatch):
    """r10 review (severe): a crash BETWEEN a bucket's two swap
    renames (live -> old done, staged -> live not) hides that bucket's
    markers from begin_batch_run. Without recovery-at-entry, the
    changed-input reclaim reads 'zero swaps' from a blind state and
    next_id() can hand out an id at or below the hidden bucket's
    highest marker — the subsequent merge then skips the bucket and
    silently DROPS its increments. begin_batch_run now runs
    _upsert_recover first, so the proof reads restored state."""
    import os as os_mod

    from universal_data_connector_spark.streaming import windows as W

    def mk(rows):
        return spark.createDataFrame(
            rows, "event_id bigint, user_id bigint, value double")

    def _state(target):
        return {r.user_id: (r.n, float(r.total))
                for r in spark.read.parquet(target).collect()}

    target = str(tmp_path / "state")
    # run 0: all four buckets live at marker rid0
    rid0 = W.begin_batch_run(target, num_buckets=4, fingerprint="fp0")
    W.agg_state_merge(mk([(i, i, 1.0) for i in range(1, 9)]), rid0,
                      path=target, keys=["user_id"], value_col="value",
                      num_buckets=4)
    W.end_batch_run(target)

    # run 1: only user 1's bucket advances to marker rid1
    rid1 = W.begin_batch_run(target, num_buckets=4, fingerprint="fp1")
    W.agg_state_merge(mk([(100, 1, 10.0)]), rid1, path=target,
                      keys=["user_id"], value_col="value", num_buckets=4)
    W.end_batch_run(target)
    base = _state(target)
    assert base[1] == (2, 11.0)

    # run 2 crashes between the SAME bucket's live->old and
    # staged->live renames: the bucket's live dir (holding the
    # target's HIGHEST marker, rid1) vanishes into _udc_old_
    calls = {"n": 0}
    real_rename = os_mod.rename

    def flaky_rename(src, dst):
        if f"{W._UPSERT_BUCKET_COL}=" in str(dst) or \
                W._UPSERT_OLD_PREFIX in str(dst):
            calls["n"] += 1
            if calls["n"] == 2:  # live->old ok, staged->live fails
                raise OSError("injected between-renames crash")
        return real_rename(src, dst)

    rid2 = W.begin_batch_run(target, num_buckets=4, fingerprint="fp2")
    monkeypatch.setattr(os_mod, "rename", flaky_rename)
    with pytest.raises(OSError, match="injected"):
        W.agg_state_merge(mk([(200, 1, 100.0)]), rid2, path=target,
                          keys=["user_id"], value_col="value",
                          num_buckets=4)
    monkeypatch.setattr(os_mod, "rename", real_rename)

    # changed input: recovery restores the bucket (markers visible
    # again), zero swaps of rid2 remain -> reclaim re-derives rid2,
    # NOT an id at/below the hidden marker rid1
    rid3 = W.begin_batch_run(target, num_buckets=4, fingerprint="fp3")
    assert rid3 == rid2
    assert rid3 > rid1
    W.agg_state_merge(mk([(300, 1, 1000.0)]), rid3, path=target,
                      keys=["user_id"], value_col="value", num_buckets=4)
    W.end_batch_run(target)
    # the new input's increment LANDED (the old bug dropped it)
    got = _state(target)
    assert got[1] == (3, 1011.0)
    for u in range(2, 9):
        assert got[u] == base[u]
