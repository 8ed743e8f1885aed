"""Round-9 regression tests (ADVICE r8 items).

1. (medium) A crash between manifest_record and end_batch_run leaves a
   stale batch intent while the NEXT run's input differs (the manifest
   now filters the recorded files). begin_batch_run carries an input
   fingerprint: a changed-input resume after a COMPLETED merge
   reclaims a fresh id (the new files' increments apply); after an
   INCOMPLETE merge it raises instead of guessing.
2. (low) _sql_transform's _input rewrite must also skip double-quoted
   string literals (Spark's default parsing), while still rewriting a
   double-quoted IDENTIFIER when spark.sql.ansi.doubleQuotedIdentifiers
   is on; backslash-escaped quotes stay inside one literal.
3. (low) The upsert tie-break hash must not explode on unhashable
   column types (MapType anywhere in the column): those hash their
   to_json rendering instead.
"""

from __future__ import annotations

import os
import textwrap

import pytest


def _mk(spark, rows):
    return spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, value double")


def _state(spark, target):
    return {r.user_id: (r.n, float(r.total))
            for r in spark.read.parquet(target).collect()}


# ---------------------------------------------------------------------------
# 1. batch intent input fingerprint
# ---------------------------------------------------------------------------

def test_begin_batch_run_same_fingerprint_resumes(spark, tmp_path):
    from universal_data_connector_spark.streaming.windows import (
        begin_batch_run,
    )

    target = str(tmp_path / "state")
    rid = begin_batch_run(target, num_buckets=4, fingerprint="fpA")
    assert begin_batch_run(target, num_buckets=4, fingerprint="fpA") == rid
    # either side missing a fingerprint also resumes (legacy contract)
    assert begin_batch_run(target, num_buckets=4) == rid


def test_begin_batch_run_changed_fp_after_completed_merge_reclaims(
        spark, tmp_path):
    """Crash AFTER the merge but before end_batch_run, then new input:
    the fingerprint differs, the recorded touched set is fully
    applied, so a fresh id is claimed and the new increments land
    (ADVICE r8 medium: the old blind resume skipped every bucket the
    prior run marked)."""
    from universal_data_connector_spark.streaming.windows import (
        _BATCH_INTENT,
        agg_state_merge,
        begin_batch_run,
    )

    target = str(tmp_path / "state")
    rid = begin_batch_run(target, num_buckets=4, fingerprint="fpA")
    agg_state_merge(_mk(spark, [(1, 7, 1.0), (2, 8, 5.0)]), rid,
                    path=target, keys=["user_id"], value_col="value",
                    num_buckets=4)
    # intent still present (end_batch_run never ran = the crash window)
    assert os.path.isfile(os.path.join(target, _BATCH_INTENT))

    rid2 = begin_batch_run(target, num_buckets=4, fingerprint="fpB")
    assert rid2 > rid
    # same key 7 -> previously-touched bucket must still apply
    agg_state_merge(_mk(spark, [(3, 7, 10.0)]), rid2, path=target,
                    keys=["user_id"], value_col="value", num_buckets=4)
    assert _state(spark, target) == {7: (2, 11.0), 8: (1, 5.0)}


def test_begin_batch_run_changed_fp_incomplete_merge_raises(
        spark, tmp_path):
    """Contract updated per ADVICE r9: recorded-but-ZERO-swapped is
    provably untouched state (each swap stamps its marker atomically
    with the bucket rename), so a changed input reclaims fresh; the
    raise is reserved for a genuine MIXED apply (some recorded
    buckets carry the run's marker, some don't)."""
    from universal_data_connector_spark.streaming.windows import (
        _APPLIED_PREFIX,
        _UPSERT_BUCKET_COL,
        PosixStateTarget,
        begin_batch_run,
        record_touched,
    )

    target = str(tmp_path / "state")
    rid = begin_batch_run(target, num_buckets=4, fingerprint="fpA")
    # the run recorded its planned buckets but swapped none of them
    # (no markers exist), then crashed; a changed input reclaims
    record_touched(PosixStateTarget(target), rid, [0, 1])
    assert begin_batch_run(target, num_buckets=4, fingerprint="fpB") == rid

    # now run rid is recorded again with ONE of two buckets marked
    # applied — a true partial apply — and the changed input refuses
    record_touched(PosixStateTarget(target), rid, [0, 1])
    bdir = os.path.join(target, f"{_UPSERT_BUCKET_COL}=0")
    os.makedirs(bdir, exist_ok=True)
    open(os.path.join(bdir, f"{_APPLIED_PREFIX}{rid}"), "w").close()
    with pytest.raises(ValueError, match="partially applied"):
        begin_batch_run(target, num_buckets=4, fingerprint="fpC")
    # the same input still resumes fine
    assert begin_batch_run(target, num_buckets=4, fingerprint="fpB") == rid


def test_begin_batch_run_changed_fp_never_swapped_reclaims(
        spark, tmp_path):
    """touched still None means the crashed run never reached its
    record-before-swap point, so zero buckets swapped — a changed
    input reclaims fresh instead of wedging the pipeline behind a
    manual intent delete (review finding on the raise branch)."""
    from universal_data_connector_spark.streaming.windows import (
        begin_batch_run,
    )

    from universal_data_connector_spark.streaming.windows import (
        _BATCH_INTENT,
        _intent_load,
    )

    target = str(tmp_path / "state")
    rid = begin_batch_run(target, num_buckets=4, fingerprint="fpA")
    # crash before the merge recorded anything; input then changes
    rid2 = begin_batch_run(target, num_buckets=4, fingerprint="fpB")
    assert rid2 == rid  # no markers advanced -> same next id, fresh claim
    stored = _intent_load(os.path.join(target, _BATCH_INTENT))
    assert stored["fingerprint"] == "fpB"  # re-CLAIMED, not resumed


def test_begin_batch_run_legacy_int_intent_resumes(spark, tmp_path):
    from universal_data_connector_spark.streaming.windows import (
        _BATCH_INTENT,
        begin_batch_run,
    )

    target = str(tmp_path / "state")
    begin_batch_run(target, num_buckets=4)  # creates layout + intent
    with open(os.path.join(target, _BATCH_INTENT), "w") as fh:
        fh.write("7")  # pre-fingerprint format: bare run id
    assert begin_batch_run(target, num_buckets=4, fingerprint="X") == 7


def _events_csv(rows):
    body = "\n".join(f"{e},{u},{ts},{v}" for e, u, ts, v in rows)
    return f"event_id,user_id,ts,value\n{body}\n"


def _write(path, content):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(content)


def test_engine_crash_after_manifest_then_new_file_applies(
        spark, tmp_path, monkeypatch):
    """The exact ADVICE r8 scenario, end-to-end through the YAML
    engine: run 1 merges and records its manifest, then crashes before
    end_batch_run; a new file arrives; run 2's input is ONLY the new
    file (manifest filter), its fingerprint differs, and its
    increments must apply — the blind-resume bug dropped them for
    every bucket run 1 touched (same user key = same bucket here)."""
    from universal_data_connector_spark.config import parse_config
    from universal_data_connector_spark.engine import run
    from universal_data_connector_spark.streaming import windows

    inp = tmp_path / "in"
    inp.mkdir()
    target = str(tmp_path / "state")
    cfg = parse_config({"pipelines": [{
        "name": "fp-crash",
        "source": {"type": "file",
                   "properties": {"path": str(inp), "pattern": "*.csv",
                                  "manifestDir": str(tmp_path / "m")}},
        "transformations": [
            {"type": "sql", "properties": {"query": textwrap.dedent("""
                SELECT CAST(f[1] AS BIGINT) AS user_id,
                       CAST(f[3] AS DOUBLE) AS value
                FROM (SELECT split(line, ',') AS f FROM (
                        SELECT explode(slice(split(content, '\n'), 2,
                                             1000000)) AS line
                        FROM _input))
                WHERE size(f) >= 4""")}},
        ],
        "sink": {"type": "agg_state",
                 "properties": {"path": target, "keys": "user_id",
                                "valueColumn": "value",
                                "numBuckets": "4"}},
    }]}).pipelines[0]

    _write(f"{inp}/a.csv", _events_csv([
        (1, 7, "2026-01-01 10:00:00", 1.0)]))
    real_end = windows.end_batch_run

    def boom(path):
        raise RuntimeError("injected crash before end_batch_run")

    monkeypatch.setattr(windows, "end_batch_run", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        run(spark, cfg)
    assert _state(spark, target) == {7: (1, 1.0)}
    assert os.path.isfile(os.path.join(target, windows._BATCH_INTENT))

    monkeypatch.setattr(windows, "end_batch_run", real_end)
    _write(f"{inp}/b.csv", _events_csv([
        (2, 7, "2026-01-01 11:00:00", 10.0)]))
    run(spark, cfg)
    assert _state(spark, target) == {7: (2, 11.0)}
    assert not os.path.isfile(os.path.join(target, windows._BATCH_INTENT))


def test_changed_fp_after_real_partial_swap_raises_then_recovers(
        spark, tmp_path, monkeypatch):
    """Drive the guard's raise branch with a REAL partial apply: a
    rename failure mid-swap leaves one bucket marked and one not.
    A changed-input rerun must refuse (either resume or fresh-claim
    would corrupt); the SAME input resumes, completes exactly-once,
    and only then does new input get a fresh id."""
    import os as os_mod

    from universal_data_connector_spark.streaming import windows as W

    target = str(tmp_path / "state")
    # run 0: baseline over users 1..8 (all 4 buckets live)
    rid0 = W.begin_batch_run(target, num_buckets=4, fingerprint="fp0")
    W.agg_state_merge(_mk(spark, [(i, i, float(i)) for i in range(1, 9)]),
                      rid0, path=target, keys=["user_id"],
                      value_col="value", num_buckets=4)
    W.end_batch_run(target)
    base = _state(spark, target)

    # run 1: crash after the FIRST bucket's swap completes (each live
    # bucket costs two renames: live->old, staged->live)
    calls = {"n": 0}
    real_rename = os_mod.rename

    def flaky_rename(src, dst):
        if f"{W._UPSERT_BUCKET_COL}=" in str(dst) or \
                W._UPSERT_OLD_PREFIX in str(dst):
            calls["n"] += 1
            if calls["n"] == 3:
                raise OSError("injected mid-swap crash")
        return real_rename(src, dst)

    batch1 = _mk(spark, [(100 + i, i, 10.0) for i in range(1, 9)])
    rid1 = W.begin_batch_run(target, num_buckets=4, fingerprint="fp1")
    monkeypatch.setattr(os_mod, "rename", flaky_rename)
    with pytest.raises(OSError, match="injected"):
        W.agg_state_merge(batch1, rid1, path=target, keys=["user_id"],
                          value_col="value", num_buckets=4)
    monkeypatch.setattr(os_mod, "rename", real_rename)

    # changed input on a partially-applied run: no safe choice -> raise
    with pytest.raises(ValueError, match="partially applied"):
        W.begin_batch_run(target, num_buckets=4, fingerprint="fp2")

    # the SAME input resumes the claimed id and converges exactly-once
    assert W.begin_batch_run(target, num_buckets=4,
                             fingerprint="fp1") == rid1
    W.agg_state_merge(batch1, rid1, path=target, keys=["user_id"],
                      value_col="value", num_buckets=4)
    W.end_batch_run(target)
    want = {u: (n + 1, t + 10.0) for u, (n, t) in base.items()}
    assert _state(spark, target) == want

    # and only now does the new input claim fresh and apply
    rid2 = W.begin_batch_run(target, num_buckets=4, fingerprint="fp2")
    assert rid2 > rid1
    W.agg_state_merge(_mk(spark, [(200, 1, 1.0)]), rid2, path=target,
                      keys=["user_id"], value_col="value", num_buckets=4)
    W.end_batch_run(target)
    want[1] = (want[1][0] + 1, want[1][1] + 1.0)
    assert _state(spark, target) == want


def test_cli_once_nonzero_when_a_pipeline_fails_to_build(spark, tmp_path):
    """--once must exit non-zero when a configured pipeline never
    started (build failure is isolated per-pipeline, mirroring the
    reference — but a batch invocation reporting success after a
    config typo would look like a clean no-op to schedulers)."""
    import yaml

    from universal_data_connector_spark import cli

    inp = tmp_path / "in"
    inp.mkdir()
    _write(f"{inp}/a.txt", "hello")
    good = {"name": "good",
            "source": {"type": "file",
                       "properties": {"path": str(inp),
                                      "pattern": "*.txt"}},
            "sink": {"type": "file",
                     "properties": {"path": str(tmp_path / "out")}}}
    bad = {"name": "bad",
           "source": {"type": "file", "properties": {}},  # no path
           "sink": {"type": "file",
                    "properties": {"path": str(tmp_path / "out2")}}}

    cfg_ok = tmp_path / "ok.yaml"
    cfg_ok.write_text(yaml.safe_dump({"pipelines": [good]}))
    assert cli.main(["--config", str(cfg_ok), "--once"]) == 0

    cfg_mixed = tmp_path / "mixed.yaml"
    cfg_mixed.write_text(yaml.safe_dump({"pipelines": [good, bad]}))
    assert cli.main(["--config", str(cfg_mixed), "--once"]) == 1


# ---------------------------------------------------------------------------
# 2. _sql_transform literal lexing
# ---------------------------------------------------------------------------

def test_sql_transform_double_quoted_literal_preserved(spark):
    from universal_data_connector_spark.engine import _sql_transform

    df = spark.range(3).toDF("id")
    out = _sql_transform(df, {"query": (
        'SELECT "has _input inside" AS a, count(*) AS n FROM _input')})
    row = out.collect()[0]
    assert row.a == "has _input inside"
    assert row.n == 3


def test_sql_transform_backslash_escaped_quote_stays_in_literal(spark):
    from universal_data_connector_spark.engine import _sql_transform

    df = spark.range(2).toDF("id")
    out = _sql_transform(df, {"query": (
        "SELECT 'it\\'s _input' AS a, count(*) AS n FROM _input")})
    row = out.collect()[0]
    assert row.a == "it's _input"
    assert row.n == 2


def test_sql_transform_double_quoted_identifier_mode_rewrites(spark):
    """Under spark.sql.ansi.doubleQuotedIdentifiers (+ ANSI mode,
    which Spark requires for it to take effect), "_input" is the
    frame REFERENCE and must be rewritten to the temp view."""
    from universal_data_connector_spark.engine import _sql_transform

    conf = "spark.sql.ansi.doubleQuotedIdentifiers"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "true")
    try:
        df = spark.range(4).toDF("id")
        out = _sql_transform(
            df, {"query": 'SELECT count(*) AS n FROM "_input"'})
        assert out.collect()[0].n == 4
    finally:
        spark.conf.set(conf, old)


def test_sql_transform_dqi_without_ansi_keeps_literal(spark):
    """doubleQuotedIdentifiers=true with ANSI mode OFF is inert to
    Spark's lexer (double-quoted text stays a string literal), so the
    rewriter must keep skipping it — the review repro showed the temp
    view name leaking into literal content otherwise."""
    from universal_data_connector_spark.engine import _sql_transform

    ansi, dqi = "spark.sql.ansi.enabled", \
        "spark.sql.ansi.doubleQuotedIdentifiers"
    old_ansi, old_dqi = spark.conf.get(ansi), spark.conf.get(dqi)
    spark.conf.set(ansi, "false")
    spark.conf.set(dqi, "true")
    try:
        df = spark.range(2).toDF("id")
        out = _sql_transform(df, {"query": (
            'SELECT "has _input inside" AS a, count(*) AS n '
            'FROM _input')})
        row = out.collect()[0]
        assert row.a == "has _input inside"
        assert row.n == 2
    finally:
        spark.conf.set(ansi, old_ansi)
        spark.conf.set(dqi, old_dqi)


# ---------------------------------------------------------------------------
# 3. upsert with map-typed payload columns
# ---------------------------------------------------------------------------

def _map_df(spark, rows):
    return spark.createDataFrame(
        rows, "k bigint, ord bigint, attrs map<string,string>")


def test_upsert_map_column_merges(spark, tmp_path):
    """A map-carrying upsert target must merge (ADVICE r8: xxhash64
    over a MapType raised at runtime) and keep the latest row."""
    from universal_data_connector_spark.streaming.windows import (
        upsert_merge,
    )

    target = str(tmp_path / "state")
    upsert_merge(_map_df(spark, [(1, 1, {"v": "old"})]), 0,
                 path=target, keys=["k"], order_col="ord", num_buckets=4)
    upsert_merge(_map_df(spark, [(1, 2, {"v": "new"}),
                                 (2, 1, {"v": "x"})]), 0,
                 path=target, keys=["k"], order_col="ord", num_buckets=4)
    rows = {r.k: (r.ord, dict(r.attrs))
            for r in spark.read.parquet(target).drop("udc_kb").collect()}
    assert rows == {1: (2, {"v": "new"}), 2: (1, {"v": "x"})}


def test_market_basket_cap_bounds_heavy_tail_fanout(spark):
    """VERDICT r8 item 3: a degenerate 10k-item basket must not
    produce C(10k, 2) pairs through one key. The deterministic
    per-basket cap keeps the LOWEST part keys, so the survivor set —
    and therefore the pair fanout — is bounded and replayable."""
    from pyspark.sql import functions as F

    from universal_data_connector_spark.plans.catalog import (
        _capped_basket,
    )

    rows = [(1, p) for p in range(300, 0, -1)]      # heavy-tail basket
    rows += [(2, 5), (2, 9)]                        # normal basket
    df = spark.createDataFrame(rows, "l_orderkey bigint, l_partkey bigint")
    capped = _capped_basket(df, cap=5)
    got = {(r.l_orderkey, r.l_partkey) for r in capped.collect()}
    # lowest 5 keys survive for the heavy basket; small basket intact
    assert got == {(1, 1), (1, 2), (1, 3), (1, 4), (1, 5),
                   (2, 5), (2, 9)}
    a, b = capped.alias("a"), capped.alias("b")
    pairs = a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                   & (F.col("a.l_partkey") < F.col("b.l_partkey")))
    assert pairs.count() == 10 + 1  # C(5,2) + C(2,2)


def test_upsert_map_column_tie_deterministic_across_replays(
        spark, tmp_path):
    """Equal order_col with map payloads: the to_json tiebreak must
    pick the same winner on independent merges of the same batch."""
    from universal_data_connector_spark.streaming.windows import (
        upsert_merge,
    )

    batch = [(1, 5, {"v": "aaa"}), (1, 5, {"v": "bbb"})]
    winners = []
    for sub in ("t1", "t2"):
        target = str(tmp_path / sub)
        upsert_merge(_map_df(spark, batch), 0, path=target, keys=["k"],
                     order_col="ord", num_buckets=4)
        rows = spark.read.parquet(target).collect()
        assert len(rows) == 1
        winners.append(dict(rows[0].attrs))
    assert winners[0] == winners[1]
