"""In-sandbox Kafka e2e against the loopback broker (VERDICT r9
item 2 — graduate S4/K4 the way moto graduated S5/K5).

``tests/test_external_infra.py`` keeps the env-gated REAL-broker tests
(actual-infra proof); these run on every test run with no broker: the
directory-backed loopback in ``kafka_loopback.py`` gives the engine's
kafka source/sink code paths — option mapping, value-first projection,
metadata columns, key-AND-value record shaping, DefaultPartitioner
keyed routing, consumer-group offset commits — a full produce/consume
round-trip, including YAML kafka -> filter -> kafka through the CLI
and the commit-after-sink-success at-least-once contract.
"""

from __future__ import annotations

import pytest


def _props(dir_, topic, **extra):
    return {"bootstrapServers": f"loopback://{dir_}", "topic": topic,
            **extra}


# ---------------------------------------------------------------------------
# broker primitives
# ---------------------------------------------------------------------------

def test_murmur2_matches_32bit_reference_properties():
    """Structural pins on the partitioner hash: stable, signed-32-bit,
    sensitive to every byte, and the empty input hashes to the seeded
    finalizer value the Java algorithm produces for length 0."""
    from universal_data_connector_spark.kafka_loopback import (
        murmur2,
        partition_for,
    )

    vals = [murmur2(k.encode()) for k in
            ("", "a", "ab", "abc", "abcd", "kafka", "kafka-loopback")]
    assert all(-(2 ** 31) <= v < 2 ** 31 for v in vals)
    assert len(set(vals)) == len(vals)  # byte-sensitive
    assert murmur2(b"kafka") == murmur2(b"kafka")  # deterministic
    # keyed routing is non-negative and stable across calls
    for n in (1, 3, 16):
        p = partition_for(b"user-42", n)
        assert 0 <= p < n
        assert p == partition_for(b"user-42", n)
    # null key round-robins on the producer counter
    assert [partition_for(None, 3, counter=i) for i in range(4)] \
        == [0, 1, 2, 0]


def test_append_read_offsets_and_group_commit(tmp_path):
    from universal_data_connector_spark import kafka_loopback as KL

    d = str(tmp_path)
    KL.ensure_topic(d, "t", 2)
    KL.append_records(d, "t", [(b"k1", b"v1"), (b"k1", b"v2"),
                               (None, b"v3")], 2)
    ends = KL.end_offsets(d, "t")
    assert sum(ends.values()) == 3
    # same key -> same partition, consecutive offsets in append order
    p = KL.partition_for(b"k1", 2)
    recs = KL.read_slice(d, "t", p, 0, ends[p])
    k1 = [(r[1], r[4]) for r in recs if r[0] == b"k1"]
    assert k1 == [(b"v1", 0), (b"v2", 1)]

    KL.commit_offsets(d, "g1", {"t/0": ends[0]})
    KL.commit_offsets(d, "g1", {"t/1": ends[1]})  # merge, not replace
    assert KL.committed_offsets(d, "g1") == {"t/0": ends[0],
                                             "t/1": ends[1]}


# ---------------------------------------------------------------------------
# source: poll semantics
# ---------------------------------------------------------------------------

def test_source_reads_values_with_metadata_columns(spark, tmp_path):
    from universal_data_connector_spark import kafka_loopback as KL
    from universal_data_connector_spark.sources.kafka import kafka_source

    d = str(tmp_path)
    KL.ensure_topic(d, "in", 3)
    KL.append_records(d, "in", [(f"k{i}".encode(), f"m{i}".encode())
                                for i in range(6)], 3)

    df = kafka_source(spark, _props(d, "in"), streaming=False)
    rows = df.collect()
    assert {r.content for r in rows} == {f"m{i}" for i in range(6)}
    for r in rows:
        assert r.message_key == "k" + r.content[1:]
        assert r.topic == "in"
        assert r.partition == KL.partition_for(
            r.message_key.encode(), 3)
        assert r.source_file == "KAFKA_SOURCE"
        assert r.ts is not None
    # per-partition offsets are dense from 0
    by_part = {}
    for r in rows:
        by_part.setdefault(r.partition, []).append(r.offset)
    for offs in by_part.values():
        assert sorted(offs) == list(range(len(offs)))


def _poll_cfg(props, view):
    """kafka source -> memory sink named ``view``: one engine run is
    one poll, with the group commit after the sink."""
    from universal_data_connector_spark.config import (
        PipelineConfig,
        SinkConfig,
        SourceConfig,
    )

    return PipelineConfig(name=f"poll-{view}",
                          source=SourceConfig("kafka", props),
                          sink=SinkConfig("memory", {"queryName": view}))


def test_source_group_offsets_make_runs_incremental(spark, tmp_path):
    from universal_data_connector_spark import engine
    from universal_data_connector_spark import kafka_loopback as KL

    d = str(tmp_path)
    KL.append_records(d, "t", [(None, b"a"), (None, b"b")], 1)
    cfg = _poll_cfg(_props(d, "t", groupId="g"), "incr_poll")

    def poll():
        engine.run(spark, cfg, streaming=False)
        return sorted(r.content for r in spark.table("incr_poll").collect())

    assert poll() == ["a", "b"]
    KL.append_records(d, "t", [(None, b"c")], 1)
    assert poll() == ["c"]
    # nothing new -> empty poll
    assert poll() == []


def test_source_latest_reset_skips_backlog(spark, tmp_path):
    from universal_data_connector_spark import kafka_loopback as KL
    from universal_data_connector_spark.sources.kafka import kafka_source

    d = str(tmp_path)
    KL.append_records(d, "t", [(None, b"old")], 1)
    # reference spelling "largest" must translate like the real path
    df = kafka_source(spark, _props(d, "t", autoOffsetReset="largest"),
                      streaming=False)
    assert df.collect() == []


def test_source_streaming_loopback_rejected(spark, tmp_path):
    from universal_data_connector_spark.sources.kafka import kafka_source

    with pytest.raises(ValueError, match="batch-only"):
        kafka_source(spark, _props(str(tmp_path), "t"), streaming=True)


# ---------------------------------------------------------------------------
# sink: record shaping + keyed routing
# ---------------------------------------------------------------------------

def test_sink_content_as_key_and_value(spark, tmp_path):
    """The reference's item-as-key-AND-value contract
    (KafkaSinkContext.java:50) through the loopback produce path."""
    from universal_data_connector_spark import kafka_loopback as KL
    from universal_data_connector_spark.sinks.kafka import kafka_sink

    d = str(tmp_path)
    df = spark.createDataFrame([("hello",), ("world",)],
                               "content string")
    kafka_sink(df, _props(d, "out", numPartitions="2"))

    ends = KL.end_offsets(d, "out")
    recs = [r for p, e in ends.items()
            for r in KL.read_slice(d, "out", p, 0, e)]
    assert sorted((r[0], r[1]) for r in recs) == [
        (b"hello", b"hello"), (b"world", b"world")]
    # keyed routing matches DefaultPartitioner
    for r in recs:
        assert r[3] == KL.partition_for(r[0], 2)


def test_sink_explicit_key_value_columns_honored(spark, tmp_path):
    from universal_data_connector_spark import kafka_loopback as KL
    from universal_data_connector_spark.sinks.kafka import kafka_sink

    d = str(tmp_path)
    df = spark.createDataFrame([("k1", "v1"), ("k2", "v2")],
                               "key string, value string")
    kafka_sink(df, _props(d, "out"))
    recs = KL.read_slice(d, "out", 0, 0,
                         KL.end_offsets(d, "out")[0])
    assert sorted((r[0], r[1]) for r in recs) == [
        (b"k1", b"v1"), (b"k2", b"v2")]


# ---------------------------------------------------------------------------
# engine e2e: YAML kafka -> filter -> kafka via the CLI, exactly-once
# across runs through group offsets, commit only after sink success
# ---------------------------------------------------------------------------

def _pipeline_yaml(tmp_path, d, group="cli-g"):
    import yaml

    cfg = {"pipelines": [{
        "name": "kafka-loop",
        "source": {"type": "kafka", "properties": {
            "bootstrapServers": f"loopback://{d}", "topic": "src",
            "groupId": group}},
        "transformations": [{"type": "filter", "properties": {
            "condition": "keep"}}],
        "sink": {"type": "kafka", "properties": {
            "bootstrapServers": f"loopback://{d}", "topic": "dst"}},
    }]}
    path = tmp_path / "kafka.yaml"
    path.write_text(yaml.safe_dump(cfg))
    return str(path)


def test_cli_kafka_to_kafka_roundtrip_incremental(spark, tmp_path):
    from universal_data_connector_spark import cli
    from universal_data_connector_spark import kafka_loopback as KL

    d = str(tmp_path / "broker")
    KL.append_records(d, "src", [(None, b"keep me"), (None, b"drop me"),
                                 (None, b"also keep")], 1)
    cfg = _pipeline_yaml(tmp_path, d)

    assert cli.main(["--config", cfg, "--once"]) == 0
    ends = KL.end_offsets(d, "dst")
    vals = sorted(r[1] for p, e in ends.items()
                  for r in KL.read_slice(d, "dst", p, 0, e))
    assert vals == [b"also keep", b"keep me"]

    # second run: group offsets committed -> no duplicates
    assert cli.main(["--config", cfg, "--once"]) == 0
    ends2 = KL.end_offsets(d, "dst")
    assert sum(ends2.values()) == 2

    # new records picked up incrementally
    KL.append_records(d, "src", [(None, b"keep too")], 1)
    assert cli.main(["--config", cfg, "--once"]) == 0
    ends3 = KL.end_offsets(d, "dst")
    vals3 = sorted(r[1] for p, e in ends3.items()
                   for r in KL.read_slice(d, "dst", p, 0, e))
    assert vals3 == [b"also keep", b"keep me", b"keep too"]


def test_failed_sink_leaves_offsets_uncommitted(spark, tmp_path):
    """Commit-after-sink-success: a failing sink must NOT advance the
    group, so the rerun re-polls the same records (at-least-once) —
    the manifest-record ordering applied to kafka."""
    from universal_data_connector_spark import engine
    from universal_data_connector_spark import kafka_loopback as KL
    from universal_data_connector_spark.config import (
        PipelineConfig,
        SinkConfig,
        SourceConfig,
    )

    d = str(tmp_path / "broker")
    KL.append_records(d, "src", [(None, b"keep me")], 1)
    cfg = PipelineConfig(
        name="p",
        source=SourceConfig("kafka", {
            "bootstrapServers": f"loopback://{d}", "topic": "src",
            "groupId": "g"}),
        sink=SinkConfig("jdbc", {}))  # no url/table -> sink raises
    with pytest.raises(Exception):
        engine.run(spark, cfg, streaming=False)
    assert KL.committed_offsets(d, "g") == {}

    # healthy rerun delivers the record and commits
    cfg2 = PipelineConfig(
        name="p",
        source=SourceConfig("kafka", {
            "bootstrapServers": f"loopback://{d}", "topic": "src",
            "groupId": "g"}),
        sink=SinkConfig("kafka", {
            "bootstrapServers": f"loopback://{d}", "topic": "dst"}))
    engine.run(spark, cfg2, streaming=False)
    assert KL.end_offsets(d, "dst") == {0: 1}
    assert KL.committed_offsets(d, "g") == {"src/0": 1}


# ---------------------------------------------------------------------------
# round-10 review hardening: independent murmur2 cross-check, absent
# topic, empty-commit
# ---------------------------------------------------------------------------

def test_murmur2_cross_checked_against_unsigned_formulation():
    """The broker's signed-32-bit transcription of Kafka's murmur2 is
    pinned against an INDEPENDENT unsigned-arithmetic formulation of
    the same public algorithm — a transcription bug in either sign
    handling, the logical shifts, or the tail bytes would diverge on
    random inputs."""
    import random

    from universal_data_connector_spark.kafka_loopback import murmur2

    def unsigned(data: bytes) -> int:
        m32, m, r = 0xFFFFFFFF, 0x5BD1E995, 24
        h = (0x9747B28C ^ len(data)) & m32
        i = 0
        for _ in range(len(data) // 4):
            k = int.from_bytes(data[i:i + 4], "little")
            i += 4
            k = (k * m) & m32
            k ^= k >> r
            k = (k * m) & m32
            h = ((h * m) & m32) ^ k
        left = len(data) & 3
        if left == 3:
            h ^= data[i + 2] << 16
        if left >= 2:
            h ^= data[i + 1] << 8
        if left >= 1:
            h = ((h ^ data[i]) * m) & m32
        h ^= h >> 13
        h = (h * m) & m32
        h ^= h >> 15
        return h - 0x100000000 if h >= 0x80000000 else h

    rng = random.Random(7)
    for _ in range(500):
        b = bytes(rng.randrange(256)
                  for _ in range(rng.randrange(0, 40)))
        assert murmur2(b) == unsigned(b)


def test_source_absent_topic_reads_empty(spark, tmp_path):
    """Polling a topic nobody has produced to yields an empty frame
    with the full projection schema — not an error — and a group
    commit on it is a harmless no-op."""
    from universal_data_connector_spark import engine
    from universal_data_connector_spark import kafka_loopback as KL

    d = str(tmp_path)
    engine.run(spark, _poll_cfg(_props(d, "ghost", groupId="g"),
                                "ghost_poll"), streaming=False)
    df = spark.table("ghost_poll")
    assert df.columns == ["content", "message_key", "topic",
                          "partition", "offset", "ts", "source_file"]
    assert df.collect() == []
    assert KL.committed_offsets(d, "g") == {}


def test_sink_null_value_tombstone_roundtrip(spark, tmp_path):
    """A NULL record value is a Kafka TOMBSTONE (compacted-topic
    delete); Spark's real kafka writer produces it, so the loopback
    must round-trip it instead of crashing the task (r10 review)."""
    from universal_data_connector_spark import kafka_loopback as KL
    from universal_data_connector_spark.sinks.kafka import kafka_sink
    from universal_data_connector_spark.sources.kafka import kafka_source

    d = str(tmp_path)
    df = spark.createDataFrame([("k1", "v1"), ("k2", None)],
                               "key string, value string")
    kafka_sink(df, _props(d, "out"))
    recs = KL.read_slice(d, "out", 0, 0, KL.end_offsets(d, "out")[0])
    assert sorted((r[0], r[1]) for r in recs) == [
        (b"k1", b"v1"), (b"k2", None)]
    rows = {r.message_key: r.content
            for r in kafka_source(spark, _props(d, "out"),
                                  streaming=False).collect()}
    assert rows == {"k1": "v1", "k2": None}


def test_source_timestamp_is_an_instant_not_wall_clock(spark, tmp_path):
    """The stored epoch millis must surface as the same INSTANT under
    any session time zone — a tz-naive pandas hop would shift it by
    the session offset (r10 review)."""
    import calendar

    from universal_data_connector_spark import kafka_loopback as KL
    from universal_data_connector_spark.sources.kafka import kafka_source

    d = str(tmp_path)
    KL.append_records(d, "t", [(None, b"x")], 1)
    raw = KL.read_slice(d, "t", 0, 0, 1)[0]
    produced_ms = raw[5]

    from pyspark.sql import functions as F

    tz_conf = "spark.sql.session.timeZone"
    old_tz = spark.conf.get(tz_conf)
    try:
        for tz in ("UTC", "America/New_York"):
            spark.conf.set(tz_conf, tz)
            # JVM-side epoch extraction: tz-independent reading of the
            # stored instant (python collect() renders naive local
            # datetimes, which would re-smuggle a tz into the check)
            got_ms = (kafka_source(spark, _props(d, "t"),
                                   streaming=False)
                      .select(F.unix_millis("ts").alias("ms"))
                      .collect()[0].ms)
            assert got_ms == produced_ms, (tz, got_ms, produced_ms)
    finally:
        spark.conf.set(tz_conf, old_tz)


def test_ensure_topic_exclusive_claim_keeps_first_count(tmp_path):
    from universal_data_connector_spark import kafka_loopback as KL

    d = str(tmp_path)
    assert KL.ensure_topic(d, "t", 1) == 1
    # a concurrent creator with a different count LOSES the claim and
    # adopts the winner's partitioning (os.link, not rename-replace)
    assert KL.ensure_topic(d, "t", 4) == 1
    KL.append_records(d, "t", [(b"k", b"v")], 4)
    assert KL.end_offsets(d, "t") == {0: 1}


def test_end_offsets_sidecar_self_heals(tmp_path):
    """end_offsets is O(1) via the .idx sidecar, and a missing, stale,
    or corrupt sidecar (crash between append and idx update) falls
    back to a recount — the count can lag, never lie (r10 review)."""
    import json as json_mod
    import os as os_mod

    from universal_data_connector_spark import kafka_loopback as KL

    d = str(tmp_path)
    KL.append_records(d, "t", [(None, b"a"), (None, b"b")], 1)
    log = os_mod.path.join(d, "t", "p0.jsonl")
    assert KL.end_offsets(d, "t") == {0: 2}

    os_mod.remove(log + ".idx")            # missing -> recount
    assert KL.end_offsets(d, "t") == {0: 2}

    with open(log, "a") as fh:             # crash-simulated raw append
        fh.write(json_mod.dumps({"k": None, "v": None, "ts": 0}) + "\n")
    assert KL.end_offsets(d, "t") == {0: 3}  # stale idx -> recount

    with open(log + ".idx", "w") as fh:
        fh.write("not json")               # corrupt -> recount
    assert KL.end_offsets(d, "t") == {0: 3}

    # the next locked append repairs the sidecar
    KL.append_records(d, "t", [(None, b"c")], 1)
    with open(log + ".idx") as fh:
        rec = json_mod.load(fh)
    assert rec["lines"] == 4
    assert rec["bytes"] == os_mod.path.getsize(log)
    assert KL.end_offsets(d, "t") == {0: 4}


def test_kafka_aggstate_crash_between_commit_and_intent_reclaims(
        spark, tmp_path, monkeypatch):
    """r10 review (second pass): the offset commit sits in the
    manifest_record slot — AFTER the sink, BEFORE end_batch_run — and
    the loopback source supplies an input fingerprint (its polled
    offset slices). A crash between commit and intent-clear therefore
    pairs the old run id with a CHANGED next poll, which the
    fingerprint guard turns into a clean reclaim; nothing is double-
    applied and nothing is dropped."""
    from universal_data_connector_spark import engine
    from universal_data_connector_spark import kafka_loopback as KL
    from universal_data_connector_spark.config import (
        PipelineConfig,
        SinkConfig,
        SourceConfig,
        TransformationConfig,
    )
    from universal_data_connector_spark.streaming import windows as W

    d = str(tmp_path / "broker")
    state = str(tmp_path / "state")
    KL.append_records(d, "src", [(b"a", b"1"), (b"a", b"2"),
                                 (b"b", b"5")], 1)

    def cfg():
        return PipelineConfig(
            name="p",
            source=SourceConfig("kafka", {
                "bootstrapServers": f"loopback://{d}", "topic": "src",
                "groupId": "g"}),
            sink=SinkConfig("agg_state", {
                "path": state, "keys": "message_key",
                "valueColumn": "val", "numBuckets": 4}),
            transformations=[TransformationConfig("sql", {
                "query": "SELECT message_key, CAST(content AS DOUBLE) "
                         "AS val FROM _input"})],
        )

    def st():
        return {r.message_key: (r.n, float(r.total))
                for r in spark.read.parquet(state).collect()}

    engine.run(spark, cfg(), streaming=False)
    assert st() == {"a": (2, 3.0), "b": (1, 5.0)}
    assert KL.committed_offsets(d, "g") == {"src/0": 3}

    # run 2 crashes AFTER the offset commit, BEFORE the intent clears
    KL.append_records(d, "src", [(b"a", b"10")], 1)
    real_end = W.end_batch_run

    def boom(path):
        raise OSError("injected crash before intent clear")

    monkeypatch.setattr(W, "end_batch_run", boom)
    with pytest.raises(OSError, match="injected"):
        engine.run(spark, cfg(), streaming=False)
    monkeypatch.setattr(W, "end_batch_run", real_end)
    # the merge and the commit both landed before the crash
    assert st() == {"a": (3, 13.0), "b": (1, 5.0)}
    assert KL.committed_offsets(d, "g") == {"src/0": 4}

    # rerun: the next poll (empty) fingerprints differently from the
    # stored intent; the old run is fully applied -> reclaim, no
    # double-apply, no drop
    engine.run(spark, cfg(), streaming=False)
    assert st() == {"a": (3, 13.0), "b": (1, 5.0)}

    # and a further record still lands exactly once
    KL.append_records(d, "src", [(b"b", b"7")], 1)
    engine.run(spark, cfg(), streaming=False)
    assert st() == {"a": (3, 13.0), "b": (2, 12.0)}


def test_concurrent_producers_no_torn_lines(tmp_path):
    """Eight threads append batches to ONE partition concurrently; the
    flock-serialized single-write appends must leave a log where every
    line parses, counts add up, and the sidecar agrees."""
    import threading

    from universal_data_connector_spark import kafka_loopback as KL

    d = str(tmp_path)
    KL.ensure_topic(d, "t", 1)
    per_thread = 25
    n_threads = 8
    errs = []

    def produce(tid):
        try:
            for i in range(per_thread):
                KL.append_records(
                    d, "t",
                    [(f"k{tid}".encode(),
                      (f"payload-{tid}-{i}-" + "x" * 200).encode())], 1)
        except Exception as exc:  # noqa: BLE001
            errs.append(exc)

    threads = [threading.Thread(target=produce, args=(t,))
               for t in range(n_threads)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    total = n_threads * per_thread
    assert KL.end_offsets(d, "t") == {0: total}
    recs = KL.read_slice(d, "t", 0, 0, total)
    assert len(recs) == total  # every line parsed
    # per-producer payload order is preserved (batch appends are
    # atomic under the lock; offsets strictly increase per producer)
    for tid in range(n_threads):
        mine = [r[1].decode() for r in recs
                if r[0] == f"k{tid}".encode()]
        assert mine == [f"payload-{tid}-{i}-" + "x" * 200
                        for i in range(per_thread)]


def test_broker_roundtrip_property(tmp_path):
    """Hypothesis-style round-trip over adversarial key/value bytes
    (newlines, quotes, NUL, invalid UTF-8, empty): base64-in-JSON
    framing must return every record byte-exact with dense offsets."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from universal_data_connector_spark import kafka_loopback as KL

    rec = st.tuples(
        st.one_of(st.none(), st.binary(max_size=64)),
        st.one_of(st.none(), st.binary(max_size=256)))

    @settings(max_examples=30, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(batch=st.lists(rec, min_size=1, max_size=20),
           n_parts=st.integers(min_value=1, max_value=4))
    def check(batch, n_parts):
        import tempfile
        with tempfile.TemporaryDirectory(dir=str(tmp_path)) as d:
            KL.append_records(d, "t", batch, n_parts)
            ends = KL.end_offsets(d, "t")
            got = [r for p in sorted(ends)
                   for r in KL.read_slice(d, "t", p, 0, ends[p])]
            assert sorted(
                (r[0] or b"", r[1] or b"", r[1] is None) for r in got
            ) == sorted(
                (k or b"", v or b"", v is None) for k, v in batch)
            for p, e in ends.items():
                offs = [r[4] for r in got if r[3] == p]
                assert sorted(offs) == list(range(e))

    check()


def test_cli_kafka_dedup_state_drops_replayed_content(spark, tmp_path):
    """Kafka source composed with dedup_state: a record whose VALUE
    already shipped in an earlier run is dropped even though it sits
    at a NEW offset — group offsets give at-least-once per record,
    the seen store upgrades it to exactly-once per content."""
    import yaml

    from universal_data_connector_spark import cli
    from universal_data_connector_spark import kafka_loopback as KL

    d = str(tmp_path / "broker")
    KL.append_records(d, "src", [(None, b"payload A"),
                                 (None, b"payload B")], 1)
    cfg = {"pipelines": [{
        "name": "kafka-dedup",
        "source": {"type": "kafka", "properties": {
            "bootstrapServers": f"loopback://{d}", "topic": "src",
            "groupId": "dedup-g"}},
        "transformations": [{"type": "dedup_state", "properties": {
            "stateDir": str(tmp_path / "seen"), "keys": "content",
            "numBuckets": "4"}}],
        "sink": {"type": "kafka", "properties": {
            "bootstrapServers": f"loopback://{d}", "topic": "dst"}},
    }]}
    path = tmp_path / "kafka-dedup.yaml"
    path.write_text(yaml.safe_dump(cfg))

    assert cli.main(["--config", str(path), "--once"]) == 0
    ends = KL.end_offsets(d, "dst")
    assert sum(ends.values()) == 2

    # a producer re-sends payload A (new offset, past the committed
    # group position) plus one new payload: only the new one ships
    KL.append_records(d, "src", [(None, b"payload A"),
                                 (None, b"payload C")], 1)
    assert cli.main(["--config", str(path), "--once"]) == 0
    ends2 = KL.end_offsets(d, "dst")
    vals = sorted(r[1] for p, e in ends2.items()
                  for r in KL.read_slice(d, "dst", p, 0, e))
    assert vals == [b"payload A", b"payload B", b"payload C"]
