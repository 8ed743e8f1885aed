"""Round-6 regression tests.

1. events.ts must load as TimestampType (watermark-legal) regardless of
   the parquet layout the testdata generator used — TIMESTAMP(NANOS)
   (read as bigint under nanosAsLong) or naive TIMESTAMP(MICROS) (read
   as TIMESTAMP_NTZ unless NTZ inference is pinned off). Round 5 broke
   `stream_stateful_totals` when the testdata switched layouts because
   only the nanos case was guarded (VERDICT r5 item 1).
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tests.conftest import SF_DIR


def test_events_ts_is_watermark_compatible(spark):
    """tables.load must yield TimestampType for events.ts — the exact
    type withWatermark requires (TIMESTAMP_NTZ and bigint both throw
    EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE / unsupported)."""
    from universal_data_connector_spark import tables

    df = tables.load(spark, SF_DIR, "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)


def test_events_stream_watermark_accepts_ts(spark):
    """The exact readStream + withWatermark path stream_stateful_totals
    uses must analyze cleanly (this is what threw in round 5)."""
    from universal_data_connector_spark.tables import watermarkable_ts

    raw_schema = spark.read.parquet(f"{SF_DIR}/events.parquet").schema
    stream = (spark.readStream.schema(raw_schema)
              .option("pathGlobFilter", "events.parquet").parquet(SF_DIR))
    stream = watermarkable_ts(stream, "ts")
    # withWatermark analyzes eagerly enough to throw on a bad type.
    wm = stream.withWatermark("ts", "1 hour")
    assert isinstance(wm.schema["ts"].dataType, T.TimestampType)


def test_watermarkable_ts_ntz_cast_value_preserving(spark):
    """NTZ → LTZ cast under the pinned UTC session TZ keeps wall-clock
    values identical (the correctness condition the fix relies on)."""
    from universal_data_connector_spark.session import pin
    from universal_data_connector_spark.tables import watermarkable_ts

    pin(spark)
    naive = datetime.datetime(2024, 3, 1, 12, 34, 56, 789000)
    df = spark.createDataFrame(
        [(naive,)], T.StructType([T.StructField("ts", T.TimestampNTZType())]))
    out = watermarkable_ts(df, "ts")
    assert isinstance(out.schema["ts"].dataType, T.TimestampType)
    rendered = out.select(
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSS").alias("s")
    ).collect()[0]["s"]
    assert rendered == "2024-03-01 12:34:56.789"


def test_watermarkable_ts_passthrough_on_timestamp(spark):
    """Already-TimestampType columns pass through untouched (no extra
    projection node for the common pinned-session path)."""
    from universal_data_connector_spark.tables import watermarkable_ts

    df = spark.sql("SELECT timestamp'2024-01-01 00:00:00' AS ts")
    assert watermarkable_ts(df, "ts") is df


# ---------------------------------------------------------------------------
# 3. S3 raw-object fallback (round-4 ADVICE low): without boto3, raw
#    file-mode rows must be written through Hadoop's FileSystem at the
#    real URI — exact bytes, no trailing newline, raw key names — not
#    into a local directory literally named "s3a:/...".


def test_hadoop_write_objects_exact_bytes(tmp_path, spark):
    from universal_data_connector_spark.sinks.files import (
        _hadoop_write_objects,
    )

    df = spark.createDataFrame(
        [("/in/a.txt", "hello"), ("/in/b.csv", "x,y\n1,2")],
        "source_file string, content string")
    base = f"file:{tmp_path}/objs"
    _hadoop_write_objects(df, base)
    # raw filenames, exact bytes — no extension swap, no added newline
    assert (tmp_path / "objs" / "a.txt").read_bytes() == b"hello"
    assert (tmp_path / "objs" / "b.csv").read_bytes() == b"x,y\n1,2"


def test_s3_sink_no_local_s3a_directory(monkeypatch, tmp_path, spark):
    """The old fallback created a LOCAL dir named 's3a:/...' in the
    CWD. The new one must never touch the local filesystem with the
    URI as a path."""
    import sys

    from universal_data_connector_spark.sinks import files as sf

    monkeypatch.setitem(sys.modules, "boto3", None)
    monkeypatch.chdir(tmp_path)
    seen = {}
    monkeypatch.setattr(sf, "_hadoop_write_objects",
                        lambda df, uri: seen.setdefault("uri", uri))
    df = spark.createDataFrame(
        [("a.txt", "TEXT", "hi")],
        "source_file string, file_type string, content string")
    sf.s3_sink(df, {"bucketName": "bkt", "prefix": "pre"}, streaming=False)
    assert seen["uri"] == "s3a://bkt/pre"
    assert not any("s3a:" in p.name for p in tmp_path.iterdir())


# ---------------------------------------------------------------------------
# 4. Archive-move claim (round-4 ADVICE low): _archive_dest must claim
#    the destination atomically so two pipelines sharing an archiveDir
#    can never pick the same name (check-then-move TOCTOU).


def test_archive_dest_claims_are_collision_free(tmp_path):
    import threading

    from universal_data_connector_spark.sources.files import _archive_dest

    archive = str(tmp_path / "arch")
    results = []
    lock = threading.Lock()

    def claim():
        d = _archive_dest("/src/x.txt", archive, None)
        with lock:
            results.append(d)

    threads = [threading.Thread(target=claim) for _ in range(16)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(results) == 16
    assert len(set(results)) == 16  # every claim got a distinct dest


def test_archive_consumed_concurrent_same_basename(tmp_path):
    """End-to-end: two concurrent archivals of same-named files into a
    shared archiveDir must preserve BOTH file contents."""
    import threading

    from universal_data_connector_spark.sources.files import _archive_consumed

    a_dir = tmp_path / "a"
    b_dir = tmp_path / "b"
    a_dir.mkdir()
    b_dir.mkdir()
    (a_dir / "x.txt").write_text("from-a")
    (b_dir / "x.txt").write_text("from-b")
    archive = str(tmp_path / "shared")

    threads = [
        threading.Thread(target=_archive_consumed,
                         args=([str(a_dir / "x.txt")], archive, str(a_dir))),
        threading.Thread(target=_archive_consumed,
                         args=([str(b_dir / "x.txt")], archive, str(b_dir))),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    archived = sorted((tmp_path / "shared").iterdir())
    contents = {p.read_text() for p in archived}
    assert len(archived) == 2
    assert contents == {"from-a", "from-b"}
    assert not (a_dir / "x.txt").exists() and not (b_dir / "x.txt").exists()
