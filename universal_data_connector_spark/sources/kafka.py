"""Kafka source: value-first, metadata available.

Reference S4 (``factory/source/KafkaSourceContext.java:48-56``) polls a
``KafkaConsumer`` and keeps only record *values*, discarding key /
topic / partition / offset / timestamp. This source exposes them all as
columns (they're free) but aliases ``value`` -> ``content`` so the
default pipeline surface matches the reference's value-only contract
(SURVEY.md §7.4.7).

Requires the spark-sql-kafka package on the classpath; construction is
declarative so the plan builds anywhere, and fails at execution with
Spark's own error if the connector jar is absent. The option mapping
and the projection are pure functions so the contract is testable
without a broker (tests/test_round3_fixes.py); only the broker I/O
itself is untestable in this container.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from universal_data_connector_spark.session import local_frame


def kafka_reader_options(props: dict) -> dict:
    """Reference consumer-config mapping (``KafkaSourceContext.java:
    27-41``): bootstrap servers + topic subscription, with the
    reference's legacy ``smallest``/``largest`` auto.offset.reset
    values translated to Spark's ``earliest``/``latest``."""
    offset = str(props.get("autoOffsetReset", "earliest"))
    offset = {"smallest": "earliest", "largest": "latest"}.get(offset, offset)
    opts = {
        "kafka.bootstrap.servers": props["bootstrapServers"],
        "subscribe": props["topic"],
        "startingOffsets": offset,
    }
    if props.get("groupId"):
        opts["kafka.group.id"] = props["groupId"]
    return opts


def project_kafka(df: DataFrame) -> DataFrame:
    """Kafka wire schema -> pipeline surface: value-as-content (the
    reference keeps only values), key/topic/partition/offset/timestamp
    as free metadata columns."""
    return df.select(
        F.col("value").cast("string").alias("content"),
        F.col("key").cast("string").alias("message_key"),
        "topic", "partition", "offset",
        F.col("timestamp").alias("ts"),
        F.lit("KAFKA_SOURCE").alias("source_file"),
    )


_WIRE_SCHEMA = ("key binary, value binary, topic string, "
                "partition int, offset long, timestamp timestamp")


def _kafka_source_loopback(spark: SparkSession, props: dict) -> DataFrame:
    """One poll against the loopback broker (``kafka_loopback.py``) —
    the reference's consumer-loop body (``KafkaSourceContext.java:
    48-56``) as a batch read, the way ``_s3_source_boto3`` mirrors the
    S3 listing loop: bounded (topic, partition, start, end) slice
    metadata at the driver, record bytes fetched executor-side via
    ``mapInPandas``, then the SAME ``project_kafka`` projection as the
    real connector.

    Offset semantics mirror a consumer group: a ``groupId``'s
    committed offsets win; otherwise ``autoOffsetReset`` decides
    (earliest -> 0, latest -> current end, i.e. an empty first poll).
    Inside a prepared pipeline run (``engine._PREPARING``) the
    commit is registered as a post-sink step, so it happens only AFTER
    the sink succeeds (the manifest-record discipline), giving
    at-least-once delivery across runs rather than the reference's
    auto-commit at-most-once; outside one nothing is committed."""
    import hashlib

    import pandas as pd

    from universal_data_connector_spark import kafka_loopback as KL
    from universal_data_connector_spark.engine import _PREPARING

    if str(props.get("autoOffsetReset", "")) not in (
            "", "earliest", "latest", "smallest", "largest"):
        raise ValueError(
            f"unsupported autoOffsetReset {props['autoOffsetReset']!r}")
    reset = kafka_reader_options(props)["startingOffsets"]
    dir_ = KL.broker_dir(props)
    topic = props["topic"]
    group = props.get("groupId")

    committed = KL.committed_offsets(dir_, group) if group else {}
    slices = []
    for p, end in sorted(KL.end_offsets(dir_, topic).items()):
        tp = f"{topic}/{p}"
        if tp in committed:
            start = committed[tp]
        else:
            start = end if reset == "latest" else 0
        slices.append((topic, p, start, end))

    # one scan partition per slice up to defaultParallelism: the fetch
    # runs straight off the local scan, no repartition
    sdf = local_frame(
        spark, slices, "topic string, partition int, start long, end long")

    def fetch(batches):
        from universal_data_connector_spark import kafka_loopback as kl
        cols = ["key", "value", "topic", "partition", "offset", "ts"]
        for pdf in batches:
            rows = []
            for t, p, s, e in zip(pdf["topic"], pdf["partition"],
                                  pdf["start"], pdf["end"]):
                rows.extend(kl.read_slice(dir_, t, int(p), int(s), int(e)))
            out = pd.DataFrame(rows, columns=cols)
            # utc=True: the stored epoch millis are an INSTANT. A
            # tz-naive pandas timestamp would be reinterpreted in the
            # session time zone on the Arrow hop, shifting every
            # record by the tz offset vs the real connector on any
            # non-UTC session (r10 review)
            out["timestamp"] = pd.to_datetime(out.pop("ts"), unit="ms",
                                              utc=True)
            yield out[["key", "value", "topic", "partition", "offset",
                       "timestamp"]]

    df = project_kafka(sdf.mapInPandas(fetch, _WIRE_SCHEMA))
    run = _PREPARING.get()
    if run is not None:
        # input identity for the agg_state intent's changed-input crash
        # guard (claim_batch_run): the polled offset slices ARE this
        # batch's input — after a successful commit the next poll has
        # different slices, so a crash between offset commit and
        # intent-clear reads as changed input and reclaims instead of
        # blind-resuming onto data the old run id never saw (r10 review)
        fp = hashlib.sha256("\n".join(
            f"{t}/{p}:{s}-{e}" for t, p, s, e in slices).encode()).hexdigest()
        run.input_identity = lambda: fp
        if group:
            new_offsets = {f"{t}/{p}": e for t, p, _s, e in slices}
            run.post_sink.append(
                lambda: KL.commit_offsets(dir_, group, new_offsets))
    return df


def kafka_source(spark: SparkSession, props: dict, streaming: bool = True) -> DataFrame:
    from universal_data_connector_spark.kafka_loopback import is_loopback

    if is_loopback(props):
        if streaming:
            raise ValueError(
                "the loopback broker is batch-only (one poll per run, "
                "group offsets for incrementality); streaming needs a "
                "real broker via Spark's kafka connector")
        return _kafka_source_loopback(spark, props)
    reader = spark.readStream if streaming else spark.read
    return project_kafka(
        reader.format("kafka").options(**kafka_reader_options(props)).load())
