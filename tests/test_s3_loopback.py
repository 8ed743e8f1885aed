"""In-sandbox S3 e2e against a loopback moto server.

``tests/test_external_infra.py`` keeps the env-gated REAL-infra tests
(they prove compatibility with an actual object store when one is
available). These tests close the sandbox gap the r8 verdict called
structural: moto's in-process S3 implementation gives the boto3 code
paths — the sink's executor-side PUT branch and the source's new
boto3 fallback (pyspark ships without hadoop-aws, so S3A is absent
here and the fallback is exactly what runs) — a full loopback
round-trip on every test run, no environment required.
"""

from __future__ import annotations

import uuid

import pytest

moto_server = pytest.importorskip("moto.server")
boto3 = pytest.importorskip("boto3")

BUCKET = "udc-loopback"
CREDS = {"accessKey": "test-access", "secretKey": "test-secret"}


@pytest.fixture(scope="module")
def s3_endpoint():
    server = moto_server.ThreadedMotoServer(port=0)
    server.start()
    port = server._server.socket.getsockname()[1]
    endpoint = f"http://127.0.0.1:{port}"
    client = boto3.client(
        "s3", endpoint_url=endpoint, region_name="us-east-1",
        aws_access_key_id=CREDS["accessKey"],
        aws_secret_access_key=CREDS["secretKey"])
    client.create_bucket(Bucket=BUCKET)
    yield endpoint
    server.stop()


def _client(endpoint):
    return boto3.client(
        "s3", endpoint_url=endpoint, region_name="us-east-1",
        aws_access_key_id=CREDS["accessKey"],
        aws_secret_access_key=CREDS["secretKey"])


def _props(endpoint, prefix, **extra):
    return {"bucketName": BUCKET, "prefix": prefix,
            "endpoint": endpoint, **CREDS, **extra}


def test_source_boto3_fallback_lists_globs_and_sniffs(spark, s3_endpoint):
    """The batch fallback must mirror the S3A path's output shape:
    s3a:// URIs, reference file-type sniffing (CSV needs extension AND
    a comma in line 1), whole-object content; the basename glob drops
    non-matching keys and zero-byte directory markers never surface."""
    from universal_data_connector_spark.sources.files import (
        _s3a_on_classpath,
        s3_source,
    )

    if _s3a_on_classpath(spark):
        pytest.skip("hadoop-aws present: the S3A branch would serve "
                    "this read; the boto3 fallback is not under test")
    prefix = f"in-{uuid.uuid4().hex[:8]}"
    c = _client(s3_endpoint)
    c.put_object(Bucket=BUCKET, Key=f"{prefix}/a.txt", Body=b"hello world")
    c.put_object(Bucket=BUCKET, Key=f"{prefix}/b.csv", Body=b"x,y\n1,2")
    c.put_object(Bucket=BUCKET, Key=f"{prefix}/skip.log", Body=b"nope")
    c.put_object(Bucket=BUCKET, Key=f"{prefix}/sub/", Body=b"")
    c.put_object(Bucket=BUCKET, Key=f"{prefix}/sub/c.txt", Body=b"nested")

    df = s3_source(spark, _props(s3_endpoint, prefix, pattern="*.txt"))
    rows = {r.source_file: (r.file_type, r.content) for r in df.collect()}
    assert rows == {
        f"s3a://{BUCKET}/{prefix}/a.txt": ("TEXT", "hello world"),
        f"s3a://{BUCKET}/{prefix}/sub/c.txt": ("TEXT", "nested"),
    }

    # no glob: the csv sniffs as CSV (comma in first line), log as TEXT
    all_rows = {r.source_file.rsplit("/", 1)[-1]: r.file_type
                for r in s3_source(
                    spark, _props(s3_endpoint, prefix)).collect()}
    assert all_rows == {"a.txt": "TEXT", "b.csv": "CSV",
                       "skip.log": "TEXT", "c.txt": "TEXT"}


def test_source_streaming_without_s3a_raises(spark, s3_endpoint):
    from universal_data_connector_spark.sources.files import s3_source

    with pytest.raises(ValueError, match="streaming mode requires"):
        s3_source(spark, _props(s3_endpoint, "x"), streaming=True)


def test_sink_boto3_object_per_file_roundtrip(spark, s3_endpoint):
    """The executor-side PUT branch: raw filename keys, exact bytes,
    reference per-type Content-Type (S3SinkContext.java:79,85-115)."""
    from universal_data_connector_spark.sinks.files import s3_sink

    prefix = f"out-{uuid.uuid4().hex[:8]}"
    df = spark.createDataFrame(
        [("in/a.txt", "TEXT", "hello-s3"), ("in/b.csv", "CSV", "x,y\n1,2")],
        "source_file string, file_type string, content string")
    s3_sink(df, _props(s3_endpoint, prefix), streaming=False)

    c = _client(s3_endpoint)
    a = c.get_object(Bucket=BUCKET, Key=f"{prefix}/a.txt")
    b = c.get_object(Bucket=BUCKET, Key=f"{prefix}/b.csv")
    assert a["Body"].read() == b"hello-s3"
    assert b["Body"].read() == b"x,y\n1,2"
    assert a["ContentType"] == "application/octet-stream"
    assert b["ContentType"] == "text/csv"


def test_s3_source_manifest_skips_consumed_objects(
        spark, s3_endpoint, tmp_path):
    """manifestDir on the s3 source makes the reference's per-JVM
    processedFiles set durable: run 1 consumes object A and records
    it; run 2 (object B added) reads ONLY B. Verified at the sink —
    outputs cleared between runs, so any reprocessing of A would
    reappear there."""
    from universal_data_connector_spark.config import parse_config
    from universal_data_connector_spark.engine import run

    token = uuid.uuid4().hex[:8]
    src_prefix, dst_prefix = f"min-{token}", f"mout-{token}"
    c = _client(s3_endpoint)
    c.put_object(Bucket=BUCKET, Key=f"{src_prefix}/a.txt", Body=b"alpha")

    cfg = parse_config({"pipelines": [{
        "name": f"s3-manifest-{token}",
        "source": {"type": "s3",
                   "properties": _props(s3_endpoint, src_prefix,
                                        pattern="*.txt",
                                        manifestDir=str(tmp_path / "m"))},
        "sink": {"type": "s3",
                 "properties": _props(s3_endpoint, dst_prefix)},
    }]}).pipelines[0]

    run(spark, cfg)
    out = [o["Key"] for o in c.list_objects_v2(
        Bucket=BUCKET, Prefix=dst_prefix).get("Contents", [])]
    assert out == [f"{dst_prefix}/a.txt"]

    c.delete_object(Bucket=BUCKET, Key=f"{dst_prefix}/a.txt")
    c.put_object(Bucket=BUCKET, Key=f"{src_prefix}/b.txt", Body=b"beta")
    run(spark, cfg)
    out = [o["Key"] for o in c.list_objects_v2(
        Bucket=BUCKET, Prefix=dst_prefix).get("Contents", [])]
    assert out == [f"{dst_prefix}/b.txt"], \
        "already-consumed object a.txt was reprocessed (or b missed)"


def test_yaml_pipeline_s3_to_s3(spark, s3_endpoint):
    """Full engine pass: s3 source (boto3 fallback) -> filter
    transformation -> s3 sink (boto3 PUT), driven by the same YAML
    shapes as the reference's workflows."""
    from universal_data_connector_spark.config import parse_config
    from universal_data_connector_spark.engine import run

    token = uuid.uuid4().hex[:8]
    src_prefix, dst_prefix = f"pin-{token}", f"pout-{token}"
    c = _client(s3_endpoint)
    c.put_object(Bucket=BUCKET, Key=f"{src_prefix}/keep.txt",
                 Body=b"this line is important")
    c.put_object(Bucket=BUCKET, Key=f"{src_prefix}/drop.txt",
                 Body=b"nothing here")

    cfg = parse_config({"pipelines": [{
        "name": f"s3-loop-{token}",
        "source": {"type": "s3",
                   "properties": _props(s3_endpoint, src_prefix,
                                        pattern="*.txt")},
        "transformations": [
            {"type": "filter",
             "properties": {"condition": "important"}},
        ],
        "sink": {"type": "s3",
                 "properties": _props(s3_endpoint, dst_prefix)},
    }]}).pipelines[0]
    run(spark, cfg)

    keys = [o["Key"] for o in c.list_objects_v2(
        Bucket=BUCKET, Prefix=dst_prefix).get("Contents", [])]
    assert keys == [f"{dst_prefix}/keep.txt"]
    body = c.get_object(Bucket=BUCKET,
                        Key=f"{dst_prefix}/keep.txt")["Body"].read()
    assert body == b"this line is important"


def test_s3_default_checkpoint_stays_in_bucket():
    from universal_data_connector_spark.sinks.files import (
        _s3_default_checkpoint,
    )

    assert (_s3_default_checkpoint({"bucketName": "b"})
            == "s3a://b/_checkpoint")
    assert (_s3_default_checkpoint({"bucketName": "b", "prefix": ""})
            == "s3a://b/_checkpoint")
    assert (_s3_default_checkpoint({"bucketName": "b", "prefix": "p/q"})
            == "s3a://b/p/q/_checkpoint")
    assert (_s3_default_checkpoint({"bucketName": "b", "prefix": "p/"})
            == "s3a://b/p/_checkpoint")
