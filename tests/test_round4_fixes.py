"""Round-4 fixes: managed-pipeline archiveDir, collision-safe archive
destinations, maxPartitionBytes as Spark parses it, and S3 key-naming
parity between the boto3 and S3A paths."""

from __future__ import annotations

import os
import time

from universal_data_connector_spark.config import parse_config
from universal_data_connector_spark.engine import run
from universal_data_connector_spark.manager import PipelineManager
from universal_data_connector_spark.sources.files import _archive_dest


def _write(path: str, content: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(content)
    return path


def _pipeline(name, src_props, sink_props, transformations=(),
              src_type="file"):
    return parse_config({"pipelines": [{
        "name": name,
        "source": {"type": src_type, "properties": src_props},
        "transformations": [dict(t) for t in transformations],
        "sink": {"type": "file", "properties": sink_props},
    }]}).pipelines[0]


# -- archive destination (ADVICE: basename collisions overwrite) --------

def test_archive_dest_preserves_relative_path(tmp_path):
    root = str(tmp_path / "in")
    os.makedirs(f"{root}/a", exist_ok=True)
    dest = _archive_dest(f"{root}/a/x.txt", str(tmp_path / "arch"), root)
    assert dest == str(tmp_path / "arch" / "a" / "x.txt")


def test_archive_dest_outside_root_uses_basename(tmp_path):
    dest = _archive_dest("/elsewhere/x.txt", str(tmp_path / "arch"),
                         str(tmp_path / "in"))
    assert dest == str(tmp_path / "arch" / "x.txt")


def test_archive_dest_never_overwrites(tmp_path):
    arch = tmp_path / "arch"
    arch.mkdir()
    _write(str(arch / "x.txt"), "already archived")
    dest = _archive_dest("/other/x.txt", str(arch), None)
    assert dest == str(arch / "x-1.txt")
    _write(dest, "second")
    assert _archive_dest("/third/x.txt", str(arch), None) == str(arch / "x-2.txt")


def test_archive_same_basename_nested_inputs_both_survive(spark, tmp_path):
    """Two inputs a/x.txt and b/x.txt must both exist after archiving
    (previously the second shutil.move silently overwrote the first)."""
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    processed = str(tmp_path / "processed")
    _write(f"{inp}/a/x.txt", "first important file")
    _write(f"{inp}/b/x.txt", "second important file")
    cfg = _pipeline("nested-archive",
                    {"path": f"{inp}/*/", "pattern": "*.txt",
                     "archiveDir": processed},
                    {"path": out, "extension": ".txt"})
    run(spark, cfg)
    archived = sorted(os.path.join(r, f).replace(processed + os.sep, "")
                      for r, _, fs in os.walk(processed) for f in fs)
    assert len(archived) == 2, archived
    contents = sorted(open(os.path.join(processed, p)).read()
                      for p in archived)
    assert contents == ["first important file", "second important file"]


# -- managed pipelines honor archiveDir (ADVICE manager.py:137) ---------

def test_manager_batch_pipeline_honors_archive_dir(spark, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    processed = str(tmp_path / "processed")
    _write(f"{inp}/a.txt", "managed pipeline input")
    cfg = _pipeline("managed-archive",
                    {"path": inp, "pattern": "*.txt",
                     "archiveDir": processed},
                    {"path": out, "extension": ".txt"})
    mgr = PipelineManager(spark)
    name = mgr.start_pipeline(cfg)
    for _ in range(100):
        if not mgr._jobs[name].is_running:
            break
        time.sleep(0.2)
    assert mgr._jobs[name].status == "COMPLETED"
    assert os.listdir(out) == ["a.txt"]
    assert os.listdir(inp) == []                       # input moved
    assert os.listdir(processed) == ["a.txt"]          # into the archive


# -- maxPartitionBytes as Spark parses it --------------------------------

def test_max_partition_bytes_reads_suffixed_conf(spark):
    from universal_data_connector_spark.operators.relational import (
        _max_partition_bytes,
    )
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "64m")
        assert _max_partition_bytes(spark) == 64 << 20
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


# -- S3 key naming parity (ADVICE sinks/files.py:188) -------------------

def test_s3_sink_strips_extension_swap_for_s3a_fallback(monkeypatch, spark):
    """Both S3 paths must produce the same keys: raw source filename,
    no extension swap (reference S3SinkContext.java:79). Without boto3
    the raw fallback writes through Hadoop's FileSystem at the real
    s3a:// URI (round-6: no more local dir named after the URI)."""
    import sys

    from universal_data_connector_spark.sinks import files as sf

    # force the boto3-free fallback even where boto3 is installed
    monkeypatch.setitem(sys.modules, "boto3", None)
    captured = {}

    def fake_hadoop_write(df, base_uri):
        captured["uri"] = base_uri

    monkeypatch.setattr(sf, "_hadoop_write_objects", fake_hadoop_write)
    df = spark.createDataFrame(
        [("a.txt", "TEXT", "hello")],
        "source_file string, file_type string, content string")
    sf.s3_sink(df, {"bucketName": "bkt", "prefix": "p",
                    "extension": ".out"}, streaming=False)
    assert captured["uri"] == "s3a://bkt/p"


def test_s3_sink_parquet_schema_never_takes_boto3_path(monkeypatch, spark):
    """Parquet+schema configs convert blobs to typed records — only the
    file_sink path does that, so the boto3 raw-PUT path must not run
    even when boto3 imports."""
    import sys
    import types

    from universal_data_connector_spark.sinks import files as sf

    monkeypatch.setitem(sys.modules, "boto3", types.ModuleType("boto3"))
    called = {"boto3": False, "file_sink": False}
    monkeypatch.setattr(sf, "_s3_put_objects_boto3",
                        lambda df, props: called.__setitem__("boto3", True))

    def fake_file_sink(df, props, streaming=False):
        called["file_sink"] = True

    monkeypatch.setattr(sf, "file_sink", fake_file_sink)
    df = spark.createDataFrame(
        [("a.csv", "CSV", "id,name\n1,x")],
        "source_file string, file_type string, content string")
    schema = {"type": "record", "name": "r",
              "fields": [{"name": "id", "type": "int"},
                         {"name": "name", "type": "string"}]}
    sf.s3_sink(df, {"bucketName": "bkt", "format": "parquet",
                    "schema": schema}, streaming=False)
    assert called == {"boto3": False, "file_sink": True}
