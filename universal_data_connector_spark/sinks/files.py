"""File sinks: text/CSV passthrough and schema-bound Parquet.

Reference K1 (``factory/sink/FileSinkContext.java``) keeps one writer
per distinct source file and swaps the configured extension into the
output name (`:81-93`); K2 (``factory/sink/ParquetSinkContext.java``)
converts CSV text to Avro records and writes Snappy+dictionary Parquet.

Here:

* text/CSV file-mode output preserves the one-output-file-per-input-
  file contract via ``foreachPartition`` — each executor writes the
  files for its rows directly (a file-mode row IS a whole file, so
  row count == file count and per-row file IO is the natural unit);
* Parquet output is ``df.write.parquet`` — Spark's writer does Snappy,
  dictionary encoding, and row-group sizing natively
  (``spark.sql.parquet.compression.codec=snappy``); the CSV->typed
  conversion (lenient casts, defaults, row drops) happens in
  ``sources.records.csv_blob_to_records`` as column expressions;
* ``partitionBy`` is available via the ``partitionBy`` property for
  the scalable directory-layout variant (SURVEY.md §7.4.3).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from universal_data_connector_spark.config import avro_schema_to_struct
from universal_data_connector_spark.sources.files import (
    s3_client_kwargs,
    set_s3a_conf,
)


def content_type_for(file_type: str | None) -> str:
    """Per-type S3 object Content-Type, matching the reference's switch
    (``S3SinkContext.java:105-115``): CSV -> text/csv, PARQUET ->
    application/x-parquet, everything else (CRC / BINARY / TEXT /
    unknown) -> application/octet-stream."""
    return {
        "CSV": "text/csv",
        "PARQUET": "application/x-parquet",
    }.get((file_type or "").upper(), "application/octet-stream")


def _swap_extension(filename: str, extension: str) -> str:
    """Output naming of ``FileSinkContext.java:81-93``: swap in the
    configured extension; empty extension keeps the original name."""
    base = os.path.basename(filename)
    if not extension:
        return base
    stem, _, _ = base.rpartition(".")
    return (stem or base) + extension


def _write_file_mode(df: DataFrame, out_dir: str, extension: str) -> None:
    """One output file per source file, written from executors.

    Text content gets the reference's trailing newline
    (``FileSinkContext.java``); BINARY content (a directory source's
    bytes) is written byte-for-byte — text-mode write would raise on
    bytes and a forced newline would corrupt the payload."""
    os.makedirs(out_dir, exist_ok=True)
    rows = df.select("source_file", "content")

    def write_partition(it):
        for row in it:
            name = _swap_extension(row.source_file, extension)
            body = row.content
            if isinstance(body, (bytes, bytearray)):
                with open(os.path.join(out_dir, name), "wb") as f:
                    f.write(body)
                continue
            with open(os.path.join(out_dir, name), "w") as f:
                f.write(body)
                if not body.endswith("\n"):
                    f.write("\n")  # reference writes content + newline

    rows.foreachPartition(write_partition)


def _to_schema_records(df: DataFrame, props: dict,
                       keep_source: bool = False) -> DataFrame:
    """Bind the frame to the sink's declared Avro schema."""
    from universal_data_connector_spark.functions import casts as fc
    from universal_data_connector_spark.sources.records import (
        _LENIENT, _TYPE_NAMES, csv_blob_to_records)

    schema = avro_schema_to_struct(props["schema"])
    if "content" in df.columns and "file_type" in df.columns:
        # file-mode CSV blobs -> typed records
        records = csv_blob_to_records(df, schema).drop("__line_no")
        return records if keep_source else records.drop("source_file")
    # record-mode (e.g. JDBC source): bind by case-insensitive name,
    # lenient-cast to the declared type, apply per-type defaults.
    lower_cols = {c.lower(): c for c in df.columns}
    out = []
    for f in schema.fields:
        src = lower_cols.get(f.name.lower())
        col = (F.col(src).cast("string") if src is not None
               else F.lit(None).cast("string"))
        conv = _LENIENT[f.dataType](col)
        out.append(fc.with_default(conv, _TYPE_NAMES[f.dataType]).alias(f.name))
    return df.select(*out)


def _write_parquet_per_source(records: DataFrame, out_dir: str,
                              timestamp: str | None = None) -> None:
    """Reference-faithful parquet output naming
    (``ParquetSinkContext.java:356-366``): ONE Snappy+dictionary
    parquet file per source file, named
    ``<source-stem>_<yyyyMMdd_HHmmss>.parquet``. Each group is written
    executor-side by pyarrow inside applyInPandas — one shuffle on
    source_file, no driver loop. The stamp is taken once at plan time
    (the reference stamps per-writer-creation; a single run producing
    one consistent stamp is the same contract, deterministic within the
    run)."""
    import datetime

    os.makedirs(out_dir, exist_ok=True)
    stamp = timestamp or datetime.datetime.now().strftime("%Y%m%d_%H%M%S")
    data_schema = records.drop("source_file").schema

    def write_group(pdf):
        import pyarrow as pa
        import pyarrow.parquet as pq
        src = os.path.basename(str(pdf["source_file"].iloc[0]))
        stem, _, _ = src.rpartition(".")
        body = pdf.drop(columns=["source_file"])
        table = pa.Table.from_pandas(body, preserve_index=False)
        pq.write_table(
            table, os.path.join(out_dir, f"{stem or src}_{stamp}.parquet"),
            compression="snappy", use_dictionary=True)
        return body.head(0)

    (records.groupBy("source_file")
            .applyInPandas(write_group, schema=data_schema)
            .write.format("noop").mode("overwrite").save())


def file_sink(df: DataFrame, props: dict, streaming: bool = False):
    out_dir = props["path"]
    fmt = str(props.get("format", "")).lower()

    if fmt == "parquet":
        if (not streaming and "source_file" in df.columns
                and str(props.get("perSourceFile", "false")).lower() == "true"):
            records = (_to_schema_records(df, props, keep_source=True)
                       if props.get("schema") else df)
            _write_parquet_per_source(records, out_dir)
            return None
        records = _to_schema_records(df, props) if props.get("schema") else df
        if streaming:
            # NOTE: branch before ANY .write access — touching .write
            # on a streaming frame raises immediately
            # (CALL_ON_STREAMING_DATASET_UNSUPPORTED), which made this
            # whole path dead until round 8's fix
            swriter = (records.writeStream
                       .format("parquet")
                       .option("path", out_dir)
                       .option("checkpointLocation", props.get(
                           "checkpointLocation",
                           out_dir.rstrip("/") + "_checkpoint")))
            if props.get("partitionBy"):
                swriter = swriter.partitionBy(*props["partitionBy"])
            return swriter.start()
        writer = records.write.mode(props.get("mode", "append"))
        if props.get("partitionBy"):
            writer = writer.partitionBy(*props["partitionBy"])
        writer.parquet(out_dir)
        return None

    if fmt == "csv" and "content" not in df.columns:
        # record-mode CSV directory output
        header = str(props.get("includeHeaders", True)).lower()
        if streaming:
            return (df.writeStream.format("csv")
                    .option("path", out_dir)
                    .option("header", header)
                    .option("checkpointLocation", props.get(
                        "checkpointLocation",
                        out_dir.rstrip("/") + "_checkpoint"))
                    .start())
        writer = (df.write.mode(props.get("mode", "append"))
                  .option("header", header))
        writer.csv(out_dir)
        return None

    # text / CSV passthrough: one output file per input file
    extension = props.get("extension", "")
    if streaming:
        def write_batch(batch_df: DataFrame, _batch_id: int) -> None:
            _write_file_mode(batch_df, out_dir, extension)
        return (df.writeStream.foreachBatch(write_batch)
                .option("checkpointLocation", props.get(
                    "checkpointLocation", out_dir.rstrip("/") + "_checkpoint"))
                .start())
    _write_file_mode(df, out_dir, extension)
    return None


def _hadoop_write_objects(df: DataFrame, base_uri: str) -> None:
    """One object per file-mode row via Hadoop's FileSystem API — the
    boto3-free S3 write path. Goes through the JVM's S3A client (the
    same filesystem Spark's own writers use), so a ``s3a://`` URI is a
    real remote write, never a local directory that happens to be named
    after the URI. Bytes are written exactly as held — the reference's
    S3 sink uploads raw content with no trailing newline
    (``S3SinkContext.java:85-97``), unlike its *file* sink.

    Driver-side iteration (``toLocalIterator`` streams one partition at
    a time): the FileSystem handle lives in the driver JVM and Python
    executors cannot reach it. The executor-parallel path is the boto3
    branch; this is the correctness fallback when boto3 is absent."""
    spark = df.sparkSession
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path
    base = hpath(base_uri)
    fs = base.getFileSystem(hconf)
    fs.mkdirs(base)
    for row in df.select("source_file", "content").toLocalIterator():
        # raw filename, no extension swap (S3SinkContext.java:79)
        name = os.path.basename(row.source_file)
        body = (row.content if isinstance(row.content, (bytes, bytearray))
                else str(row.content).encode())
        out = fs.create(hpath(base, name), True)
        try:
            out.write(body)
        finally:
            out.close()


def _s3_default_checkpoint(props: dict) -> str:
    """Default streaming checkpoint for raw-object S3 writes: a key
    INSIDE the target bucket. With an empty/absent prefix the sink
    path is ``s3a://bucket/``; a naive ``rstrip('/') + '_checkpoint'``
    would name a *different* bucket (``s3a://bucket_checkpoint``)."""
    base = f"s3a://{props['bucketName']}/{props.get('prefix') or ''}"
    return base.rstrip("/") + "/_checkpoint"


def s3_sink(df: DataFrame, props: dict, streaming: bool = False):
    """Reference K5 (``factory/sink/S3SinkContext.java``): object per
    file under ``bucket/prefix``. Credentials go where the S3 source's
    go: ``accessKey``/``secretKey``/``endpoint`` to Hadoop conf
    (``set_s3a_conf``), and the same props plus ``region`` to the
    boto3 client (``s3_client_kwargs``).

    Content-Type (`:105-115`): when boto3 is importable and the config
    is a raw passthrough (no parquet format / no schema binding — those
    must convert blobs to typed records, which only file_sink does),
    each object uploads with the reference's per-type Content-Type
    (``content_type_for``). Without boto3 raw objects go through
    Hadoop's S3A FileSystem instead, which derives Content-Type from
    the key extension — a documented divergence; bytes and keys are
    identical either way because both paths write raw content under
    the raw source filename (the reference's S3 sink does NO extension
    swap and no trailing newline, ``S3SinkContext.java:79,85-97``)."""
    set_s3a_conf(df.sparkSession, props)
    path = f"s3a://{props['bucketName']}/{props.get('prefix') or ''}"
    raw_passthrough = (str(props.get("format", "")).lower() != "parquet"
                       and not props.get("schema")
                       and "content" in df.columns)
    if raw_passthrough:
        if not streaming and "file_type" in df.columns:
            try:
                import boto3  # noqa: F401 - optional, absent in CI
                return _s3_put_objects_boto3(df, props)
            except ImportError:
                pass
        if streaming:
            def write_batch(batch_df: DataFrame, _batch_id: int) -> None:
                _hadoop_write_objects(batch_df, path)
            return (df.writeStream.foreachBatch(write_batch)
                    .option("checkpointLocation", props.get(
                        "checkpointLocation",
                        _s3_default_checkpoint(props)))
                    .start())
        _hadoop_write_objects(df, path)
        return None
    # typed output (parquet / schema-bound): Spark's own writers speak
    # s3a natively — delegate with the s3a URI as the sink path. ONLY
    # delegate combinations whose file_sink branch actually uses
    # Spark writers: the text/CSV-blob passthrough branch writes with
    # os.makedirs/open, which would create a LOCAL directory literally
    # named "s3a:" and silently strand the data — reject those up
    # front instead.
    delegated_fmt = str(props.get("format", "")).lower()
    if delegated_fmt != "parquet" and "content" in df.columns:
        raise ValueError(
            "s3 sink: schema/format binding for file-mode content is "
            "only supported with format 'parquet' (Spark's parquet "
            "writer speaks s3a natively); for raw object passthrough "
            "drop 'schema'/'format', or convert blobs with a "
            "transformation first")
    if delegated_fmt not in ("parquet", "csv") and "content" not in df.columns:
        # record-mode with no (or an unknown) format would fall into
        # file_sink's local text passthrough and os.makedirs a literal
        # './s3a:' directory before failing confusingly
        raise ValueError(
            "s3 sink: record-mode frames need format 'parquet' or "
            f"'csv' (Spark writers speak s3a natively); got "
            f"{props.get('format')!r}")
    sub = dict(props)
    sub["path"] = path
    # reference S3 keys keep the original filename — no extension swap
    sub.pop("extension", None)
    return file_sink(df, sub, streaming)


def _s3_put_objects_boto3(df: DataFrame, props: dict) -> None:
    """Executor-side per-object PUT with reference metadata: one object
    per file-mode row, Content-Type from ``content_type_for``,
    ContentLength implicit (``S3SinkContext.java:85-97``). Credentials,
    endpoint and region come from props (``s3_client_kwargs``) or the
    default provider chain."""
    bucket = props["bucketName"]
    prefix = (props.get("prefix") or "").strip("/")
    client_kwargs = s3_client_kwargs(props)
    rows = df.select("source_file", "file_type", "content")

    def put_partition(it):
        import boto3
        client = boto3.client("s3", **client_kwargs)
        for row in it:
            # raw filename, no extension swap (S3SinkContext.java:79)
            name = os.path.basename(row.source_file)
            key = f"{prefix}/{name}" if prefix else name
            body = (row.content if isinstance(row.content, (bytes, bytearray))
                    else str(row.content).encode())
            client.put_object(Bucket=bucket, Key=key, Body=body,
                              ContentType=content_type_for(row.file_type))

    rows.foreachPartition(put_partition)
