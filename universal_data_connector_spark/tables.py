"""Loading the driver-generated parquet tables (TESTDATA.md).

Column pruning and predicate pushdown happen at the parquet scan as long
as callers keep the lineage declarative (``load(...).select(...)
.filter(...)``) — verified via ``.explain`` in tests (PushedFilters /
ReadSchema).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


# ``events.ts`` has shipped in two parquet layouts across testdata
# generations: TIMESTAMP(NANOS), which Spark reads as bigint nanos under
# ``spark.sql.legacy.parquet.nanosAsLong`` (session.pin), and naive
# TIMESTAMP(MICROS), which Spark 4 reads as TIMESTAMP_NTZ unless
# ``spark.sql.parquet.inferTimestampNTZ.enabled=false`` (also pinned).
# Either way the streaming watermark API requires TimestampType (LTZ),
# so every events read — batch or stream — goes through
# ``watermarkable_ts``. The NTZ→LTZ cast is value-preserving under the
# pinned UTC session time zone.
_TS_COLS = {"events": ("ts",)}


def watermarkable_ts(df: DataFrame, col: str) -> DataFrame:
    """Normalise a timestamp column to TimestampType (watermark-legal)."""
    dt = df.schema[col].dataType
    if isinstance(dt, T.LongType):  # nanos-as-bigint layout
        return df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    if isinstance(dt, T.TimestampNTZType):  # naive-micros layout
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


# Per-process memo of INFERRED SCHEMAS (metadata only — never data,
# never results; a fresh process always re-infers). `spark.read
# .parquet` pays file listing + footer inference on every call
# (~100 ms/table even warm), and the bench's timed regions rebuild
# each query from load() — at 56 keys that metadata tax is seconds of
# pure schema re-sniffing per bench run. Production engines read the
# schema from a catalog once, not from footers per query; this memo
# is the dependency-free equivalent. Keyed on (path, mtime_ns, the
# two parquet-layout confs that change what inference returns), so an
# in-place rewrite or a differently-pinned session re-infers.
_SCHEMA_MEMO: dict[tuple, T.StructType] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    import os

    try:
        mtime = os.stat(path).st_mtime_ns
    except OSError:
        # missing path: let spark.read raise its usual error
        return spark.read.parquet(path)
    key = (path, mtime,
           spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None),
           spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled",
                          None))
    schema = _SCHEMA_MEMO.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _SCHEMA_MEMO[key] = schema
    return spark.read.schema(schema).parquet(path)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    for col in _TS_COLS.get(name, ()):
        df = watermarkable_ts(df, col)
    return df
