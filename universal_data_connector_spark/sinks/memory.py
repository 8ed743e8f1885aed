"""Memory / noop sinks — test and benchmark surfaces (no reference
counterpart; the reference's manual smoke workflow, README.md:34-124,
is replaced by automated assertions over these)."""

from __future__ import annotations

from pyspark.sql import DataFrame

from universal_data_connector_spark.operators.relational import materialize


def memory_sink(df: DataFrame, props: dict, streaming: bool = False):
    name = props.get("queryName", "udc_memory")
    if streaming:
        return (df.writeStream.format("memory").queryName(name)
                .outputMode(props.get("outputMode", "append"))
                .start())
    # compute the input now, before the run's post-sink steps archive
    # or record it: a view over the lazy frame would read it later
    materialize(df).createOrReplaceTempView(name)
    return None


def noop_sink(df: DataFrame, props: dict, streaming: bool = False):
    if streaming:
        return (df.writeStream.format("noop")
                .option("checkpointLocation", props["checkpointLocation"])
                .start())
    df.write.format("noop").mode("overwrite").save()
    return None
