"""SparkSession construction and per-query session pinning.

The reference boots a single-member Hazelcast cluster
(``config/HazelcastConfig.java:13-44``); our equivalent is a SparkSession
tuned for the target: AQE on (runtime re-planning, skew-join handling),
shuffle partitions sized to cores locally (on a real cluster this is
overridden by ``spark.sql.adaptive.coalescePartitions``), UTC session
time zone so results are byte-comparable with engines that use naive
timestamps (DuckDB, Parquet NTZ).

Python workers import pyspark from its installed directory, not from
the ``$SPARK_HOME/python/lib/pyspark.zip`` Spark puts first on their
path: ``get_spark`` starts them through ``pyworker_daemon``, which
drops Spark's zips and its spark-core jar from the path before it runs
the stock daemon, and hands the workers this package's parent
directory on ``PYTHONPATH`` so they find that module whatever the
JVM's working directory. Per worker task that saves the ~0.17 s of CPU
``importlib.invalidate_caches()`` spent re-reading those archives'
directories. ``get_spark`` keeps the stock ``pyspark.daemon`` when the
zip's ``pyspark/version.py`` names another release than the installed
pyspark, when the driver itself imported pyspark from a zip, or when
``pyworker_daemon`` cannot be found under that parent directory.
Sessions built elsewhere (``pin`` on a driver's session) keep the
stock daemon.
"""

from __future__ import annotations

import contextlib as _contextlib
import os
import re

from pyspark.sql import SparkSession

# local[N] parallelism: $SPARK_GRAFT_CPUS, else the cores this process
# may run on (its CPU affinity, which a container's cpuset narrows)
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS")
                   or len(os.sched_getaffinity(0)))


def _read_text(path: str) -> str:
    """The file's text, or "" when it cannot be read."""
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:
        return ""


def _driver_mem() -> str:
    """``spark.driver.memory`` sized from the host: $SPARK_DRIVER_MEM,
    else half of the memory this process may use, in whole GiB (at
    least 1g). That memory is ``MemTotal`` of ``/proc/meminfo``, or the
    cgroup v2 ``memory.max`` when that is a number and lower. Half
    leaves the rest to what runs beside the JVM: Python workers,
    DuckDB, the page cache."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    m = re.search(r"^MemTotal:\s+(\d+) kB", _read_text("/proc/meminfo"),
                  re.M)
    limits = [int(m.group(1)) * 1024] if m else []
    cgroup_max = _read_text("/sys/fs/cgroup/memory.max").strip()
    if cgroup_max.isdigit():
        limits.append(int(cgroup_max))
    gib = min(limits) // 2 // 2**30 if limits else 0
    return f"{max(gib, 1)}g"


DEFAULT_DRIVER_MEM = _driver_mem()


# the Python-worker daemon (module docstring), found under this
# package's parent directory
_WORKER_DAEMON = "universal_data_connector_spark.pyworker_daemon"
_PACKAGE_PARENT = os.path.dirname(
    os.path.dirname(os.path.abspath(__file__)))


def _zip_pyspark_version(spark_home: str) -> str | None:
    """The release named by ``pyspark/version.py`` inside
    ``$SPARK_HOME/python/lib/pyspark.zip``, read with ``zipfile`` (the
    zip is never imported); None when there is no such zip or file."""
    import zipfile

    path = os.path.join(spark_home, "python", "lib", "pyspark.zip")
    try:
        with zipfile.ZipFile(path) as zf:
            text = zf.read("pyspark/version.py").decode()
    except (OSError, KeyError, zipfile.BadZipFile):
        return None
    m = re.search(r"__version__\s*(?::\s*str\s*)?=\s*['\"]([^'\"]+)",
                  text)
    return m.group(1) if m else None


def _worker_conf() -> dict[str, str]:
    """The conf that starts Python workers through ``_WORKER_DAEMON``,
    or no conf (the stock daemon) when the module docstring's checks
    fail."""
    from importlib.machinery import PathFinder

    import pyspark
    from pyspark.find_spark_home import _find_spark_home

    if (".zip" + os.sep in pyspark.__file__
            or _zip_pyspark_version(_find_spark_home())
            != pyspark.__version__):
        return {}
    package = PathFinder.find_spec(_WORKER_DAEMON.rpartition(".")[0],
                                   [_PACKAGE_PARENT])
    if (package is None or PathFinder.find_spec(
            _WORKER_DAEMON, package.submodule_search_locations) is None):
        return {}
    return {"spark.python.daemon.module": _WORKER_DAEMON,
            "spark.executorEnv.PYTHONPATH": _PACKAGE_PARENT}


def _builder(app_name: str, cpus: str) -> SparkSession.Builder:
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config(map=_worker_conf())
    )


def get_spark(app_name: str = "universal_data_connector_spark",
              cpus: str | int | None = None) -> SparkSession:
    """Build (or reuse) a local SparkSession with scale-appropriate conf."""
    spark = _builder(app_name, str(cpus or DEFAULT_CPUS)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def pin(spark: SparkSession) -> SparkSession:
    """Pin runtime conf on a session we did not build (e.g. the driver's).

    Idempotent and cheap; every catalog query calls this so that results
    are deterministic regardless of who constructed the session:

    * UTC session time zone — Spark renders TIMESTAMP in the session TZ,
      while the test parquet stores naive (UTC-like) timestamps; pinning
      UTC makes ``date_format``/``cast(ts as date)`` agree with DuckDB.
    * AQE on — runtime shuffle-partition coalescing and skew-join splits;
      this is the 100 TB posture (plans re-optimize on real stats).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    # events.ts has shipped as parquet TIMESTAMP(NANOS) and as naive
    # TIMESTAMP(MICROS) across testdata generations. nanosAsLong makes
    # the nanos layout readable (as bigint, restored in tables.load);
    # disabling NTZ inference makes the naive-micros layout arrive as
    # TimestampType directly (value-preserving under UTC), which the
    # streaming watermark API requires. tables.watermarkable_ts guards
    # both layouts for sessions that skipped pin().
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # Size shuffle/state partitions to the local machine: AQE coalesces
    # batch shuffles at runtime, but streaming state stores take the
    # static setting (AQE is disabled for stateful workloads), and a
    # vanilla session's 200 empty state partitions are pure task
    # overhead here. On a real cluster this path isn't used — the
    # cluster session carries its own sizing.
    cores = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions", str(max(int(cores), 8)))
    return spark


@_contextlib.contextmanager
def temp_view(df, base: str):
    """Register ``df`` under a UNIQUE temp-view name and drop it after
    the with-block — the shared form of the per-build-unique-view fix
    (a fixed session-global name races across concurrent builds on one
    SparkSession: another build's createOrReplaceTempView landing
    before this build's spark.sql() resolution silently swaps the
    data). Dropping after spark.sql() is safe: analysis inlines the
    view's plan."""
    import uuid

    name = f"{base}_{uuid.uuid4().hex[:10]}"
    df.createOrReplaceTempView(name)
    try:
        yield name
    finally:
        df.sparkSession.catalog.dropTempView(name)


def local_frame(spark: SparkSession, rows, schema):
    """A DataFrame of driver-side ``rows`` (tuples in ``schema``'s
    column order; ``schema`` a DDL string or StructType), built as an
    Arrow table.

    Use it for every frame the driver builds from a Python list: slice
    and key lists, manifests, small dims, centroids, empty frames. The
    list form of ``spark.createDataFrame`` plans a pickled Python RDD
    and runs one Python-worker task per core when consumed, each paying
    the worker's fixed cost, however few rows it sees: ~0.09 s of CPU
    on a 4-vCPU host with ``get_spark``'s daemon, ~0.29 s with the
    stock one. An Arrow table becomes a ``LocalRelation`` that
    the JVM reads, so no Python worker starts and no job runs until
    something consumes the frame; its scan splits into
    ``min(max(len(rows), 1), defaultParallelism)`` partitions (an
    empty frame scans no partition), so a ``mapInPandas`` or
    ``mapInArrow`` directly over it needs no repartition.

    Not for rows whose values Arrow converts differently from Spark:
    a naive ``datetime`` in a timestamp column is read in the Python
    process's local time zone by the list path and as UTC by Arrow, so
    the two agree only where that process runs in UTC. That is why
    ``exact_group_percentiles``' row sites, whose group keys can be of
    any type, timestamps included, keep the list path."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(list(col), type=field.type)
         for col, field in zip(columns, arrow_schema)],
        schema=arrow_schema)
    return spark.createDataFrame(table, schema)
