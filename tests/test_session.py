"""``session``: Python workers import pyspark from its installed
directory, with the stock daemon kept when a check fails;
``DEFAULT_DRIVER_MEM`` comes from the host's memory; and
``local_frame``'s Arrow-built frame equals the list form of
``createDataFrame``, schema and rows, and its scan splits the way the
callers that drop their repartition rely on."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

from universal_data_connector_spark import session
from universal_data_connector_spark.session import local_frame

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_DAEMON_KEY = "spark.python.daemon.module"


def _worker_report(spark) -> tuple[str, str]:
    """A worker's ``pyspark.__file__`` and the paths of its
    zipimporters, which ``importlib.invalidate_caches`` re-reads before
    every task."""
    def report(batches):
        import sys
        import zipimport

        import pandas as pd
        import pyspark

        for _ in batches:
            pass
        zips = [k for k, v in sys.path_importer_cache.items()
                if isinstance(v, zipimport.zipimporter)]
        yield pd.DataFrame({"f": [pyspark.__file__],
                            "z": [";".join(zips)]})

    row = spark.range(1, numPartitions=1).mapInPandas(
        report, "f string, z string").first()
    return row.f, row.z


def test_workers_import_pyspark_outside_any_zip(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get(_DAEMON_KEY) == session._WORKER_DAEMON
    path, zips = _worker_report(spark)
    assert ".zip" not in path and path.endswith("__init__.py")
    assert "pyspark.zip" not in zips and ".jar" not in zips


def test_workers_find_the_daemon_from_another_cwd(tmp_path):
    """A driver whose working directory is not the repository root
    (and whose PYTHONPATH does not name it) still starts workers
    through the daemon module: get_spark hands them its location."""
    code = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from tests.test_session import _worker_report
        from universal_data_connector_spark.session import get_spark
        spark = get_spark("udc-cwd-test", cpus=1)
        print("WORKER", _worker_report(spark)[0])
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    out = subprocess.run([sys.executable, "-c", code], cwd=tmp_path,
                         env=env, capture_output=True, text=True,
                         timeout=300)
    lines = [ln for ln in out.stdout.splitlines()
             if ln.startswith("WORKER ")]
    assert lines, out.stderr[-2000:]
    assert ".zip" not in lines[0]


def test_stock_daemon_on_zip_version_mismatch(monkeypatch):
    assert _DAEMON_KEY in session._builder("t", "1")._options
    monkeypatch.setattr(session, "_zip_pyspark_version",
                        lambda spark_home: "0.0.0")
    assert _DAEMON_KEY not in session._builder("t", "1")._options


def test_stock_daemon_when_daemon_module_unimportable(monkeypatch,
                                                      tmp_path):
    monkeypatch.setattr(session, "_PACKAGE_PARENT", str(tmp_path))
    assert _DAEMON_KEY not in session._builder("t", "1")._options


def test_driver_mem_is_half_the_host_memory_and_env_overrides(
        monkeypatch):
    """Half of MemTotal, or of a lower numeric cgroup memory.max, in
    whole GiB and at least 1g; $SPARK_DRIVER_MEM wins."""
    assert session.DEFAULT_DRIVER_MEM == session._driver_mem()
    files = {"/proc/meminfo": "MemTotal:       16456384 kB\n"
                              "MemFree:         1000000 kB\n",
             "/sys/fs/cgroup/memory.max": "max\n"}
    monkeypatch.setattr(session, "_read_text",
                        lambda path: files.get(path, ""))
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    assert session._driver_mem() == "7g"
    files["/sys/fs/cgroup/memory.max"] = f"{6 * 2**30}\n"
    assert session._driver_mem() == "3g"
    files["/sys/fs/cgroup/memory.max"] = f"{2**30}\n"
    assert session._driver_mem() == "1g"
    files.clear()
    assert session._driver_mem() == "1g"
    monkeypatch.setenv("SPARK_DRIVER_MEM", "5g")
    assert session._driver_mem() == "5g"


def test_daemon_drops_only_spark_archives(monkeypatch):
    from universal_data_connector_spark import pyworker_daemon

    lib, jar = "/spark/python/lib", "/spark/jars/spark-core_2.13.jar"
    path = [f"{lib}/pyspark.zip", f"{lib}/py4j-0.10.9.9-src.zip", jar,
            "/deps/user.zip", *sys.path]
    monkeypatch.setattr(sys, "path", list(path))
    for key in (f"{lib}/pyspark.zip", f"{jar}/org"):
        monkeypatch.setitem(sys.path_importer_cache, key, None)
    pyworker_daemon._drop_spark_archives()
    assert sys.path == path[3:]
    assert not {f"{lib}/pyspark.zip", f"{jar}/org"} & set(
        sys.path_importer_cache)
    # a worker interpreter without an installed pyspark keeps them
    monkeypatch.setattr(sys, "path", list(path))
    monkeypatch.setattr(pyworker_daemon.importlib.util, "find_spec",
                        lambda name: None)
    pyworker_daemon._drop_spark_archives()
    assert sys.path == path


def test_zip_version_reader():
    from pyspark.find_spark_home import _find_spark_home

    import pyspark

    assert (session._zip_pyspark_version(_find_spark_home())
            == pyspark.__version__)
    assert session._zip_pyspark_version("/nonexistent") is None

_SCHEMA = "s string, i int, b bigint, v array<double>"
_ROWS = [
    ("a", 1, 2**40, [1.0, -2.5]),
    (None, None, None, None),
    ("", -7, 0, []),
    ("c", 2**31 - 1, -(2**63), [None, 3.0]),
]


@pytest.mark.parametrize("rows", [_ROWS, []], ids=["rows", "empty"])
def test_local_frame_equals_list_path(spark, rows):
    got = local_frame(spark, rows, _SCHEMA)
    want = spark.createDataFrame(rows, _SCHEMA)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_local_frame_scan_partitions(spark):
    par = spark.sparkContext.defaultParallelism
    for n in (1, 4, 9, par + 3):
        df = local_frame(spark, [(str(i),) for i in range(n)], "u string")
        assert df.rdd.getNumPartitions() == min(max(n, 1), par)
    # an empty frame scans no partition at all
    assert local_frame(spark, [], "u string").rdd.getNumPartitions() == 0
