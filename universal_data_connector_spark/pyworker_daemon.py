"""Python-worker daemon that imports pyspark from its installed
directory instead of ``$SPARK_HOME/python/lib/pyspark.zip``.

Spark starts the daemon with its own archives first on ``sys.path``:
the zips of ``$SPARK_HOME/python/lib`` and the spark-core jar, which
holds no Python file. Every worker task then calls
``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), which re-reads the
directory of every zipimporter an import created: about 0.1 s of CPU
per task for pyspark's packages in the zip and 0.075 s for the jar's
5,359 entries (4 vCPU), against 0.0001 s for directories. This module
drops those archives from ``sys.path`` and ``sys.path_importer_cache``
and runs the stock ``pyspark.daemon.manager()``. ``session.get_spark``
makes it the Python daemon module only when the zip and the installed
pyspark are the same release; if the worker's interpreter has no
installed pyspark, the archives stay and nothing changes.
"""

import importlib.util
import os
import sys


def _drop_spark_archives() -> None:
    libs = {os.path.dirname(p) for p in sys.path
            if os.path.basename(p) == "pyspark.zip"}
    archives = tuple(p for p in sys.path if p.endswith(".jar") or (
        p.endswith(".zip") and os.path.dirname(p) in libs))
    saved = sys.path[:]
    sys.path[:] = [p for p in saved if p not in archives]
    if importlib.util.find_spec("pyspark") is None:
        sys.path[:] = saved
        return
    for key in [k for k in sys.path_importer_cache
                if k.startswith(archives)]:
        del sys.path_importer_cache[key]


if __name__ == "__main__":
    _drop_spark_archives()
    from pyspark.daemon import manager

    manager()
