"""Spans around calls into the program's modules, for the traced run.

``install`` replaces a fixed list of public functions with wrappers that
record ``(metric name, start, end)`` in memory; nothing in the program
is edited. A function is wrapped where its caller looks it up, so a
name that a module imported with ``from ... import`` is wrapped in that
module. A context-manager function (``CONTEXT_WRAPPED``) is timed from
entering its ``with`` block to leaving it, not just for the call. ``BatchListener`` records micro-batch durations from Spark's
streaming listener bus.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import threading
import time
from collections import defaultdict
from datetime import datetime

PKG = "universal_data_connector_spark"

# (module, attribute, metric): ``attribute`` may be "Class.method".
WRAPPED = (
    ("manager", "load_config", "config.load_s"),
    ("manager", "PipelineManager.start_pipeline",
     "manager.start_pipeline_s"),
    ("engine", "build_parts", "engine.build_parts_s"),
    ("engine", "create_source", "sources.create_source_s"),
    ("engine", "apply_transformations", "engine.apply_transformations_s"),
    ("engine", "finalize_batch_sink", "engine.finalize_batch_sink_s"),
    ("sinks", "create_sink", "sinks.create_sink_s"),
)
# The POSIX writer mark is held for a whole batch commit.
CONTEXT_WRAPPED = (
    ("store_lease", "posix_writer_mark", "store_lease.writer_mark_s"),
)
SPAN_METRICS = tuple(metric for _, _, metric in (*WRAPPED, *CONTEXT_WRAPPED))


class Spans:
    """Thread-safe in-memory span store (epoch seconds)."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._spans: list[tuple[str, float, float]] = []

    def record(self, name: str, start: float, end: float) -> None:
        with self._lock:
            self._spans.append((name, start, end))

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                self.record(name, t0, time.time())
        return timed

    def wrap_context(self, name: str, fn):
        @functools.wraps(fn)
        @contextlib.contextmanager
        def timed(*args, **kwargs):
            t0 = time.time()
            try:
                with fn(*args, **kwargs) as value:
                    yield value
            finally:
                self.record(name, t0, time.time())
        return timed

    def totals(self, start: float, end: float) -> dict[str, float]:
        """Seconds per span name over spans that began in the window."""
        out: dict[str, float] = defaultdict(float)
        with self._lock:
            for name, a, b in self._spans:
                if start <= a <= end:
                    out[name] += b - a
        return out


def install(spans: Spans) -> None:
    """Wrap every entry of ``WRAPPED`` and ``CONTEXT_WRAPPED`` for the
    rest of the process."""
    for entries, wrap in ((WRAPPED, spans.wrap),
                          (CONTEXT_WRAPPED, spans.wrap_context)):
        for mod_name, attr, metric in entries:
            owner = importlib.import_module(f"{PKG}.{mod_name}")
            *path, leaf = attr.split(".")
            for part in path:
                owner = getattr(owner, part)
            setattr(owner, leaf, wrap(metric, getattr(owner, leaf)))


def batch_listener():
    """A ``StreamingQueryListener`` that keeps ``(trigger epoch seconds,
    batch duration seconds)`` per micro-batch in ``.batches``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class BatchListener(StreamingQueryListener):
        def __init__(self):
            self.batches: list[tuple[float, float]] = []

        def onQueryStarted(self, event):  # noqa: N802 - listener API
            pass

        def onQueryProgress(self, event):  # noqa: N802
            p = event.progress
            started = datetime.fromisoformat(p.timestamp).timestamp()
            self.batches.append((started, p.batchDuration / 1e3))

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

    return BatchListener()
