"""Pipeline manager: the control plane over running pipelines.

Mirrors the reference's REST-shaped operations
(``controller/PipelineController.java`` -> ``service/PipelineService
.java`` -> ``pipeline/PipelineManager.java`` in
ThatNinjaGuy/universal-data-connector) over Spark jobs:

| reference op                          | here                        |
|---------------------------------------|-----------------------------|
| POST /api/pipelines/start             | ``start_all(config_path)``  |
| POST /api/pipelines/stop/{jobName}    | ``stop(job_name)``          |
| POST /api/pipelines/stop-all          | ``stop_all()``              |
| GET  /api/pipelines/status            | ``status()``                |
| GET  /api/pipelines/jobs              | ``jobs()``                  |
| GET  /api/pipelines/jobs/{n}/status   | ``is_running(job_name)``    |
| GET  /api/pipelines/count             | ``count()``                 |

Job names are unique per submission: ``<pipeline>-<millis>``
(``PipelineManager.java:57-61``). Per-pipeline failure isolation: one
bad pipeline logs and does not stop the rest
(``PipelineManager.java:44-50``). Streaming pipelines map to
``StreamingQuery`` handles; batch pipelines run on a worker thread so
submission returns immediately (the reference's Jet submission
boundary, SURVEY.md §3) and terminal state is observable — COMPLETED /
FAILED — which the reference's park-forever JDBC one-shot never reaches
(documented improvement, SURVEY.md §7.4.4).
"""

from __future__ import annotations

import contextlib
import logging
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from universal_data_connector_spark import engine
from universal_data_connector_spark.config import PipelineConfig, load_config

log = logging.getLogger(__name__)


@dataclass
class Job:
    name: str
    pipeline: str
    submission_time_ms: int
    kind: str  # "batch" | "streaming"
    query: StreamingQuery | None = None
    thread: threading.Thread | None = None
    # the prepared pipeline run (engine.prepare, at submission); closed
    # when the job reaches a terminal state, which releases this job's
    # writer-mark spans and drops its frames, so the kept record holds
    # no materialized blocks. None for maintenance jobs.
    run: engine.PipelineRun | None = field(default=None, repr=False)
    _state: str = "RUNNING"
    error: str | None = None
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)

    @property
    def status(self) -> str:
        if self.kind == "streaming" and self.query is not None:
            if self.query.isActive:
                return "RUNNING"
            # the stream reached a terminal state on its own (failure /
            # source exhaustion): its run has no consumer left
            self.run.close()
            return "FAILED" if self.query.exception() else "COMPLETED"
        with self._lock:
            return self._state

    def _finish(self, state: str, error: str | None = None) -> None:
        """Transition to a terminal state exactly once: a stop() that
        already marked the job CANCELLED wins over the worker thread
        later observing the cancellation as a failure."""
        with self._lock:
            if self._state == "RUNNING":
                self._state = state
                self.error = error

    @property
    def is_running(self) -> bool:
        return self.status == "RUNNING"

    #: async-maintenance result payload (compacted/vacuumed listing);
    #: None for pipeline jobs
    result: dict | None = None

    def info(self) -> dict:
        """DTO shape of ``dto/JobInfo.java:8-34``. PIPELINE jobs keep
        exactly that shape (failed ones included — the reference
        exposes no error field either); async MAINTENANCE jobs, which
        have no reference DTO to match, additionally carry their
        result / error once terminal so the handle is pollable."""
        out = {"name": self.name, "status": self.status,
               "submissionTime": self.submission_time_ms}
        if self.pipeline.startswith("maintenance:"):
            if self.result is not None:
                out["result"] = self.result
            if self.error is not None:
                out["error"] = self.error
        return out


class MaintenanceConflict(RuntimeError):
    """Offline store maintenance refused: jobs are running (or another
    maintenance operation holds the window)."""

    def __init__(self, message: str, running: list[str]):
        super().__init__(message)
        self.running = running


class PipelineManager:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._jobs: dict[str, Job] = {}
        self._lock = threading.Lock()
        self._last_ms = 0
        self._maintenance = False

    # -- maintenance window ----------------------------------------------

    @contextlib.contextmanager
    def maintenance_window(self, pipelines: list[str]):
        """Exclusive window for offline store maintenance (r15 review:
        the one-shot running check was a TOCTOU — a pipeline starting
        DURING a long compaction re-opened the rename-swap data-loss
        race the check exists to prevent). Entry refuses while any job
        of the named pipeline configs is running or another window is
        open; for the window's duration ``start_pipeline`` refuses new
        submissions (checked at entry AND atomically at registration,
        so a submission in flight when the window opens aborts before
        its worker starts)."""
        with self._lock:
            if self._maintenance:
                raise MaintenanceConflict(
                    "another maintenance operation is running", [])
            live = {j.pipeline for j in self._jobs.values()
                    if j.is_running}
            running = sorted(set(pipelines) & live)
            if running:
                raise MaintenanceConflict(
                    "store maintenance is offline-only: stop the "
                    "running pipeline job(s) first", running)
            self._maintenance = True
        try:
            yield
        finally:
            with self._lock:
                self._maintenance = False

    def run_maintenance_async(self, cfg, op: str) -> str:
        """Offline store maintenance as a BACKGROUND job (VERDICT r16
        item 5): the manager window is entered SYNCHRONOUSLY — a
        conflict (running pipelines, another maintenance op) raises
        ``MaintenanceConflict`` before anything is registered — and is
        held by the worker thread for the op's duration, so the
        control plane stays responsive while a large-store compaction
        runs. Progress is a regular entry on the jobs surface
        (status RUNNING → COMPLETED/FAILED, result/error attached);
        ``stop()`` cancels its Spark jobs like any batch job. The
        per-store lease (r16) still guards writers the window cannot
        see, and heartbeat-renews for the op's duration (r17)."""
        from universal_data_connector_spark.maintenance import (
            compact_stores,
            vacuum_stores,
        )

        if op not in ("compact", "vacuum"):
            raise ValueError("op must be 'compact' or 'vacuum'")
        window = self.maintenance_window([p.name for p in cfg.pipelines])
        window.__enter__()  # sync refusal: MaintenanceConflict surfaces
        try:
            with self._lock:
                submit_ms = max(int(time.time() * 1000),
                                self._last_ms + 1)
                self._last_ms = submit_ms
            job_name = f"maintenance-{op}-{submit_ms}"
            job = Job(job_name, f"maintenance:{op}", submit_ms, "batch")

            def target() -> None:
                try:
                    self.spark.sparkContext.setJobGroup(
                        job_name, f"maintenance {op}", True)
                    if not job.is_running:  # stop() landed first
                        return
                    # keep_going: a stop() mid-op lands at the next
                    # STORE boundary (vacuum runs no Spark jobs, so
                    # the job-group cancel alone can't reach it)
                    if op == "compact":
                        job.result = {"compacted": compact_stores(
                            self.spark, cfg,
                            keep_going=lambda: job.is_running)}
                    else:
                        job.result = {"vacuumed": vacuum_stores(
                            cfg, keep_going=lambda: job.is_running)}
                    job._finish("COMPLETED")
                except Exception as exc:  # noqa: BLE001 - job records it
                    job._finish("FAILED", str(exc))
                    log.exception("async maintenance %s failed",
                                  job_name)
                finally:
                    window.__exit__(None, None, None)

            # attach the thread BEFORE registering so a stop() racing
            # the registration always sees a stoppable job, and keep
            # thread.start() inside the cleanup scope: a start() that
            # raises (thread exhaustion) must release the window and
            # unregister instead of wedging the manager forever
            job.thread = threading.Thread(target=target, name=job_name,
                                          daemon=True)
            with self._lock:
                self._jobs[job_name] = job
            try:
                job.thread.start()
            except BaseException:
                with self._lock:
                    self._jobs.pop(job_name, None)
                raise
        except BaseException:
            window.__exit__(None, None, None)
            raise
        return job_name

    # -- start ----------------------------------------------------------

    def start_all(self, config) -> list[str]:
        """Start every pipeline in a YAML path or an already-parsed
        EngineConfig (callers who need the pipeline COUNT for exit
        semantics pass the parsed config so count and start see one
        read — a re-read races concurrent config edits)."""
        cfg = config if hasattr(config, "pipelines") else \
            load_config(config)
        started = []
        for p in cfg.pipelines:
            try:
                started.append(self.start_pipeline(p))
            except Exception:  # noqa: BLE001 - isolation (:44-50)
                log.exception("failed to start pipeline %s", p.name)
        return started

    def start_pipeline(self, cfg: PipelineConfig,
                       streaming: bool | None = None) -> str:
        if streaming is None:
            streaming = _wants_streaming(cfg)
        # jdbc "streaming" is a one-time paged read in the reference —
        # run it with its real (batch) semantics instead of raising on
        # a ported YAML (engine.effective_streaming logs the downgrade)
        streaming = engine.effective_streaming(cfg, streaming)
        # refuse inside a maintenance window, then take a monotonic
        # submission stamp: two submissions of one pipeline in the same
        # millisecond would otherwise collide on the job name, silently
        # orphaning the first job's handle AND sharing one Spark job
        # group (stop() would cancel both)
        with self._lock:
            if self._maintenance:
                raise MaintenanceConflict(
                    "store maintenance is in progress on this manager; "
                    "retry after it completes", [])
            submit_ms = max(int(time.time() * 1000), self._last_ms + 1)
            self._last_ms = submit_ms
        job_name = f"{cfg.name}-{submit_ms}"
        # Prepare the run synchronously: config/connector errors
        # surface at submission (the reference's per-pipeline try/catch
        # boundary, PipelineManager.java:44-50); execution is deferred.
        # From here on, every path that ends the job or never registers
        # it closes the run (a failed prepare closes its own).
        run = engine.prepare(self.spark, cfg, streaming)
        job = Job(job_name, cfg.name, submit_ms,
                  "streaming" if streaming else "batch", run=run)
        if not streaming:
            # attach the thread BEFORE registering so a stop() racing
            # the registration always sees a stoppable job
            job.thread = threading.Thread(
                target=self._execute, args=(job,), name=job_name,
                daemon=True)
        # Register BEFORE anything runs (r15 review, ADVICE r15): a
        # streaming query's micro-batch 0 can append to a seen store
        # the moment start() returns, and running_pipelines()/the
        # maintenance check must never miss a job that is already
        # doing work. Registration is also the atomic re-check against
        # a maintenance window that opened while this pipeline was
        # building: under the lock, it refuses BEFORE anything runs.
        with self._lock:
            aborted = self._maintenance
            if not aborted:
                self._jobs[job_name] = job
        if aborted:
            # the run may hold a batch dedup_state writer-mark span,
            # whose heartbeat would otherwise renew the mark forever
            # (live pid + live nonce, never stale) and refuse the very
            # maintenance op that aborted us (ADVICE r18, high)
            run.close()
            raise MaintenanceConflict(
                "store maintenance began while this pipeline was "
                "building; retry after it completes", [])
        try:
            query = run.start() if streaming else job.thread.start()
        except BaseException:
            # a query that fails to start, or can't-spawn-thread (the
            # worker's cleanup will never run): deregister and close
            # here instead of leaking a registered zombie job
            with self._lock:
                self._jobs.pop(job_name, None)
            run.close()
            raise
        if streaming:
            # a stop()/stop_all() that landed between registration and
            # start marked the job CANCELLED: honor it instead of
            # leaving an orphaned live query behind
            with job._lock:
                cancelled = job._state != "RUNNING"
                if not cancelled:
                    job.query = query
            if cancelled:
                with contextlib.suppress(Exception):
                    query.stop()
                run.close()
        return job_name

    def _execute(self, job: Job) -> None:
        """Worker thread of one batch job: execute its run, record the
        terminal state, close the run."""
        try:
            # Tag every Spark job this pipeline submits with its own
            # job group so stop(job_name) can cancel just this pipeline
            # (the reference's per-job stopPipeline,
            # PipelineManager.java:74-81). PySpark's pinned-thread mode
            # makes the group local to this worker thread, which ends
            # with the pipeline: no clearJobGroup needed.
            self.spark.sparkContext.setJobGroup(
                job.name, f"pipeline {job.pipeline}", interruptOnCancel=True)
            if job.status == "CANCELLED":
                # stop() landed before the group tag existed; its
                # cancelJobGroup hit nothing — bail before the first
                # action instead of running the pipeline to completion
                # under a CANCELLED status
                return
            try:
                # a stop() that lands mid-sequence is re-checked
                # before every post-sink step
                job.run.execute(
                    cancelled=lambda: job.status == "CANCELLED")
                job._finish("COMPLETED")
            except Exception as exc:  # noqa: BLE001
                if job.status == "CANCELLED":
                    return  # stop() already recorded the outcome
                log.exception("pipeline %s failed", job.pipeline)
                job._finish("FAILED", str(exc))
        finally:
            job.run.close()

    # -- stop -----------------------------------------------------------

    def stop(self, job_name: str) -> bool:
        with self._lock:
            job = self._jobs.get(job_name)
        if job is None:
            return False
        if job.query is not None:
            job.query.stop()
            # the stream is down: its run has no consumer left
            job.run.close()
        elif job.kind == "streaming":
            # registered but the query handle is not attached yet (the
            # instant between registration and start()): mark CANCELLED
            # — start_pipeline observes the terminal state right after
            # start() and stops the fresh query instead of orphaning it
            job._finish("CANCELLED")
        elif job.thread is not None:
            # Cancel only this pipeline's Spark jobs — other running
            # pipelines keep their isolation (the worker thread tagged
            # them with setJobGroup(job_name) at start). Mark CANCELLED
            # first: the worker re-checks it after setJobGroup, closing
            # the stop-before-tag race. No is_alive() gate (r17): a
            # stop() landing in the register-to-start instant must
            # still mark CANCELLED (the worker's re-check honors it);
            # on an already-finished job both the mark and the group
            # cancel are no-ops.
            job._finish("CANCELLED")
            sc = self.spark.sparkContext
            try:
                # a multi-action sink keeps submitting Spark jobs after
                # the active one dies; cancel future submissions in the
                # group too (JVM API, Spark >= 4.0)
                sc._jsc.sc().cancelJobGroupAndFutureJobs(job_name)
            except Exception:  # noqa: BLE001 - older/py4j-less builds
                sc.cancelJobGroup(job_name)
        return True

    def stop_all(self) -> int:
        n = 0
        with self._lock:
            names = list(self._jobs)
        for name in names:
            job = self._jobs.get(name)
            if job is not None and job.is_running and self.stop(name):
                n += 1
        return n

    # -- introspection ---------------------------------------------------

    def _snapshot(self) -> list[Job]:
        """Copy under the lock: the ThreadingHTTPServer serves these
        from handler threads while start_pipeline mutates the dict —
        unlocked iteration raises 'dictionary changed size during
        iteration' on a concurrent insert."""
        with self._lock:
            return list(self._jobs.values())

    def status(self) -> dict:
        running = sum(1 for j in self._snapshot() if j.is_running)
        return {"runningCount": running, "hasRunningPipelines": running > 0}

    def jobs(self) -> list[dict]:
        return [j.info() for j in self._snapshot()]

    def is_running(self, job_name: str) -> bool:
        with self._lock:
            job = self._jobs.get(job_name)
        return job is not None and job.is_running

    def running_pipelines(self) -> set:
        """Names of the PIPELINE CONFIGS with at least one running job
        (job names carry a submission stamp; this is the config-name
        view — what the maintenance guard needs)."""
        return {j.pipeline for j in self._snapshot() if j.is_running}

    def count(self) -> int:
        return sum(1 for j in self._snapshot() if j.is_running)

    def wait(self, timeout: float | None = None) -> bool:
        """Wait for all batch jobs to reach a terminal state (test /
        --once helper). Returns True if everything finished."""
        deadline = None if timeout is None else time.time() + timeout
        for job in self._snapshot():
            if job.thread is not None:
                remaining = None if deadline is None else max(0.0, deadline - time.time())
                job.thread.join(remaining)
        return all(not j.is_running for j in self._snapshot()
                   if j.kind == "batch")


def _wants_streaming(cfg: PipelineConfig) -> bool:
    """Streaming iff the source is unbounded-by-nature (kafka) or the
    config asks for it; the reference runs everything as an unbounded
    stream (SURVEY.md §1.4) — we default file/jdbc pipelines to finite
    batch, the semantically honest mode."""
    if str(cfg.source.properties.get("streaming", "")).lower() == "true":
        return True
    if cfg.source.type == "kafka":
        # loopback brokers (bootstrapServers: loopback:///dir) are
        # batch-only: one poll per run, consumer-group offsets for
        # incrementality (sources/kafka.py)
        from universal_data_connector_spark.kafka_loopback import (
            is_loopback,
        )
        return not is_loopback(cfg.source.properties)
    return False
