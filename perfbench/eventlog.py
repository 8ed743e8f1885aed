"""Stdlib-only reader for Spark's JSON event log.

The traced benchmark run enables ``spark.eventLog`` (uncompressed, not
rolling: ``zstandard`` is not installed, and one file is simpler to read
after ``spark.stop()``). This module turns that log into per-layer
numbers for a wall-clock window (one benchmark pass) and for each job
group (one catalog key or pipeline run within a pass).

Every event is attributed by time: a job by its submission time, a stage
by its submission time and a task by its launch time. The benchmark
client is a closed loop, so the windows of two passes never overlap.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

# SQL operator metrics of type "timing" (milliseconds), summed over the
# task updates, keyed by the name Spark gives them in the plan.
SQL_TIMERS = {
    "time to start Python workers": "spark.python_start_s",
    "time to initialize Python workers": "spark.python_init_s",
    "time to run Python workers": "spark.python_run_s",
    "scan time": "spark.scan_s",
    "time in aggregation build": "spark.agg_build_s",
    "sort time": "spark.sort_s",
}

# Every metric ``window`` returns, in a fixed order.
WINDOW_METRICS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.job_s",
    "spark.driver_residual_s", "spark.serial_stage_share",
    "spark.task_run_s", "spark.task_cpu_s", "spark.core_util",
    "spark.task_skew", "spark.gc_s", "spark.spill_bytes",
    "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
    "spark.shuffle_write_s", "spark.shuffle_fetch_wait_s",
    "spark.input_bytes", "spark.output_bytes", *SQL_TIMERS.values(),
)


@dataclass
class Job:
    id: int
    group: str | None
    submit_ms: int
    stage_ids: list[int]
    end_ms: int | None = None
    succeeded: bool | None = None


@dataclass
class Stage:
    id: int
    n_tasks: int
    submit_ms: int
    end_ms: int


@dataclass
class Task:
    stage_id: int
    launch_ms: int
    run_ms: float
    cpu_ns: float
    gc_ms: float
    spill_bytes: float
    shuffle_write_bytes: float
    shuffle_write_ns: float
    shuffle_read_bytes: float
    fetch_wait_ms: float
    input_bytes: float
    output_bytes: float
    sql_ms: dict[str, float] = field(default_factory=dict)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _task(ev: dict) -> Task | None:
    info, tm = ev.get("Task Info") or {}, ev.get("Task Metrics")
    if not tm:
        return None
    sr = tm.get("Shuffle Read Metrics") or {}
    sw = tm.get("Shuffle Write Metrics") or {}
    sql: dict[str, float] = defaultdict(float)
    for acc in info.get("Accumulables") or ():
        name = SQL_TIMERS.get(acc.get("Name"))
        if name is not None:
            sql[name] += _num(acc.get("Update"))
    return Task(
        stage_id=ev["Stage ID"],
        launch_ms=info.get("Launch Time", 0),
        run_ms=_num(tm.get("Executor Run Time")),
        cpu_ns=_num(tm.get("Executor CPU Time")),
        gc_ms=_num(tm.get("JVM GC Time")),
        spill_bytes=_num(tm.get("Disk Bytes Spilled")),
        shuffle_write_bytes=_num(sw.get("Shuffle Bytes Written")),
        shuffle_write_ns=_num(sw.get("Shuffle Write Time")),
        shuffle_read_bytes=(_num(sr.get("Remote Bytes Read"))
                            + _num(sr.get("Local Bytes Read"))),
        fetch_wait_ms=_num(sr.get("Fetch Wait Time")),
        input_bytes=_num((tm.get("Input Metrics") or {}).get("Bytes Read")),
        output_bytes=_num(
            (tm.get("Output Metrics") or {}).get("Bytes Written")),
        sql_ms=dict(sql),
    )


def union_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class EventLog:
    """Jobs, completed stages and finished tasks of one application."""

    def __init__(self) -> None:
        self.jobs: dict[int, Job] = {}
        self.stages: list[Stage] = []
        self.tasks: list[Task] = []

    @classmethod
    def parse(cls, lines) -> EventLog:
        log = cls()
        for line in lines:
            line = line.strip()
            if not line:
                continue
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                log.jobs[ev["Job ID"]] = Job(
                    ev["Job ID"], props.get("spark.jobGroup.id"),
                    ev["Submission Time"], list(ev.get("Stage IDs") or ()))
            elif kind == "SparkListenerJobEnd":
                job = log.jobs.get(ev["Job ID"])
                if job is not None:
                    job.end_ms = ev["Completion Time"]
                    job.succeeded = (ev.get("Job Result") or {}).get(
                        "Result") == "JobSucceeded"
            elif kind == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                if "Submission Time" in si and "Completion Time" in si:
                    log.stages.append(Stage(
                        si["Stage ID"], si.get("Number of Tasks", 0),
                        si["Submission Time"], si["Completion Time"]))
            elif kind == "SparkListenerTaskEnd":
                task = _task(ev)
                if task is not None:
                    log.tasks.append(task)
        return log

    @classmethod
    def read(cls, path: str) -> EventLog:
        with open(path, encoding="utf-8") as fh:
            return cls.parse(fh)

    def window(self, start_ms: float, end_ms: float,
               cores: int) -> dict[str, float]:
        """Layer metrics for the work submitted in ``[start_ms, end_ms]``.

        ``spark.job_s`` is the part of the window that some job covers,
        and ``spark.driver_residual_s`` the rest, so the two add up to
        the window's wall time.
        """
        wall_ms = max(end_ms - start_ms, 1e-9)
        jobs = [j for j in self.jobs.values()
                if start_ms <= j.submit_ms <= end_ms]
        stages = [s for s in self.stages
                  if start_ms <= s.submit_ms <= end_ms]
        tasks = [t for t in self.tasks
                 if start_ms <= t.launch_ms <= end_ms]
        covered = union_ms(((j.submit_ms, j.end_ms if j.end_ms is not None
                             else end_ms) for j in jobs), start_ms, end_ms)
        by_stage: dict[int, list[float]] = defaultdict(list)
        for t in tasks:
            by_stage[t.stage_id].append(t.run_ms)
        multi = [ts for ts in by_stage.values() if len(ts) > 1]
        mean_sum = sum(sum(ts) / len(ts) for ts in multi)
        run_ms = sum(t.run_ms for t in tasks)
        out = {
            "spark.jobs": float(len(jobs)),
            "spark.stages": float(len(stages)),
            "spark.tasks": float(len(tasks)),
            "spark.job_s": covered / 1e3,
            "spark.driver_residual_s": (wall_ms - covered) / 1e3,
            "spark.serial_stage_share": sum(
                s.end_ms - s.submit_ms for s in stages
                if s.n_tasks == 1) / wall_ms,
            "spark.task_run_s": run_ms / 1e3,
            "spark.task_cpu_s": sum(t.cpu_ns for t in tasks) / 1e9,
            "spark.core_util": run_ms / (wall_ms * max(cores, 1)),
            "spark.task_skew": (sum(max(ts) for ts in multi) / mean_sum
                                if mean_sum > 0 else 0.0),
            "spark.gc_s": sum(t.gc_ms for t in tasks) / 1e3,
            "spark.spill_bytes": sum(t.spill_bytes for t in tasks),
            "spark.shuffle_write_bytes": sum(
                t.shuffle_write_bytes for t in tasks),
            "spark.shuffle_read_bytes": sum(
                t.shuffle_read_bytes for t in tasks),
            "spark.shuffle_write_s": sum(
                t.shuffle_write_ns for t in tasks) / 1e9,
            "spark.shuffle_fetch_wait_s": sum(
                t.fetch_wait_ms for t in tasks) / 1e3,
            "spark.input_bytes": sum(t.input_bytes for t in tasks),
            "spark.output_bytes": sum(t.output_bytes for t in tasks),
        }
        for name in SQL_TIMERS.values():
            out[name] = sum(t.sql_ms.get(name, 0.0) for t in tasks) / 1e3
        return out

    def by_group(self) -> dict[str, dict[str, float]]:
        """First job submission (``first_ms``), jobs, job-covered seconds,
        tasks and task run seconds per job group (jobs without a group
        are left out)."""
        stage_job = {sid: j for j in self.jobs.values()
                     for sid in j.stage_ids}
        out: dict[str, dict[str, float]] = {}
        spans: dict[str, list[tuple[int, int]]] = defaultdict(list)
        for j in self.jobs.values():
            if j.group is None:
                continue
            g = out.setdefault(j.group, {
                "first_ms": j.submit_ms, "jobs": 0.0, "job_s": 0.0,
                "tasks": 0.0, "task_run_s": 0.0})
            g["first_ms"] = min(g["first_ms"], j.submit_ms)
            g["jobs"] += 1
            spans[j.group].append((j.submit_ms, j.end_ms or j.submit_ms))
        for t in self.tasks:
            job = stage_job.get(t.stage_id)
            if job is not None and job.group in out:
                out[job.group]["tasks"] += 1
                out[job.group]["task_run_s"] += t.run_ms / 1e3
        for group, iv in spans.items():
            out[group]["job_s"] = union_ms(
                iv, float("-inf"), float("inf")) / 1e3
        return out
