"""Benchmark command for the engine's catalog and YAML-pipeline surfaces.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Workloads (see ``workloads.py``):
``analytics_small`` and ``yaml_pipelines``. Each run:

1. generates the workload's inputs from ``--seed`` (cached per seed under
   ``.perfbench/`` at the repository root, which also holds every file
   a run writes);
2. with ``--trace 0``, starts the Spark driver process ``worker.py``
   ``SETUP_SAMPLES - 1`` times with ``--setup-only`` (killed once ready),
   then once for real;
   ``setup_s`` is the median time from process start to session ready;
3. lets the real worker run one cold pass, check the catalog keys
   against their oracles, then run ``workloads.WARMUP_PASSES`` warm-up
   passes and ``workloads.MEASURED_PASSES`` measured ones, one client in
   a closed loop (with ``--trace 1`` the peak memory of its process tree
   is sampled). ``--seconds`` is accepted and ignored: the number of
   passes is fixed, so every commit measures the same work. Each pass
   records its wall time, its hypervisor steal share and the CPU time
   of the worker's process tree (the Python driver, the JVM and the
   Python workers), in total and per operation;
4. checks every output and prints, as the last stdout line, one JSON
   object ``{"correct", "attempted", "failed", "metrics"}``. The line
   before it records ``error_rate`` (``failed / attempted``), the host
   state (cores, load average, hypervisor steal over the run) and the
   wall times below.

The bounded end-to-end metrics, besides ``setup_s``, are CPU seconds of
the process tree. ``cold_cpu_s`` is all of it over the cold pass. The
warm metrics leave out the JVM's JIT compiler threads, which go on
compiling through the first warm passes (``jvm.jit_cpu_s`` per measured
pass is a per-layer metric); from each operation's median over the
measured passes, ``warm_cpu_s`` is their sum and ``warm_geomean_cpu_s``
their geometric mean, so a slowdown of one small operation is not
hidden by a big one. They count the work the program does for a pass.
Wall times are not bounded: the host lends its cores to other tenants,
and from one minute to the next their load stretched the same warm pass
on a 4-vCPU host from 4.9 s to 9.8 s of wall time (steal 0.01 to 0.24)
while its CPU time went from 12.2 s to 13.8 s; sustained heavy load
moves CPU time too, but less (``README.md``). The wall times
(``cold_s``; per operation medians over measured passes summed as
``warm_s`` and as geometric mean ``warm_geomean_s``; ``submit_s``, the
geometric mean of each operation's median submit time, which is
``POST /api/pipelines/start`` returning for ``yaml_pipelines`` and
``QUERIES[key]`` returning its DataFrame for the catalog workload) are
printed on the line before the result and reported as the traced
``traced.*`` per-layer metrics. ``error_rate`` is ``failed / attempted``
of the result line; it is 0 on a correct run, so it is not a bounded
metric.

``proc.peak_rss_mb`` sums the proportional set size (PSS) of the process
tree, so pages that the JVM and forked Python workers share are counted
once. It is a traced (per-layer) metric: the JVM heap grows with GC
timing, so it varies too much between runs to be bounded.

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a separate traced run of the same code: the same session,
plus Spark's event log, a streaming listener and wrappers timing calls
into the program's modules. Its per-pass and per-job-group detail is
written to ``.perfbench/runs/``. ``traced.warm_s`` minus the ``warm_s``
printed by an untraced run is the tracing overhead.

The only setting given to the program is ``SPARK_GRAFT_CPUS`` = usable
cores. The exit code is 0 only when a result was printed.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import host  # noqa: E402
WORK = os.path.join(ROOT, ".perfbench")
PACKAGE = os.path.join(ROOT, "universal_data_connector_spark")

SETUP_SAMPLES = 2
DEADLINE_S = 170.0
READY_TIMEOUT_S = 60.0

END_TO_END = {
    "setup_s": "s", "cold_cpu_s": "s", "warm_cpu_s": "s",
    "warm_geomean_cpu_s": "s",
}
WALL = ("cold_s", "warm_s", "warm_geomean_s", "submit_s")


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("share", "util", "skew", "rate", "frac")):
        return "ratio"
    return "count"


_LAYER_NAMES = (
    "session.get_spark_s", "rest.start_s",
    "catalog.build_s", "catalog.build_jobs", "catalog.exec_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.job_s",
    "spark.driver_residual_s", "spark.serial_stage_share",
    "spark.task_run_s", "spark.task_cpu_s", "spark.core_util",
    "spark.task_skew", "spark.gc_s", "spark.spill_bytes",
    "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
    "spark.shuffle_write_s", "spark.shuffle_fetch_wait_s",
    "spark.input_bytes", "spark.output_bytes",
    "spark.python_start_s", "spark.python_init_s", "spark.python_run_s",
    "spark.scan_s", "spark.agg_build_s", "spark.sort_s",
    "streaming.batches", "streaming.batch_s",
    "config.load_s", "manager.start_pipeline_s", "engine.build_parts_s",
    "sources.create_source_s", "engine.apply_transformations_s",
    "sinks.create_sink_s", "engine.finalize_batch_sink_s",
    "store_lease.writer_mark_s",
    "cold.spark.jobs", "cold.spark.task_run_s",
    "cold.spark.driver_residual_s", "cold.spark.python_start_s",
    "cold.spark.python_init_s",
    *(f"traced.{name}" for name in WALL), "jvm.jit_cpu_s",
    "proc.peak_rss_mb", "error_rate",
)
PER_LAYER = {name: _unit(name) for name in _LAYER_NAMES}


# --- worker processes ------------------------------------------------------

def _session_pids(sid: int) -> list[int]:
    """Live processes of session ``sid`` (a worker, its JVM and Python
    workers); zombies, which hold no memory, are left out."""
    return [pid for pid, _, fields in host.session_stats(sid)
            if fields[0] != "Z"]


def _pss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class Worker:
    """One ``worker.py`` process in its own session, with its stdout
    markers timestamped and, with ``sample_rss``, between ``TIMED_START``
    and ``TIMED_END`` the summed PSS of its session sampled every
    ``RSS_EVERY_S`` (traced runs only: the sampler takes CPU time)."""

    RSS_EVERY_S = 0.2

    def __init__(self, args: list[str], env: dict, cwd: str, log_path: str,
                 sample_rss: bool = False):
        self.marks: dict[str, float] = {}
        self.peak_rss = 0
        self._changed = threading.Condition()
        self.log = open(log_path, "ab")
        self.t0 = time.time()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), *args],
            stdout=subprocess.PIPE, stderr=self.log, cwd=cwd, env=env,
            start_new_session=True, text=True)
        self._reader = threading.Thread(target=self._read, daemon=True)
        self._reader.start()
        self._sampler = threading.Thread(target=self._sample, daemon=True)
        if sample_rss:
            self._sampler.start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            parts = line.split()
            with self._changed:
                if len(parts) == 2 and parts[0] == "PERFBENCH":
                    self.marks[parts[1]] = time.time()
                else:
                    sys.stderr.write(line)
                self._changed.notify_all()
        with self._changed:
            self.marks["EOF"] = time.time()
            self._changed.notify_all()

    def _sample(self) -> None:
        while "EOF" not in self.marks and "TIMED_END" not in self.marks:
            if "TIMED_START" in self.marks:
                self.peak_rss = max(self.peak_rss, _pss_bytes(
                    _session_pids(self.proc.pid)))
            time.sleep(self.RSS_EVERY_S)

    def wait_mark(self, mark: str, deadline: float) -> float:
        """Seconds from process start to ``mark``; raises if the process
        ends or the deadline passes first."""
        with self._changed:
            while mark not in self.marks:
                if "EOF" in self.marks or time.time() > deadline:
                    raise RuntimeError(f"worker gave no {mark} "
                                       f"(see {self.log.name})")
                self._changed.wait(0.5)
        return self.marks[mark] - self.t0

    def finish(self, deadline: float, kill: bool = False) -> int:
        """Wait for the worker to exit (or, with ``kill``, kill it at
        once; at the deadline, kill it anyway), then kill whatever is
        left of its session and wait until it is gone."""
        if not kill:
            try:
                self.proc.wait(timeout=max(deadline - time.time(), 0.1))
            except subprocess.TimeoutExpired:
                pass
        end = time.time() + 15
        while True:
            self.proc.poll()
            pids = _session_pids(self.proc.pid)
            if not pids or time.time() > end:
                break
            for pid in pids:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
            time.sleep(0.05)
        code = self.proc.wait()
        self._reader.join(timeout=5)
        if self._sampler.is_alive():
            self._sampler.join(timeout=5)
        self.log.close()
        return code


# --- one run ---------------------------------------------------------------

def _env(run_dir: str, trace: bool, eventlog_dir: str) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # keep the JVM's temp files and perf counters inside the checkout
    env["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (env.get("JAVA_TOOL_OPTIONS"),
                    f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if p)
    if trace:
        os.makedirs(eventlog_dir, exist_ok=True)
        confs = " ".join(f"--conf {k}={v}" for k, v in (
            ("spark.eventLog.enabled", "true"),
            ("spark.eventLog.dir", f"file://{eventlog_dir}"),
            ("spark.eventLog.compress", "false"),
            ("spark.eventLog.rolling.enabled", "false")))
        env["PYSPARK_SUBMIT_ARGS"] = (
            f"{confs} {env.get('PYSPARK_SUBMIT_ARGS') or 'pyspark-shell'}")
    return env


def _geomean(values: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(max(v, 1e-9))
                                     for v in values))


def _op_medians(passes: list[dict], field: str) -> list[float]:
    """Each operation's median of ``field`` over ``passes``; an operation
    that failed in a pass has no submit time there."""
    ops = passes[0]["ops_s"]
    samples = [[p[field][op] for p in passes if op in p[field]]
               for op in ops]
    return [statistics.median(s) for s in samples if s]


def summarize(result: dict, setup: list[float]) -> dict:
    """End-to-end metrics and wall times from the worker's passes."""
    passes = result["passes"]
    measured = [p for p in passes if p["measured"]]
    warm = _op_medians(measured, "ops_s")
    warm_cpu = _op_medians(measured, "ops_cpu_s")
    return {
        "setup_s": statistics.median(setup),
        "cold_cpu_s": passes[0]["cpu_s"] + passes[0]["jit_cpu_s"],
        "warm_cpu_s": sum(warm_cpu),
        "warm_geomean_cpu_s": _geomean(warm_cpu),
        "cold_s": passes[0]["wall_s"],
        "warm_s": sum(warm),
        "warm_geomean_s": _geomean(warm),
        "submit_s": _geomean(_op_medians(measured, "submit_s")),
        "jit_cpu_s": statistics.median(p["jit_cpu_s"] for p in measured),
    }


def run(args, run_dir: str, data_dir: str | None) -> dict:
    deadline = time.time() + DEADLINE_S
    eventlog_dir = os.path.join(run_dir, "eventlog")
    env = _env(run_dir, bool(args.trace), eventlog_dir)
    log_path = os.path.join(run_dir, "worker.log")
    base = ["--workload", args.workload, "--seed", str(args.seed),
            "--trace", str(args.trace),
            "--root", os.path.join(run_dir, "pipelines"),
            "--eventlog-dir", eventlog_dir]
    if data_dir:
        base += ["--data", data_dir]

    setup, t0 = [], time.time()
    phases = {}
    for _ in range(0 if args.trace else SETUP_SAMPLES - 1):
        w = Worker([*base, "--setup-only"], env, run_dir, log_path)
        try:
            setup.append(w.wait_mark("READY",
                                     min(deadline, time.time()
                                         + READY_TIMEOUT_S)))
        finally:
            # a probe only measures set-up: stop it the fastest way
            w.finish(deadline, kill=True)

    result_path = os.path.join(run_dir, "result.json")
    w = Worker([*base, "--result", result_path], env, run_dir, log_path,
               sample_rss=bool(args.trace))
    try:
        setup.append(w.wait_mark("READY", min(deadline, time.time()
                                              + READY_TIMEOUT_S)))
        phases["ready"] = time.time() - t0
        w.wait_mark("TIMED_END", deadline)
        phases["timed_end"] = time.time() - t0
    finally:
        code = w.finish(deadline)
        phases["exit"] = time.time() - t0
    if code != 0:
        raise RuntimeError(f"worker exited {code} (see {log_path})")
    with open(result_path) as fh:
        result = json.load(fh)
    result["setup_s"] = setup
    result["phases"] = phases
    result["peak_rss"] = w.peak_rss
    return result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float,
                    help="ignored: run length is fixed per workload")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(PACKAGE):
        print(f"perfbench: no program to measure at {PACKAGE}",
              file=sys.stderr)
        return 2
    from perfbench import datagen, workloads

    if args.workload not in workloads.NAMES:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {', '.join(workloads.NAMES)}", file=sys.stderr)
        return 2

    data_dir = None
    if args.workload in workloads.CATALOG:
        data_dir = datagen.catalog_tables(
            WORK, args.workload, args.seed,
            workloads.CATALOG[args.workload][1])
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    before = host.sample()
    try:
        result = run(args, run_dir, data_dir)
    except (RuntimeError, OSError, ValueError, KeyError) as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        log = os.path.join(run_dir, "worker.log")
        if os.path.exists(log):
            with open(log, errors="replace") as fh:
                sys.stderr.write(fh.read()[-4000:])
        shutil.rmtree(run_dir, ignore_errors=True)
        return 1
    state = host.state(before, host.sample())
    shutil.rmtree(run_dir, ignore_errors=True)

    failed = sum(p["failed"] for p in result["passes"]) + sum(
        1 for f in result["failures"] if f.startswith("verify "))
    attempted = result["attempted"]
    for f in result["failures"]:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    values = summarize(result, result["setup_s"])
    if args.trace:
        layers = dict(result["layers"])
        layers.update({f"traced.{k}": values[k] for k in WALL})
        layers["jvm.jit_cpu_s"] = values["jit_cpu_s"]
        layers["error_rate"] = failed / attempted
        layers["proc.peak_rss_mb"] = result["peak_rss"] / 2**20
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": values[k], "unit": u}
                   for k, u in END_TO_END.items()}
    record = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "host": state, "setup_samples_s":
              result["setup_s"], "metrics": metrics, **{
                  k: result[k] for k in ("passes", "failures", "phases", "verify_s",
                                         "layers_per_pass") if k in result}}
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    with open(os.path.join(WORK, "runs", f"{args.workload}-seed{args.seed}"
                           f"-trace{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps({"error_rate": failed / attempted, "host": state,
                      "wall": {k: values[k] for k in WALL}}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
