"""Spark driver process of one benchmark run.

Started by ``run.py``, which times it from process start to the
``PERFBENCH READY`` line (imports, ``session.get_spark`` with the JVM
launch, and for ``yaml_pipelines`` the REST server start). With
``--setup-only`` it stops there. Otherwise it runs a cold pass, checks
the catalog keys against their oracles, runs
``workloads.WARMUP_PASSES`` warm-up passes and
``workloads.MEASURED_PASSES`` measured ones, checking each pass's
outputs, and writes a JSON result.

With ``--trace 1`` the session additionally writes Spark's event log
(set through ``PYSPARK_SUBMIT_ARGS`` by ``run.py``), a streaming
listener records micro-batches, and ``tracing.install`` wraps the
program's module functions; the result then carries per-layer numbers.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import eventlog, host, tracing, workloads  # noqa: E402

# Span totals reported per pass (benchmark-side spans and wrappers).
PASS_SPANS = ("catalog.build_s", "catalog.exec_s", *tracing.SPAN_METRICS)
# Cold-pass values of the layers that mostly move the cold pass's time.
COLD_LAYERS = ("spark.jobs", "spark.task_run_s", "spark.driver_residual_s",
               "spark.python_start_s", "spark.python_init_s")


def _ready(tag: str) -> None:
    print(f"PERFBENCH {tag}", flush=True)


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


class Runner:
    def __init__(self, workload, warmup: int):
        self.wl, self.warmup = workload, warmup
        self.cpu = host.SessionCpu(os.getsid(0))
        self.passes: list[dict] = []
        self.attempted = 0
        self.failures: list[str] = []

    def one_pass(self, pass_no: int) -> None:
        prep = time.time()
        self.wl.prepare(pass_no)
        ops, ops_cpu, submits, failed = {}, {}, {}, 0
        before = host.sample()
        cpu0, jit0 = self.cpu.sample()
        start = time.time()
        for op in self.wl.ops:
            c0, j0 = self.cpu.sample()
            t0 = time.time()
            try:
                submits[op] = self.wl.run(op, pass_no)
            except Exception as exc:  # noqa: BLE001 - counted, run goes on
                traceback.print_exc()
                self.failures.append(f"pass {pass_no} {op}: {exc}"[:400])
                failed += 1
            ops[op] = time.time() - t0
            c1, j1 = self.cpu.sample()
            ops_cpu[op] = (c1 - c0) - (j1 - j0)
            self.attempted += 1
        end = time.time()
        cpu, jit = self.cpu.sample()
        steal = host.state(before, host.sample())["steal_frac"]
        try:
            bad = self.wl.verify_pass(pass_no)
        except Exception as exc:  # noqa: BLE001 - counted as wrong output
            traceback.print_exc()
            bad = [f"verify: {exc}"[:400]]
        self.failures += [f"pass {pass_no} {b}" for b in bad]
        self.passes.append({"pass": pass_no, "start": start, "end": end,
                            "measured": pass_no > self.warmup,
                            "wall_s": end - start, "ops_s": ops,
                            "submit_s": submits,
                            "prepare_s": start - prep,
                            "verify_s": time.time() - end,
                            "steal_frac": steal,
                            "cpu_s": (cpu - cpu0) - (jit - jit0),
                            "jit_cpu_s": jit - jit0,
                            "ops_cpu_s": ops_cpu,
                            "failed": failed + len(bad)})

    def run(self) -> None:
        """The cold pass, the oracle check (which also warms the session
        up), then the warm-up and the measured passes."""
        _ready("TIMED_START")
        self.one_pass(0)
        t0 = time.time()
        self.failures += [f"verify {f}" for f in self.wl.verify()]
        self.verify_s = time.time() - t0
        for pass_no in range(1, 1 + self.warmup
                             + workloads.MEASURED_PASSES):
            self.one_pass(pass_no)
        _ready("TIMED_END")


def layer_metrics(runner: Runner, spans, log: eventlog.EventLog,
                  batches, cores: int) -> tuple[dict, list[dict]]:
    """Per-pass layer metrics and their summary: the median over measured
    passes, plus cold-pass values and setup spans."""
    groups = log.by_group()
    per_pass = []
    for ps in runner.passes:
        lo, hi = ps["start"], ps["end"]
        m = log.window(lo * 1e3, hi * 1e3, cores)
        totals = spans.totals(lo, hi)
        m.update({name: totals.get(name, 0.0) for name in PASS_SPANS})
        m["catalog.build_jobs"] = sum(
            g["jobs"] for name, g in groups.items()
            if name.endswith(f"#{ps['pass']}#build"))
        in_pass = [d for t, d in batches if lo <= t <= hi]
        m["streaming.batches"] = float(len(in_pass))
        m["streaming.batch_s"] = sum(in_pass)
        m["wall_s"] = ps["wall_s"]
        m["groups"] = {name: g for name, g in groups.items()
                       if lo * 1e3 <= g["first_ms"] <= hi * 1e3}
        per_pass.append(m)
    measured = [m for m, ps in zip(per_pass, runner.passes)
                if ps["measured"]]
    summary = {name: _median(p[name] for p in measured)
               for name in per_pass[0] if name not in ("groups", "wall_s")}
    for name in COLD_LAYERS:
        summary[f"cold.{name}"] = per_pass[0][name]
    setup = spans.totals(0.0, float("inf"))
    for name in ("session.get_spark_s", "rest.start_s"):
        summary[name] = setup.get(name, 0.0)
    return summary, per_pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=workloads.NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--data", help="catalog tables directory")
    ap.add_argument("--root", required=True, help="run scratch directory")
    ap.add_argument("--result", help="where to write the JSON result")
    ap.add_argument("--eventlog-dir")
    ap.add_argument("--setup-only", action="store_true")
    args = ap.parse_args(argv)

    spans = tracing.Spans()
    if args.trace:
        tracing.install(spans)
    from universal_data_connector_spark.session import get_spark

    t0 = time.time()
    spark = get_spark("perfbench")
    spans.record("session.get_spark_s", t0, time.time())
    listener = None
    if args.trace:
        listener = tracing.batch_listener()
        spark.streams.addListener(listener)
    if args.workload in workloads.CATALOG:
        wl = workloads.CatalogWorkload(spark, spans, args.data,
                                       workloads.CATALOG[args.workload][0])
    else:
        wl = workloads.PipelineWorkload(spark, spans, args.root, args.seed)
    wl.start()
    _ready("READY")
    if args.setup_only:
        wl.close()
        spark.stop()
        return 0

    runner = Runner(wl, workloads.WARMUP_PASSES[args.workload])
    try:
        runner.run()
    finally:
        wl.close()
    app_id = spark.sparkContext.applicationId
    cores = spark.sparkContext.defaultParallelism
    batches = list(listener.batches) if listener else []
    spark.stop()

    result = {"passes": runner.passes, "attempted": runner.attempted,
              "failures": runner.failures, "cores": cores,
              "verify_s": runner.verify_s}
    if args.trace:
        log = eventlog.EventLog.read(os.path.join(args.eventlog_dir, app_id))
        summary, per_pass = layer_metrics(runner, spans, log, batches, cores)
        result["layers"], result["layers_per_pass"] = summary, per_pass
    with open(args.result, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
