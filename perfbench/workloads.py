"""The benchmark workloads, run inside the Spark driver process.

Each workload has named operations. One pass runs every operation once,
in order, from one client (a closed loop). ``prepare`` makes the pass's
inputs and ``verify_pass`` checks its outputs; both run outside the
timed region.

* ``analytics_small``: relational, time-series, event and streaming-state
  catalog keys on small tables. Each takes 0.1-2 s warm, so fixed
  per-job cost (planning, scheduling, eager materialization, streaming
  micro-batches) dominates and Python workers do almost nothing.
* ``yaml_pipelines``: YAML pipelines posted to the REST control plane
  and polled to a terminal state, with fresh inputs for every pass. Only
  here do sources, sinks, the engine, the store leases and the control
  plane do the work; the catalog is never called.

Run length is fixed (``WARMUP_PASSES``, ``MEASURED_PASSES``), so every
commit measures the same work.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request
from concurrent.futures import ThreadPoolExecutor
from types import SimpleNamespace

import yaml

from perfbench import datagen

# One key per relational operator family (hash aggregate, join, window,
# sort; every key scans), the event and time-series paths, a streaming-
# state key run as micro-batches, and the shuffle-heavy market basket.
ANALYTICS_KEYS = (
    "agg_hash_sum_avg", "join_inner_hash",
    "window_row_number_topk", "sort_multi_key", "stream_agg_state_totals",
    "events_sessionize_gap", "ts_anomaly_mad", "market_basket_pairs",
)
# Row counts at sf0.01 of tools/gen_scale_probe_data.py; the corpus is
# not read by these keys, so it is kept tiny.
ANALYTICS_TABLES = {
    "customer": 1_500, "supplier": 100, "part": 2_000, "orders": 15_000,
    "lineitem": 60_000, "events": 10_000, "users": 150,
    "documents": 50, "embeddings": 50,
}
CATALOG = {"analytics_small": (ANALYTICS_KEYS, ANALYTICS_TABLES)}
NAMES = (*CATALOG, "yaml_pipelines")
# Passes after the cold one. The JIT keeps speeding up the first warm
# passes, so the warm metrics come only from the passes after the
# warm-up ones. The catalog's oracle check, run right after the cold
# pass, runs every key once more and is its warm-up. Sized so that a
# whole run, with its two session start-ups, takes about a minute on a
# 4-vCPU host.
WARMUP_PASSES = {"analytics_small": 0, "yaml_pipelines": 1}
MEASURED_PASSES = 3


class CatalogWorkload:
    """Catalog keys executed through the noop sink, each in its own job
    group ``<key>#<pass>#build`` / ``<key>#<pass>#exec``. A key's
    submit time, which ``run`` returns, is the build: ``QUERIES[key]``
    returning its DataFrame, eager jobs included."""

    def __init__(self, spark, spans, data_dir: str, keys: tuple[str, ...]):
        from universal_data_connector_spark.plans.catalog import QUERIES

        self.spark, self.spans, self.data = spark, spans, data_dir
        self.queries = QUERIES
        self.ops = keys

    def start(self) -> None:
        pass

    def prepare(self, pass_no: int) -> None:
        pass

    def run(self, key: str, pass_no: int) -> float:
        sc = self.spark.sparkContext
        sc.setJobGroup(f"{key}#{pass_no}#build", key)
        t0 = time.time()
        df = self.queries[key](self.spark, self.data)
        t1 = time.time()
        sc.setJobGroup(f"{key}#{pass_no}#exec", key)
        df.write.format("noop").mode("overwrite").save()
        self.spans.record("catalog.build_s", t0, t1)
        self.spans.record("catalog.exec_s", t1, time.time())
        sc.setLocalProperty("spark.jobGroup.id", None)
        # a later pass must recompute, not read this pass's cached blocks
        self.spark.catalog.clearCache()
        return t1 - t0

    def verify_pass(self, pass_no: int) -> list[str]:
        return []

    def verify(self) -> list[str]:
        """Compare every key against its DuckDB oracle on the same tables.
        The oracles run in one background thread (DuckDB releases the
        GIL) while Spark recomputes the keys."""
        from universal_data_connector_spark.plans.catalog import ORACLES

        sys.path.insert(0, os.path.join(datagen.REPO, "tests"))
        from oracle_harness import compare, duck_connection

        con = duck_connection(self.data)
        with ThreadPoolExecutor(max_workers=1) as pool:
            expected = {key: pool.submit(lambda k: con.sql(ORACLES[k]).df(),
                                         key) for key in self.ops}
            failures = []
            for key in self.ops:
                ok, detail = compare(
                    self.queries[key](self.spark, self.data),
                    SimpleNamespace(df=expected[key].result))
                self.spark.catalog.clearCache()
                if not ok:
                    failures.append(f"{key}: {detail[:300]}")
        con.close()
        return failures

    def close(self) -> None:
        pass


DERBY_DRIVER = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
MARKER = "ERR"


class PipelineWorkload:
    """Four YAML pipelines submitted over HTTP, each polled until done.
    A pipeline's submit time, which ``run`` returns, is ``POST /start``
    returning: the manager builds the pipeline before it answers."""

    ops = ("files_filter_map", "kafka_filter", "jdbc_filter",
           "files_dedup_state")
    FILES, ROWS, RECORDS, DOCS = 60, 20, 2_000, 40

    def __init__(self, spark, spans, root: str, seed: int):
        self.spark, self.spans, self.seed = spark, spans, seed
        self.root = root
        self.broker = os.path.join(root, "broker")
        self.jdbc_url = f"jdbc:derby:{os.path.join(root, 'derby')};create=true"
        self.expected: dict[str, int] = {}
        self.totals = {"files": 0, "kafka": 0}
        self.configs: dict[str, str] = {}
        self.dedup_prev: list[str] = []
        self.dedup_seen: set[str] = set()

    def _path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def start(self) -> None:
        from universal_data_connector_spark.manager import PipelineManager
        from universal_data_connector_spark.rest import ControlPlaneServer

        t0 = time.time()
        self.manager = PipelineManager(self.spark)
        self.server = ControlPlaneServer(self.manager, port=0).start()
        self.spans.record("rest.start_s", t0, time.time())
        self.base = f"http://127.0.0.1:{self.server.port}/api/pipelines"

    def _config(self, name: str, pipeline: dict) -> str:
        path = self._path("configs", f"{name}.yaml")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            yaml.safe_dump({"pipelines": [{"name": name, **pipeline}]}, fh)
        return path

    def prepare(self, pass_no: int) -> None:
        rng = datagen.pass_rng(self.seed, pass_no)
        # files: the previous pass's files stay (the manifest skips them),
        # older ones are removed so every pass lists the same volume
        files_in = self._path("files_in")
        if os.path.isdir(files_in):
            stale = f"p{pass_no - 2:04d}_"
            for name in os.listdir(files_in):
                if name.startswith(stale):
                    os.remove(os.path.join(files_in, name))
        kept = datagen.mixed_files(rng, files_in, f"p{pass_no:04d}",
                                   self.FILES, self.ROWS, MARKER)
        self.totals["files"] += kept
        self.configs["files_filter_map"] = self._config("files_filter_map", {
            "source": {"type": "file", "properties": {
                "path": files_in, "manifestDir": self._path("manifest")}},
            "transformations": [
                {"type": "filter", "properties": {
                    "column": "status", "condition": MARKER}},
                {"type": "map", "properties": {"prefix": "udc:"}}],
            "sink": {"type": "file", "properties": {
                "path": self._path("files_out"), "format": "parquet"}},
        })

        from universal_data_connector_spark import kafka_loopback

        records, hits = datagen.kafka_values(rng, pass_no, self.RECORDS,
                                             MARKER)
        kafka_loopback.append_records(self.broker, "src", records, 4)
        self.totals["kafka"] += hits
        loop = f"loopback://{self.broker}"
        self.configs["kafka_filter"] = self._config("kafka_filter", {
            "source": {"type": "kafka", "properties": {
                "bootstrapServers": loop, "topic": "src",
                "groupId": "bench"}},
            "transformations": [{"type": "filter", "properties": {
                "condition": MARKER}}],
            "sink": {"type": "kafka", "properties": {
                "bootstrapServers": loop, "topic": "dst"}},
        })

        first_id = pass_no * 1_000_000
        rows, hits = datagen.jdbc_rows(rng, first_id, self.RECORDS, MARKER)
        self.expected["jdbc"] = hits
        table = f"src_p{pass_no:04d}"
        (self.spark.createDataFrame(rows, "id bigint, tag string, "
                                    "amount double").coalesce(1)
         .write.format("jdbc").mode("overwrite")
         .options(url=self.jdbc_url, dbtable=table, driver=DERBY_DRIVER)
         .save())
        jdbc = {"jdbcUrl": self.jdbc_url, "driver": DERBY_DRIVER}
        self.configs["jdbc_filter"] = self._config("jdbc_filter", {
            "source": {"type": "jdbc", "properties": {
                **jdbc, "oneTimeOperation": True,
                "query": f'SELECT "id", "tag", "amount" FROM {table}'}},
            "transformations": [{"type": "filter", "properties": {
                "column": "tag", "condition": MARKER}}],
            "sink": {"type": "jdbc", "properties": {
                **jdbc, "table": "dst", "batchSize": 500}},
        })
        self.jdbc_ids = (first_id, first_id + self.RECORDS)

        contents = datagen.dedup_files(
            rng, self._path("dedup_in", f"p{pass_no:04d}"),
            self.dedup_prev, self.DOCS)
        self.expected["dedup"] = len(set(contents) - self.dedup_seen)
        self.dedup_seen.update(contents)
        self.dedup_prev = contents
        self.dedup_out = self._path("dedup_out", f"p{pass_no:04d}")
        self.configs["files_dedup_state"] = self._config(
            "files_dedup_state", {
                "source": {"type": "file", "properties": {
                    "path": self._path("dedup_in", f"p{pass_no:04d}"),
                    "pattern": "*.txt"}},
                "transformations": [{"type": "dedup_state", "properties": {
                    "stateDir": self._path("seen"), "keys": "content",
                    "numBuckets": "4"}}],
                "sink": {"type": "file", "properties": {
                    "path": self.dedup_out, "format": "parquet"}},
            })

    def _request(self, method: str, path: str):
        req = urllib.request.Request(self.base + path, method=method)
        with urllib.request.urlopen(req, timeout=60) as resp:
            return json.loads(resp.read())

    def run(self, op: str, pass_no: int) -> float:
        t0 = time.time()
        body = self._request("POST",
                             f"/start?configFilePath={self.configs[op]}")
        submit = time.time() - t0
        if len(body.get("jobs") or ()) != 1:
            raise RuntimeError(f"{op}: start answered {body}")
        job = body["jobs"][0]
        # poll from 10 ms, backing off to 100 ms: each poll costs CPU in
        # this process, which the CPU metrics would count
        wait = 0.01
        while self._request("GET", f"/jobs/{job}/status"):
            time.sleep(wait)
            wait = min(wait * 2, 0.1)
        status = self._request("GET", "/jobs")[job]["status"]
        if status != "COMPLETED":
            raise RuntimeError(f"{op}: job {job} ended {status}")
        return submit

    def _jdbc_count(self, sql: str) -> int:
        return (self.spark.read.format("jdbc")
                .options(url=self.jdbc_url, driver=DERBY_DRIVER, query=sql)
                .load().collect()[0][0])

    def verify_pass(self, pass_no: int) -> list[str]:
        import pyarrow.parquet as pq

        from universal_data_connector_spark import kafka_loopback

        failures = []
        content = pq.read_table(self._path("files_out"),
                                columns=["content"]).column(0).to_pylist()
        if (len(content) != self.totals["files"]
                or not all(c.startswith("udc:") for c in content)):
            failures.append(f"files_filter_map: {len(content)} rows, "
                            f"expected {self.totals['files']}")
        dst = sum(kafka_loopback.end_offsets(self.broker, "dst").values())
        src = kafka_loopback.end_offsets(self.broker, "src")
        done = kafka_loopback.committed_offsets(self.broker, "bench")
        if (dst != self.totals["kafka"]
                or done != {f"src/{p}": n for p, n in src.items()}):
            failures.append(f"kafka_filter: dst {dst}, expected "
                            f"{self.totals['kafka']}; committed {done}")
        lo, hi = self.jdbc_ids
        got = self._jdbc_count(f'SELECT COUNT(*) AS n FROM dst '
                               f'WHERE "id" >= {lo} AND "id" < {hi}')
        if got != self.expected["jdbc"]:
            failures.append(f"jdbc_filter: {got} rows, expected "
                            f"{self.expected['jdbc']}")
        got = pq.read_table(self.dedup_out).num_rows
        if got != self.expected["dedup"]:
            failures.append(f"files_dedup_state: {got} rows, expected "
                            f"{self.expected['dedup']}")
        return failures

    def verify(self) -> list[str]:
        return []

    def close(self) -> None:
        self.server.stop()
