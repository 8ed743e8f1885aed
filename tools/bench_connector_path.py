"""Connector-path throughput benchmark (VERDICT r17 item 5).

The 56-key bench.py headline covers catalog operators; the
reference-parity YAML path — the surface the reference actually ships
(``PipelineManager.java`` start → source → transformations → sink) —
had no standing perf number. This tool drives three YAML pipelines
through the REAL ``PipelineManager`` over sf1-scale inputs and records
rows/s + wall, giving later rounds a regression screen on the
connector path itself:

* ``file_filter_parquet``  — N whole-file text documents (drawn from
  the generator-v2 sf1 ``documents`` corpus) → substring filter →
  parquet sink. Exercises S1 (whole-file scan), T1 filter, K2.
* ``kafka_filter_kafka``   — N records through the loopback broker →
  substring filter → kafka sink. Exercises S4 poll/commit + K4 (the
  CLI roundtrip test's pipeline, at benchmark scale).
* ``s3_filter_s3``         — N objects on a moto endpoint → substring
  filter → S3 sink (object-per-file boto3 PUTs). Exercises S5 + K5;
  dominated by per-object HTTP, which is exactly the path's real cost.
* ``jdbc_filter_jdbc``     — N rows seeded into embedded Derby →
  pass-through SQL query source → record-mode column filter → batched
  JDBC sink (VERDICT r18 item 3). Exercises S3 query pushdown + K3;
  dominated by per-batch INSERT round-trips, the path's real cost.

Usage: python tools/bench_connector_path.py [n_files] [n_records] [n_objects] [n_rows]
       (defaults 20000 / 50000 / 2000 / 20000)
Writes scale_probe/bench_connector_<UDC_CONNBENCH_TAG>.json and prints
one JSON line per pipeline.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BUCKET = "udc-connbench"
CREDS = {"accessKey": "bench", "secretKey": "bench"}

# Standing acceptance floors (BENCH_NOTES_r19 §3): ~0.7× of the min of
# the r18/r19 idle-machine observations at the default sizes, wide
# enough for mock-endpoint jitter, tight enough to catch a real
# connector-path regression. Checked whenever the run uses the default
# sizes (a non-default run measures something else); breach -> exit 1.
FLOORS_ROWS_PER_SEC = {
    "file_filter_parquet": 1200.0,   # r18 1723, r19 1817
    "kafka_filter_kafka": 5200.0,    # r18 7554, r19 7338
    "s3_filter_s3": 85.0,            # r18 122,  r19 113
    "jdbc_filter_jdbc": 11000.0,     # r19 16088, r20 19078
}


def _sf1_texts(limit: int) -> list[str]:
    import pyarrow.parquet as pq

    docs = os.path.join(REPO, "scale_probe", "sf1", "documents.parquet")
    if not os.path.exists(docs):
        raise SystemExit(
            f"{docs} missing — run tools/gen_scale_probe_data.py 1.0")
    texts = pq.read_table(docs, columns=["text"])["text"].to_pylist()
    out: list[str] = []
    while len(out) < limit:
        out.extend(texts[: limit - len(out)])
    return out


def _wait_terminal(mgr, job: str, timeout: float = 1800.0) -> str:
    t0 = time.time()
    while time.time() - t0 < timeout:
        st = {j["name"]: j["status"] for j in mgr.jobs()}[job]
        if st in ("COMPLETED", "FAILED", "CANCELLED"):
            return st
        time.sleep(0.2)
    return "TIMEOUT"


def _run_pipeline(spark, cfg_dict: dict) -> tuple[str, float]:
    from universal_data_connector_spark.config import parse_config
    from universal_data_connector_spark.manager import PipelineManager

    cfg = parse_config({"pipelines": [cfg_dict]}).pipelines[0]
    mgr = PipelineManager(spark)
    t0 = time.perf_counter()
    job = mgr.start_pipeline(cfg)
    status = _wait_terminal(mgr, job)
    return status, time.perf_counter() - t0


def bench_file_filter_parquet(spark, texts: list[str],
                              workdir: str) -> dict:
    inp = os.path.join(workdir, "in")
    out = os.path.join(workdir, "out")
    os.makedirs(inp)
    for i, t in enumerate(texts):
        with open(os.path.join(inp, f"doc-{i:06d}.txt"), "w") as fh:
            fh.write(t)
    status, wall = _run_pipeline(spark, {
        "name": "file-filter-parquet",
        "source": {"type": "file",
                   "properties": {"path": inp, "pattern": "*.txt"}},
        "transformations": [
            {"type": "filter", "properties": {"condition": "a"}},
        ],
        "sink": {"type": "file",
                 "properties": {"path": out, "format": "parquet"}},
    })
    rows_out = (spark.read.parquet(out).count()
                if os.path.isdir(out) and os.listdir(out) else 0)
    return {"pipeline": "file_filter_parquet", "status": status,
            "rows_in": len(texts), "rows_out": rows_out,
            "wall_sec": round(wall, 2),
            "rows_per_sec": round(len(texts) / wall, 1)}


def bench_kafka_filter_kafka(spark, texts: list[str],
                             workdir: str) -> dict:
    from universal_data_connector_spark import kafka_loopback as KL

    broker = os.path.join(workdir, "broker")
    KL.ensure_topic(broker, "src", 8)
    t0 = time.perf_counter()
    KL.append_records(broker, "src",
                      [(None, t.encode()) for t in texts], 8)
    produce_wall = time.perf_counter() - t0
    status, wall = _run_pipeline(spark, {
        "name": "kafka-filter-kafka",
        "source": {"type": "kafka", "properties": {
            "bootstrapServers": f"loopback://{broker}",
            "topic": "src", "groupId": "bench-g"}},
        "transformations": [
            {"type": "filter", "properties": {"condition": "a"}},
        ],
        "sink": {"type": "kafka", "properties": {
            "bootstrapServers": f"loopback://{broker}", "topic": "dst"}},
    })
    rows_out = sum(KL.end_offsets(broker, "dst").values())
    return {"pipeline": "kafka_filter_kafka", "status": status,
            "rows_in": len(texts), "rows_out": rows_out,
            "produce_wall_sec": round(produce_wall, 2),
            "wall_sec": round(wall, 2),
            "rows_per_sec": round(len(texts) / wall, 1)}


def bench_s3_filter_s3(spark, texts: list[str], workdir: str) -> dict:
    import boto3
    from moto.server import ThreadedMotoServer

    server = ThreadedMotoServer(port=0)
    server.start()
    try:
        port = server._server.socket.getsockname()[1]
        endpoint = f"http://127.0.0.1:{port}"
        client = boto3.client(
            "s3", endpoint_url=endpoint, region_name="us-east-1",
            aws_access_key_id=CREDS["accessKey"],
            aws_secret_access_key=CREDS["secretKey"])
        client.create_bucket(Bucket=BUCKET)
        t0 = time.perf_counter()
        for i, t in enumerate(texts):
            client.put_object(Bucket=BUCKET,
                              Key=f"in/doc-{i:06d}.txt",
                              Body=t.encode())
        seed_wall = time.perf_counter() - t0
        status, wall = _run_pipeline(spark, {
            "name": "s3-filter-s3",
            "source": {"type": "s3", "properties": {
                "bucketName": BUCKET, "prefix": "in",
                "pattern": "*.txt", "endpoint": endpoint, **CREDS}},
            "transformations": [
                {"type": "filter", "properties": {"condition": "a"}},
            ],
            "sink": {"type": "s3", "properties": {
                "bucketName": BUCKET, "prefix": "out",
                "endpoint": endpoint, **CREDS}},
        })
        n_objects = 0
        for page in client.get_paginator("list_objects_v2").paginate(
                Bucket=BUCKET, Prefix="out"):
            n_objects += len(page.get("Contents", []))
        return {"pipeline": "s3_filter_s3", "status": status,
                "rows_in": len(texts), "rows_out": n_objects,
                "seed_wall_sec": round(seed_wall, 2),
                "wall_sec": round(wall, 2),
                "rows_per_sec": round(len(texts) / wall, 1)}
    finally:
        server.stop()


def bench_jdbc_filter_jdbc(spark, texts: list[str],
                           workdir: str) -> dict:
    db = os.path.join(workdir, "derbydb")
    url = f"jdbc:derby:{db};create=true"
    driver = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
    seed = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id bigint, text string")
    t0 = time.perf_counter()
    (seed.repartition(8).write.format("jdbc")
         .options(url=url, dbtable="docs", driver=driver,
                  batchsize="1000").mode("append").save())
    seed_wall = time.perf_counter() - t0
    status, wall = _run_pipeline(spark, {
        "name": "jdbc-filter-jdbc",
        "source": {"type": "jdbc", "properties": {
            # Spark's JDBC writer creates quoted (case-exact) columns,
            # so the pass-through SQL quotes them for Derby
            "jdbcUrl": url, "driver": driver,
            "query": 'SELECT "id", "text" FROM docs',
            "oneTimeOperation": True}},
        "transformations": [
            {"type": "filter", "properties": {"column": "text",
                                              "condition": "a"}},
        ],
        "sink": {"type": "jdbc", "properties": {
            "jdbcUrl": url, "table": "docs_out", "driver": driver,
            "batchSize": 1000}},
    })
    rows_out = (spark.read.format("jdbc")
                .options(url=url, dbtable="docs_out", driver=driver)
                .load().count())
    return {"pipeline": "jdbc_filter_jdbc", "status": status,
            "rows_in": len(texts), "rows_out": rows_out,
            "seed_wall_sec": round(seed_wall, 2),
            "wall_sec": round(wall, 2),
            "rows_per_sec": round(len(texts) / wall, 1)}


def main() -> int:
    from universal_data_connector_spark.session import get_spark

    n_files = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    n_records = int(sys.argv[2]) if len(sys.argv) > 2 else 50_000
    n_objects = int(sys.argv[3]) if len(sys.argv) > 3 else 2_000
    n_rows = int(sys.argv[4]) if len(sys.argv) > 4 else 20_000
    spark = get_spark("udc-connbench")
    spark.sparkContext.setLogLevel("ERROR")

    results = []
    texts = _sf1_texts(max(n_files, n_records, n_objects, n_rows))
    for fn, n in ((bench_file_filter_parquet, n_files),
                  (bench_kafka_filter_kafka, n_records),
                  (bench_s3_filter_s3, n_objects),
                  (bench_jdbc_filter_jdbc, n_rows)):
        workdir = tempfile.mkdtemp(prefix="connbench-")
        try:
            rec = fn(spark, texts[:n], workdir)
        finally:
            shutil.rmtree(workdir, ignore_errors=True)
        print(json.dumps(rec), flush=True)
        results.append(rec)

    tag = os.environ.get("UDC_CONNBENCH_TAG", "r18")
    path = os.path.join(REPO, "scale_probe", f"bench_connector_{tag}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump({"n_files": n_files, "n_records": n_records,
                   "n_objects": n_objects, "n_rows": n_rows,
                   "results": results},
                  fh, indent=1)
    print(f"-> {path}", flush=True)
    ok = all(r["status"] == "COMPLETED" for r in results)
    defaults = (n_files, n_records, n_objects, n_rows) == (
        20_000, 50_000, 2_000, 20_000)
    if defaults:
        for r in results:
            floor = FLOORS_ROWS_PER_SEC.get(r["pipeline"])
            if floor and r["rows_per_sec"] < floor:
                print(f"FLOOR BREACH: {r['pipeline']} "
                      f"{r['rows_per_sec']} < {floor} rows/s", flush=True)
                ok = False
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
