"""The staged bucket write shared by every bucketed state store
(``streaming.windows.by_bucket``): a tiny batch that touches every
bucket must be written by fewer tasks than touched buckets, while each
live bucket dir still holds exactly one parquet file and the state
reads back equal to a plain ``groupBy`` of the input."""

from __future__ import annotations

import functools
import inspect
import os
import uuid

from pyspark.sql import functions as F

from universal_data_connector_spark.operators import dedup_state
from universal_data_connector_spark.streaming import object_state, windows

N_BUCKETS = 32


def _write_tasks(spark, action) -> int:
    """Run ``action`` under its own job group and return the task count
    of the last stage of its last job: the staged write, which is every
    merge's final Spark action."""
    sc = spark.sparkContext
    group = f"bucket-writes-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "staged bucket write")
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    st = sc.statusTracker()
    last_job = st.getJobInfo(max(st.getJobIdsForGroup(group)))
    return st.getStageInfo(max(last_job.stageIds)).numTasks


def _bucket_files(path: str) -> dict[int, list[str]]:
    return {int(d.split("=", 1)[1]):
            [f for f in os.listdir(os.path.join(path, d))
             if f.endswith(".parquet")]
            for d in os.listdir(path) if d.startswith("udc_kb=")}


def _batch(spark, lo: int, hi: int):
    """Two rows per key ``k<i>``; ``ts`` orders them, ``v`` = 10 * ts."""
    rows = [(f"k{i}", ts, 10.0 * ts)
            for i in range(lo, hi) for ts in (2 * i, 2 * i + 1)]
    return spark.createDataFrame(rows, "k string, ts bigint, v double")


def _touched(df) -> int:
    kb = F.pmod(F.xxhash64("k"), F.lit(N_BUCKETS))
    return df.select(kb).distinct().count()


def _assert_one_file_per_bucket(path: str) -> None:
    files = _bucket_files(path)
    assert len(files) == N_BUCKETS, sorted(files)
    assert all(len(fs) == 1 for fs in files.values()), files


def _merge_two_batches(spark, target: str, merge):
    """Merge two overlapping batches that each touch every bucket (the
    second merges into live state); return their union."""
    batches = [_batch(spark, 0, 200), _batch(spark, 100, 300)]
    for batch_id, df in enumerate(batches, start=1):
        assert _touched(df) == N_BUCKETS
        tasks = _write_tasks(spark, functools.partial(
            merge, df, batch_id, path=target, keys=["k"],
            num_buckets=N_BUCKETS))
        assert tasks < N_BUCKETS, tasks
        _assert_one_file_per_bucket(target)
    return batches[0].unionByName(batches[1])


def test_agg_state_write_coalesces_and_stays_one_file_per_bucket(
        spark, tmp_path):
    target = str(tmp_path / "agg")
    union = _merge_two_batches(spark, target, functools.partial(
        windows.agg_state_merge, value_col="v"))
    want = {(r.k, r.n, float(r.total)) for r in
            union.groupBy("k").agg(F.count("*").alias("n"),
                                   F.sum("v").alias("total")).collect()}
    got = {(r.k, r.n, float(r.total))
           for r in spark.read.parquet(target).collect()}
    assert got == want


def test_upsert_write_coalesces_and_stays_one_file_per_bucket(
        spark, tmp_path):
    target = str(tmp_path / "upsert")
    union = _merge_two_batches(spark, target, functools.partial(
        windows.upsert_merge, order_col="ts"))
    want = {(r.k, r.ts, r.v) for r in
            union.groupBy("k").agg(F.max("ts").alias("ts"),
                                   F.max("v").alias("v")).collect()}
    got = {(r.k, r.ts, r.v) for r in spark.read.parquet(target).collect()}
    assert got == want


def test_seen_store_append_coalesces_and_stays_one_file_per_bucket(
        spark, tmp_path):
    store = str(tmp_path / "seen")
    df = _batch(spark, 0, 200).select("k")
    survivors, commit = dedup_state.seen_filter(df, store, ["k"],
                                                num_buckets=N_BUCKETS)
    assert survivors.count() == 200
    tasks = _write_tasks(spark, commit)
    # the 200 keys touch every bucket: one dir (and one file) each
    _assert_one_file_per_bucket(store)
    assert tasks < N_BUCKETS, tasks

    keys = spark.read.parquet(store)
    assert keys.count() == df.groupBy("k").count().count()
    assert keys.select("udc_seen_key").distinct().count() == keys.count()
    # the store filters the whole batch on the next run
    again, _ = dedup_state.seen_filter(df, store, ["k"],
                                       num_buckets=N_BUCKETS)
    assert again.count() == 0


def test_by_bucket_is_the_only_state_store_repartition(spark):
    """The sizing rule lives in one place: ``by_bucket`` plans a
    ``REPARTITION_BY_COL`` exchange (which AQE may coalesce, unlike
    ``REPARTITION_BY_NUM``), and the state-store modules repartition
    nowhere else — apart from object_state's read fan-out of pointed-to
    objects, which writes nothing."""
    df = spark.range(100).withColumn("udc_kb", F.col("id") % N_BUCKETS)
    plan = windows.by_bucket(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "REPARTITION_BY_COL" in plan, plan
    assert "REPARTITION_BY_NUM" not in plan, plan

    def repartitions(src: str) -> int:
        return sum(line.split("#", 1)[0].count(".repartition(")
                   for line in src.splitlines())

    assert repartitions(inspect.getsource(windows)) == 1
    assert repartitions(inspect.getsource(windows.by_bucket)) == 1
    assert repartitions(inspect.getsource(dedup_state)) == 0
    assert repartitions(inspect.getsource(object_state)) == 1
    assert repartitions(inspect.getsource(object_state.read_objects)) == 1
