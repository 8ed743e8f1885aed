"""operators/relational.py: the scaled exact sum and the scan fan-out
(`spread`).

Scaled exact sum. `to_units` encodes a decimal-clean double as
floor(v*1e6 + 0.5) integer units, and `from_units` divides a sum of
them by 1e6 once at the edge. `exact_sum_scaled`, `exact_avg_scaled`
and the two catalog keys that window over unit sums are built from
those two helpers (`running_sum` keeps the decimal cast). They must
be BIT-IDENTICAL to the decimal-cast reference (`exact_sum`: Spark's
Double.toString -> BigDecimal cast) on every input they are used on:
the real testdata columns, the clean products the catalog sums, and
randomized <=2dp / round(x, 6) values.

The runtime guard (`relational._scaled_guard`, armed by
UDC_SCALED_ASSERT at plan-construction time) checks that equivalence
per value, and the sweep below runs every catalog query that uses the
scaled encoding with it armed, so a call site on a column where the
two paths diverge FAILS here instead of silently changing sums.

Scan fan-out. `spread` hash-repartitions a scan narrower than
defaultParallelism before per-row work, and leaves wide and non-scan
inputs alone.
"""

from __future__ import annotations

import inspect
import os
import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tests.conftest import SF_DIR
from universal_data_connector_spark.operators import relational as orel
from universal_data_connector_spark.tables import load


def _pairs(df, expr):
    row = df.agg(orel.exact_sum(expr).alias("a"),
                 orel.exact_sum_scaled(expr).alias("b")).collect()[0]
    return row["a"], row["b"]


@pytest.mark.parametrize("table,expr_name", [
    ("orders", "o_totalprice"),
    ("lineitem", "l_quantity"),
    ("lineitem", "l_extendedprice"),
    ("events", "value"),
    ("customer", "c_acctbal"),  # negative balances: HALF_UP away-from-zero side
])
def test_scaled_sum_matches_decimal_sum_on_testdata(spark, table, expr_name):
    a, b = _pairs(load(spark, SF_DIR, table), expr_name)
    assert a == b


def test_scaled_sum_matches_on_clean_products(spark):
    """The catalog's converted product expressions: qty*price (2-dp,
    <= ~5.3e6), qty^2 (integer), price*(1-disc) (4-dp, <= ~1.1e5)."""
    li = load(spark, SF_DIR, "lineitem")
    x, y, d = F.col("l_quantity"), F.col("l_extendedprice"), F.col("l_discount")
    for expr in (x * y, x * x, y * (1 - d)):
        a, b = _pairs(li, expr)
        assert a == b


def test_scaled_sum_matches_grouped(spark):
    """Grouped form (the actual catalog shape): every group agrees."""
    li = load(spark, SF_DIR, "lineitem")
    rows = (li.groupBy("l_returnflag")
              .agg(orel.exact_sum("l_extendedprice").alias("a"),
                   orel.exact_sum_scaled("l_extendedprice").alias("b"))
              .collect())
    assert rows and all(r["a"] == r["b"] for r in rows)


def test_scaled_sum_null_and_empty_semantics(spark):
    df = spark.createDataFrame(
        [(1, None), (1, 2.25), (2, None)], "k int, v double")
    rows = (df.groupBy("k")
              .agg(orel.exact_sum("v").alias("a"),
                   orel.exact_sum_scaled("v").alias("b"))
              .collect())
    got = {r["k"]: (r["a"], r["b"]) for r in rows}
    assert got[1] == (2.25, 2.25)
    assert got[2] == (None, None)


def test_scaled_sum_property_random_2dp(spark):
    """Randomized: 2-dp money-like values (mixed sign, up to 1e6) and
    F.round(x, 6) outputs both satisfy the clean-6dp contract."""
    rng = random.Random(21)
    vals = [round(rng.uniform(-1e6, 1e6), 2) for _ in range(5000)]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    a, b = _pairs(df, "v")
    assert a == b
    # round(x, 6) of arbitrary doubles is clean at 6 dp by construction
    raw = [rng.uniform(-1e3, 1e3) for _ in range(5000)]
    df6 = (spark.createDataFrame([(v,) for v in raw], "v double")
           .select(F.round("v", 6).alias("v")))
    a, b = _pairs(df6, "v")
    assert a == b


def test_scaled_running_sum_matches(spark):
    """A window sum of scaled units (the ts_moving_window_avg /
    window_percent_of_total shape: from_units over a windowed sum of
    to_units) equals `running_sum`'s decimal-cast window sum on every
    prefix."""
    o = load(spark, SF_DIR, "orders")
    order = [F.col("o_orderdate").asc(), F.col("o_orderkey").asc()]
    w = (Window.partitionBy("o_custkey").orderBy(*order)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    base = orel.running_sum(o, ["o_custkey"], order,
                            F.col("o_totalprice"), "rt") \
               .select("o_orderkey", "rt")
    fast = o.select("o_orderkey", orel.from_units(
        F.sum(orel.to_units("o_totalprice")).over(w)).alias("rt"))
    joined = base.join(fast, "o_orderkey")
    assert joined.count() == o.count()
    assert joined.filter(base["rt"] != fast["rt"]).count() == 0


def test_scaled_avg_matches(spark):
    li = load(spark, SF_DIR, "lineitem")
    rows = (li.groupBy("l_returnflag")
              .agg(orel.exact_avg("l_quantity").alias("a"),
                   orel.exact_avg_scaled("l_quantity").alias("b"))
              .collect())
    assert rows and all(r["a"] == r["b"] for r in rows)


# Names whose presence in a catalog query's source marks it as built
# from the scaled encoding (to_units / from_units and the helpers
# composed of them).
_SCALED_MARKERS = ("exact_sum_scaled", "exact_avg_scaled", "to_units(",
                   "from_units(")


def _scaled_query_names():
    from universal_data_connector_spark.plans.catalog import QUERIES
    names = []
    for name, fn in QUERIES.items():
        try:
            src = inspect.getsource(inspect.unwrap(fn))
        except (OSError, TypeError):  # pragma: no cover
            continue
        if any(m in src for m in _SCALED_MARKERS):
            names.append(name)
    return names


def test_scaled_sweep_finds_call_sites():
    """The sweep must actually cover the converted call sites — if the
    marker scan ever comes back (near-)empty the guard is vacuous."""
    names = _scaled_query_names()
    assert len(names) >= 23, names
    for name in ("agg_hash_sum_avg", "ts_moving_window_avg",
                 "window_percent_of_total"):
        assert name in names, names


def test_scaled_contract_holds_at_every_call_site(spark):
    """Run every scaled-path catalog query with the runtime contract
    assertion armed: a violation raises AssertionError/SparkException
    from F.assert_true inside the aggregate input. Queries are built
    AFTER setting the env var (the guard reads it at plan-construction
    time)."""
    from universal_data_connector_spark.plans.catalog import QUERIES

    os.environ["UDC_SCALED_ASSERT"] = "1"
    try:
        for name in _scaled_query_names():
            df = QUERIES[name](spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
    finally:
        os.environ.pop("UDC_SCALED_ASSERT", None)


def test_scaled_guard_rejects_diverging_value(spark):
    """Negative control: a double on which the decimal-cast path and
    the scaled path genuinely disagree (2.4999999999999998e-06: the
    toString decimal rounds to 0.000002 but v*1e6 lands above 2.5, so
    floor(+0.5) gives 3) must raise under the armed guard — proves the
    sweep can actually fail, on exactly the class of value where the
    scaled path would silently change a sum."""
    os.environ["UDC_SCALED_ASSERT"] = "1"
    try:
        df = spark.range(3).select(
            F.lit(2.4999999999999998e-06).alias("v"))
        agg = df.agg(orel.exact_sum_scaled("v").alias("s"))
        with pytest.raises(Exception) as ei:
            agg.collect()
        assert "contract violation" in str(ei.value)
    finally:
        os.environ.pop("UDC_SCALED_ASSERT", None)


def test_scaled_guard_accepts_clean_and_matches_unguarded(spark):
    """Positive control: on a clean 2-dp column the armed guard changes
    nothing — bit-identical to the unguarded scaled sum and to
    exact_sum."""
    # F.round goes through BigDecimal -> the values are by construction
    # the doubles nearest 2-dp decimals (a raw id*0.01 product is NOT:
    # 3*0.01 != double(0.03))
    df = spark.range(1000).select(
        F.round((F.col("id") - 500) * F.lit(0.01), 2).alias("v"))
    base = df.agg(orel.exact_sum_scaled("v").alias("s")).collect()[0]["s"]
    ref = df.agg(orel.exact_sum("v").alias("s")).collect()[0]["s"]
    os.environ["UDC_SCALED_ASSERT"] = "1"
    try:
        guarded = df.agg(orel.exact_sum_scaled("v").alias("s")) \
                    .collect()[0]["s"]
    finally:
        os.environ.pop("UDC_SCALED_ASSERT", None)
    assert guarded == base == ref


def test_corr_exact_spreads_narrow_scan(spark):
    """agg_corr_exact pre-spreads the lineitem scan (a
    single-row-group parquet file scans as ONE task, serializing the
    decimal-cast moment partials on one core). On the narrow local
    input the plan must carry the spread's hashpartitioning(l_orderkey)
    exchange; on a no-files frame (post-shuffle / in-memory, already
    carrying session parallelism) spread must be the identity — the
    guard that keeps wide inputs (the 100 TB case: estimated splits
    >= cluster parallelism) from paying the extra exchange."""
    from universal_data_connector_spark.plans.catalog import QUERIES

    p = QUERIES["agg_corr_exact"](spark, SF_DIR)._jdf.queryExecution() \
        .optimizedPlan().toString()
    assert "l_orderkey" in p, f"spread repartition missing:\n{p}"

    mem = spark.range(100).withColumnRenamed("id", "l_orderkey")
    assert orel.spread(mem, "l_orderkey") is mem


def test_repetition_ratio_spreads_narrow_scan(spark):
    """text_repetition_ratio's interpreted higher-order gram build is
    the heaviest per-row projection in the catalog; it must not fuse
    into a one-task narrow scan. Same spread() guard as
    agg_corr_exact: fires on the local single-row-group file, identity
    on wide inputs."""
    from universal_data_connector_spark.plans.catalog import QUERIES

    p = QUERIES["text_repetition_ratio"](spark, SF_DIR)._jdf.queryExecution() \
        .optimizedPlan().toString()
    # Pin the repartition node itself (Project nodes above the scan
    # always reference doc_id, so a doc_id substring check is vacuous).
    assert "RepartitionByExpression" in p, f"spread repartition missing:\n{p}"


# ---------------------------------------------------------------------------
# observed_materialize: a checkpoint and its metrics from one job
# ---------------------------------------------------------------------------

def test_observed_materialize_is_one_job(spark):
    """A frame with no shuffle materializes, and its count and bucket
    set arrive, in exactly one Spark job: the checkpoint's own."""
    from tests.conftest import jobs_of

    df = spark.range(1000).withColumn("b", (F.col("id") % 4).cast("int"))
    (frame, m), jobs = jobs_of(spark, lambda: orel.observed_materialize(
        df, F.count(F.lit(1)).alias("n"),
        F.collect_set("b").alias("touched")))
    assert jobs == 1
    assert m["n"] == 1000 and sorted(m["touched"]) == [0, 1, 2, 3]
    # the returned frame reads the checkpoint: no further recompute
    assert frame.count() == 1000


def test_observed_materialize_empty_frame_does_not_block(spark):
    """A zero-partition frame runs no task; its metrics are the
    aggregates' empty values, returned at once."""
    import concurrent.futures

    empty = spark.range(0)
    assert empty.rdd.getNumPartitions() == 0
    with concurrent.futures.ThreadPoolExecutor(1) as pool:
        fut = pool.submit(orel.observed_materialize, empty,
                          F.collect_set("id").alias("touched"),
                          F.count(F.lit(1)).alias("n"))
        frame, m = fut.result(timeout=60)
    assert m == {"touched": [], "n": 0}
    assert frame.count() == 0


def test_observed_materialize_failing_action_raises(spark):
    """A failed checkpoint raises; no metrics are returned or awaited."""
    bad = spark.range(10).select(
        F.assert_true(F.col("id") < 5).alias("ok"))
    with pytest.raises(Exception, match="is not true"):
        orel.observed_materialize(bad, F.count(F.lit(1)).alias("n"))


def test_materialize_sizes_storage_from_measured_rows(spark):
    """A measured row count, where given, picks the storage level in
    place of the optimizer estimate: memory for a thousand rows, disk
    only for a trillion."""
    from tests.conftest import stored_rdd_ids

    def stored_in_memory(rows) -> bool:
        before = stored_rdd_ids(spark)
        frame = orel.materialize(spark.range(10), rows=rows)
        [info] = [i for i in spark.sparkContext._jsc.sc()
                  .getRDDStorageInfo() if i.id() not in before]
        del frame
        return info.storageLevel().useMemory()

    assert stored_in_memory(1000)
    assert not stored_in_memory(10**12)
