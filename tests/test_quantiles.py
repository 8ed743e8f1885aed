"""exact_group_percentiles: bit-parity with the percentile aggregate.

The helper exists so the two quantile-cutoff catalog keys can keep
their hash-green DuckDB oracles (which match ``F.percentile``) while
dropping the unbounded per-group aggregation buffer (VERDICT r8 item
2). Parity therefore has to be BIT-exact — repr-compare the doubles,
no tolerance.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from universal_data_connector_spark.operators.quantiles import (
    exact_group_percentiles,
)

PS = [0.0, 0.25, 0.5, 0.75, 0.9, 1.0]
NAMES = ["p0", "p25", "p50", "p75", "p90", "p100"]


def _ref(df, group_cols):
    pct = F.percentile(F.col("v"), F.array(*[F.lit(p) for p in PS]))
    base = df.groupBy(*group_cols) if group_cols else df.groupBy()
    return (base.agg(pct.alias("q"))
                .select(*group_cols,
                        *[F.col("q")[i].alias(NAMES[i])
                          for i in range(len(PS))]))


def _assert_bit_equal(spark, df, group_cols):
    # small_input_bytes=0 pins the RANK-SELECTION path: these parity
    # tests exist to prove the distributed machinery matches the
    # aggregate bit-for-bit, so the small-input aggregate fast path
    # (which IS the reference) must not shadow it on tiny test frames
    ref = _ref(df, group_cols)
    got = exact_group_percentiles(df, group_cols, "v", PS, NAMES,
                                  small_input_bytes=0)
    key = (lambda r: tuple(r[c] for c in group_cols)) if group_cols \
        else (lambda r: ())
    r = {key(row): [row[n] for n in NAMES] for row in ref.collect()}
    h = {key(row): [row[n] for n in NAMES] for row in got.collect()}
    assert set(r) == set(h)
    for k in r:
        for a, b, n in zip(r[k], h[k], NAMES):
            assert repr(a) == repr(b), (k, n, repr(a), repr(b))


def test_grouped_parity_mixed_shapes(spark):
    """Ties, negatives, a single-element group, a two-element group,
    an integer-heavy skewed group — across more slices than rows in
    some groups."""
    random.seed(7)
    rows = [("A", float(random.choice(
        [1.5, 2.25, -3.0, 7.125, random.random() * 100])))
        for _ in range(1200)]
    rows.append(("B", 42.0))
    rows += [("C", 1.0), ("C", 2.0)]
    rows += [("D", float(int(random.expovariate(0.01))))
             for _ in range(300)]
    df = spark.createDataFrame(rows, "g string, v double")
    _assert_bit_equal(spark, df, ["g"])


def test_global_parity_and_null_values_ignored(spark):
    random.seed(11)
    rows = [(random.random() * 1e6 - 5e5,) for _ in range(900)]
    rows += [(None,)] * 50
    df = spark.createDataFrame(rows, "v double")
    _assert_bit_equal(spark, df, [])


def test_parity_non_representable_fractions(spark):
    """ps like 0.33 exercise the position arithmetic (p * (n-1) in
    doubles, floor/ceil split, two-product interpolation) where a
    formula-order mismatch with Percentile.getPercentile would show
    up as a 1-ulp drift."""
    random.seed(3)
    rows = [("A", random.random()) for _ in range(641)]   # prime n
    rows += [("B", float(i % 7)) for i in range(123)]     # heavy ties
    df = spark.createDataFrame(rows, "g string, v double")
    ps = [0.33, 0.123, 0.667, 0.999]
    names = ["a", "b", "c", "d"]
    pct = F.percentile(F.col("v"), F.array(*[F.lit(p) for p in ps]))
    ref = {r.g: [r["q"][i] for i in range(4)]
           for r in df.groupBy("g").agg(pct.alias("q")).collect()}
    got = {r.g: [r[n] for n in names]
           for r in exact_group_percentiles(
               df, ["g"], "v", ps, names,
               small_input_bytes=0).collect()}
    for k in ref:
        for a, b in zip(ref[k], got[k]):
            assert repr(a) == repr(b), (k, repr(a), repr(b))


def test_parity_degenerate_value_distributions(spark):
    """All-equal groups (every pick hits the same value, the
    equal-endpoint short-circuit everywhere), a two-value group tied
    exactly at the cut, and huge-magnitude doubles (interpolation
    products near overflow-sensitive territory)."""
    rows = [("same", 4.25)] * 97
    rows += [("two", 1.0)] * 50 + [("two", 2.0)] * 50
    rows += [("big", (-1) ** i * 1e300 * (1 + i / 97)) for i in range(53)]
    df = spark.createDataFrame(rows, "g string, v double")
    _assert_bit_equal(spark, df, ["g"])


def test_duplicate_heavy_run_splits_across_slices(spark):
    """One dominant value must NOT collapse into a single range slice
    (the single-task degradation the salt key exists to prevent):
    with the pre-shuffle ordinal as the last range key, a 10k-row
    equal-value run spreads over multiple partitions — and parity
    still holds (positional selection among equals is value-blind)."""
    from pyspark.sql import functions as F

    rows = [("D", 7.0)] * 10_000 + [("D", 1.0), ("D", 99.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    salted = df.withColumn("__salt", F.monotonically_increasing_id())
    # explicit count in THIS probe: the property under test is the
    # range PARTITIONER's boundary behavior with the salt key; a
    # count-free exchange would let AQE legitimately coalesce 10k
    # tiny rows into one partition and mask it
    n_slices = (salted.repartitionByRange(8, "g", "v", "__salt")
                      .select(F.spark_partition_id().alias("p"))
                      .distinct().count())
    assert n_slices > 1, "equal-value run collapsed into one slice"
    _assert_bit_equal(spark, df, ["g"])


def test_parity_survives_aqe_partition_coalescing(spark):
    """The helper's in-slice ordinals come from
    monotonically_increasing_id AFTER the range exchange; its
    correctness argument says AQE may coalesce range partitions
    because coalescing merges CONTIGUOUS indices, preserving the
    order between surviving slice ids. Force that regime: far more
    shuffle partitions than tiny data can fill — and FIRST prove the
    regime is real (an explicit repartition count would pin the
    exchange and make this vacuous): the same count-free
    repartitionByRange the helper issues must come back with fewer
    occupied partitions than the conf asked for. Then require
    bit-parity."""
    from pyspark.sql import functions as F

    conf = "spark.sql.shuffle.partitions"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "64")
    try:
        random.seed(23)
        rows = [("A", random.random() * 50) for _ in range(400)]
        rows += [("B", float(i)) for i in range(37)]
        df = spark.createDataFrame(rows, "g string, v double")
        salted = df.withColumn("__salt", F.monotonically_increasing_id())
        n_seen = (salted.repartitionByRange("g", "v", "__salt")
                        .select(F.spark_partition_id().alias("p"))
                        .distinct().count())
        assert n_seen < 64, \
            "AQE did not coalesce the count-free range exchange — " \
            "the regime this test exists to pin is not being exercised"
        _assert_bit_equal(spark, df, ["g"])
    finally:
        spark.conf.set(conf, old)


def test_all_null_group_absent(spark):
    """Documented divergence from the aggregate form: a group whose
    values are all null produces NO row (the aggregate would emit a
    null-percentile row)."""
    df = spark.createDataFrame(
        [("A", 1.0), ("A", 2.0), ("B", None)], "g string, v double")
    # both paths share the contract
    for sib in (0, None):
        out = exact_group_percentiles(df, ["g"], "v", [0.5], ["p50"],
                                      small_input_bytes=sib)
        rows = {r.g: r.p50 for r in out.collect()}
        assert rows == {"A": 1.5}


def test_rank_selection_shape_lint():
    """The helper's scale mechanism runs eagerly, so no downstream
    plan can pin it — lint the source instead: the big side must go
    through repartitionByRange (the rank-selection shuffle), never a
    percentile aggregate, and the metadata bound must be enforced by
    a limit() INSIDE the collect that materializes on the driver."""
    import ast
    import inspect

    from universal_data_connector_spark.operators import quantiles

    src = inspect.getsource(quantiles)
    tree = ast.parse(src)

    def attr_calls(node):
        return [n.func.attr for n in ast.walk(node)
                if isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)]

    # the percentile aggregate may appear ONLY inside the size-guarded
    # small-input fast path; the rank-selection body must never call
    # it (that is the unbounded-buffer regression this lint exists
    # to catch)
    funcs = {n.name: n for n in ast.walk(tree)
             if isinstance(n, ast.FunctionDef)}
    assert "_small_input_percentiles" in funcs
    rank_sel = funcs["exact_group_percentiles"]
    assert "repartitionByRange" in attr_calls(rank_sel)
    assert "percentile" not in attr_calls(rank_sel), \
        "percentile aggregate crept into the rank-selection body"
    assert "percentile" in attr_calls(funcs["_small_input_percentiles"])
    body = src[src.index("def exact_group_percentiles"):]
    assert "slice_counts.limit(max_meta_rows + 1).collect()" in body, \
        "metadata collect lost its driver-side materialization bound"
    # the fast path must be reachable only through the size guard
    guard = src[src.index("if small_input_bytes > 0:"):]
    assert "_small_input_percentiles" in guard.split("def ")[0]


def test_small_input_fast_path_fires_and_matches(spark, monkeypatch,
                                                 tmp_path):
    """Below the size threshold the helper takes ONE aggregate job
    (the 4-job rank-selection machinery is pure overhead on tiny
    inputs — measured ~1 s/call at local sf0.1) and returns values
    identical to the forced rank-selection path. The input must be
    parquet-backed: Python-local frames carry an UNKNOWN (Long.Max)
    size estimate, which the guard correctly treats as huge."""
    from universal_data_connector_spark.operators import quantiles

    calls = []
    orig = quantiles._small_input_percentiles

    def spy(*a, **kw):
        calls.append(1)
        return orig(*a, **kw)

    monkeypatch.setattr(quantiles, "_small_input_percentiles", spy)
    random.seed(5)
    rows = [("A", random.random() * 100) for _ in range(500)]
    rows += [("B", float(i % 9)) for i in range(77)]
    spark.createDataFrame(rows, "g string, v double") \
         .write.mode("overwrite").parquet(str(tmp_path / "q"))
    df = spark.read.parquet(str(tmp_path / "q"))
    fast = quantiles.exact_group_percentiles(
        df, ["g"], "v", PS, NAMES, small_input_bytes=1 << 30)
    assert calls, "size guard did not route a tiny input to the " \
                  "aggregate fast path"
    slow = quantiles.exact_group_percentiles(
        df, ["g"], "v", PS, NAMES, small_input_bytes=0)
    f = {r.g: [r[n] for n in NAMES] for r in fast.collect()}
    s = {r.g: [r[n] for n in NAMES] for r in slow.collect()}
    assert set(f) == set(s)
    for k in f:
        for a, b in zip(f[k], s[k]):
            assert repr(a) == repr(b), (k, repr(a), repr(b))
    # threshold 0 disables the fast path entirely
    n_before = len(calls)
    quantiles.exact_group_percentiles(
        df, ["g"], "v", [0.5], ["m"], small_input_bytes=0)
    assert len(calls) == n_before


def test_meta_rows_guard_raises_before_collect(spark):
    df = spark.createDataFrame(
        [("g%d" % i, float(i)) for i in range(200)],
        "g string, v double")
    with pytest.raises(ValueError, match="max_meta_rows"):
        exact_group_percentiles(df, ["g"], "v", [0.5], ["p50"],
                                max_meta_rows=10, small_input_bytes=0)
    # the fast path's own group-count overflow falls back to
    # rank-selection, whose guard then raises the same error
    with pytest.raises(ValueError, match="max_meta_rows"):
        exact_group_percentiles(df, ["g"], "v", [0.5], ["p50"],
                                max_meta_rows=10)


def test_out_cols_must_pair_with_ps(spark):
    df = spark.createDataFrame([("A", 1.0)], "g string, v double")
    with pytest.raises(ValueError, match="pair up"):
        exact_group_percentiles(df, ["g"], "v", [0.5], ["a", "b"])


def test_concurrent_quantile_calls_restore_conf(spark, monkeypatch):
    """Concurrent exact_group_percentiles calls overlap and all
    produce bit-correct results without touching session conf: the
    rank-selection slices are an eager materialization, which AQE may
    coalesce with no conf toggle."""
    import threading

    from pyspark.sql import functions as F

    from universal_data_connector_spark.operators.quantiles import (
        exact_group_percentiles,
    )

    conf_key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    before = spark.conf.get(conf_key)
    df = spark.range(1000).select(
        (F.col("id") % 4).alias("g"),
        (F.col("id") * 1.5).alias("v"))
    expected = {r["g"]: r["m"] for r in
                df.groupBy("g")
                  .agg(F.expr("percentile(v, 0.5)").alias("m"))
                  .collect()}

    sets = []
    real_set = spark.conf.set
    monkeypatch.setattr(spark.conf, "set",
                        lambda k, v: (sets.append(k), real_set(k, v)))
    results, errs = [], []

    def work():
        try:
            out = exact_group_percentiles(df, ["g"], "v", [0.5], ["m"],
                                          small_input_bytes=0)
            results.append({r["g"]: r["m"] for r in out.collect()})
        except Exception as exc:  # noqa: BLE001
            errs.append(exc)

    threads = [threading.Thread(target=work) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert len(results) == 4
    for got in results:
        assert got == expected
    assert sets == []  # the helper never changes session conf
    assert spark.conf.get(conf_key) == before
