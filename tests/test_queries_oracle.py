"""The primary gate: every catalog query with an oracle must hash-match
DuckDB at sf0.001 (the driver re-checks at sf0.01). Rows-only queries
must at least execute and return a stable schema. Below them, the
semantics of catalog keys that an oracle cannot pin alone."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR
from tests.oracle_harness import compare
from universal_data_connector_spark.plans.catalog import ORACLES, QUERIES

ORACLE_KEYS = sorted(ORACLES)
ROWS_ONLY_KEYS = sorted(set(QUERIES) - set(ORACLES))


@pytest.mark.parametrize("name", ORACLE_KEYS)
def test_oracle_match(spark, duck, name):
    sdf = QUERIES[name](spark, SF_DIR)
    rel = duck.sql(ORACLES[name])
    ok, detail = compare(sdf, rel)
    assert ok, f"{name}: {detail}"


@pytest.mark.parametrize("name", ROWS_ONLY_KEYS)
def test_rows_only_executes(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    assert df.columns, f"{name}: empty schema"
    df.collect()  # must execute without error


def test_entry_smoke(spark):
    import __spark_entry__ as e
    df = e.entry(spark)
    assert len(df.collect()) > 0


def test_every_query_key_has_callable():
    import __spark_entry__ as e
    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 40


def test_cogroup_asof_merge_arrow_path_and_semantics(spark, tmp_path):
    """cogroup_asof_merge moved to applyInArrow + a numpy searchsorted
    body (r21): the pandas cogroup serializer cost ~5 ms/group of
    DataFrame construction and merge_asof another ~2.5 ms/group. Pin
    (a) the Arrow cogroup node in the plan, and (b) the exact asof
    semantics the old body had: backward match, ties on ts take the
    max event_id purchase, clicks with no preceding purchase get NULL,
    purchase-only users emit nothing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = QUERIES["cogroup_asof_merge"](spark, SF_DIR)._jdf.queryExecution() \
        .optimizedPlan().toString()
    assert "FlatMapCoGroupsInArrow" in p or "Arrow" in p, p
    assert "FlatMapCoGroupsInPandas" not in p

    import numpy as np

    tbl = pa.table({
        "event_id": pa.array([1, 2, 3, 4, 5, 6, 7], pa.int64()),
        "ts": pa.array(np.array(["2024-01-01T00:00:00", "2024-01-01T00:10:00",
                                 "2024-01-01T00:10:00", "2024-01-01T00:05:00",
                                 "2024-01-01T00:00:30", "2024-01-01T00:20:00",
                                 "2024-01-01T00:01:00"],
                                dtype="datetime64[us]")),
        "user_id": pa.array([1, 1, 1, 1, 1, 2, 3], pa.int64()),
        "event_type": pa.array(["click", "purchase", "purchase", "click",
                                "purchase", "purchase", "click"]),
        "value": pa.array([None, 10.0, 20.0, None, 5.0, 9.0, None],
                          pa.float64()),
        "props": pa.array(["{}"] * 7),
    })
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    rows = {(r["click_id"], r["user_id"]): r["purchase_value"]
            for r in QUERIES["cogroup_asof_merge"](spark, str(tmp_path))
            .collect()}
    # click 1 at 00:00: no purchase at or before -> NULL
    assert rows[(1, 1)] is None
    # click 4 at 00:05: latest preceding purchase is event 5 (00:00:30)
    assert rows[(4, 1)] == 5.0
    # click 7 (user 3): no purchases for the user at all -> NULL
    assert rows[(7, 3)] is None
    # user 2 has only purchases -> no output rows
    assert all(u != 2 for (_, u) in rows)
    assert len(rows) == 3


def _write_events(tmp_path, pdf, name):
    import pyarrow as pa
    import pyarrow.parquet as pq
    d = tmp_path / name
    d.mkdir()
    pq.write_table(pa.Table.from_pandas(pdf), str(d / "events.parquet"))
    return str(d)


def test_cogroup_asof_null_uid_group_emits_null(spark, tmp_path):
    """r21 ADVICE: a NULL user_id group must emit rows with NULL
    user_id (the old pandas body's behavior), not crash np.full."""
    import pandas as pd

    ts = pd.to_datetime(["2024-01-01 00:00:00", "2024-01-01 01:00:00",
                         "2024-01-01 02:00:00"])
    pdf = pd.DataFrame({
        "user_id": pd.array([None, 1, 1], dtype="Int64"),
        "event_id": [10, 11, 12],
        "event_type": ["click", "purchase", "click"],
        "value": [1.0, 2.0, 3.0],
        "ts": ts})
    sf = _write_events(tmp_path, pdf, "nulluid")
    rows = sorted(QUERIES["cogroup_asof_merge"](spark, sf).collect(),
                  key=lambda r: r.click_id)
    assert [(r.click_id, r.user_id, r.purchase_value) for r in rows] == \
        [(10, None, None), (12, 1, 2.0)]


def test_cogroup_asof_null_ts_fails_loudly(spark, tmp_path):
    """r21 ADVICE: NULL merge keys must raise (as pd.merge_asof did),
    not yield arbitrary NaT-ordered matches."""
    import pandas as pd

    ts = pd.to_datetime(["2024-01-01 00:00:00", "2024-01-01 01:00:00",
                         pd.NaT])
    pdf = pd.DataFrame({
        "user_id": pd.array([1, 1, 1], dtype="Int64"),
        "event_id": [10, 11, 12],
        "event_type": ["click", "purchase", "click"],
        "value": [1.0, 2.0, 3.0],
        "ts": ts})
    sf = _write_events(tmp_path, pdf, "nullts")
    with pytest.raises(Exception) as ei:
        QUERIES["cogroup_asof_merge"](spark, sf).collect()
    assert "NULL ts" in str(ei.value)


def test_cogroup_asof_merge_shuffles_each_side_once(spark):
    """cogroup_asof_merge and agg_grouped_mad_pandas leave the grouped
    exchange to the planner: one ENSURE_REQUIREMENTS hash exchange per
    grouped input at the session's shuffle width, and no explicit
    per-side repartition (REPARTITION_BY_NUM), whose per-side counts
    could disagree and add a third exchange."""
    p = QUERIES["cogroup_asof_merge"](spark, SF_DIR)._jdf \
        .queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" not in p, p
    assert p.count("ENSURE_REQUIREMENTS") == 2, p
    p = QUERIES["agg_grouped_mad_pandas"](spark, SF_DIR)._jdf \
        .queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" not in p, p
    assert p.count("ENSURE_REQUIREMENTS") == 1, p
