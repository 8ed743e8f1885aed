"""``session.local_frame``: the Arrow-built frame equals the list form
of ``createDataFrame``, schema and rows, and its scan splits the way
the callers that drop their repartition rely on."""

from __future__ import annotations

import pytest

from universal_data_connector_spark.session import local_frame

_SCHEMA = "s string, i int, b bigint, v array<double>"
_ROWS = [
    ("a", 1, 2**40, [1.0, -2.5]),
    (None, None, None, None),
    ("", -7, 0, []),
    ("c", 2**31 - 1, -(2**63), [None, 3.0]),
]


@pytest.mark.parametrize("rows", [_ROWS, []], ids=["rows", "empty"])
def test_local_frame_equals_list_path(spark, rows):
    got = local_frame(spark, rows, _SCHEMA)
    want = spark.createDataFrame(rows, _SCHEMA)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_local_frame_scan_partitions(spark):
    par = spark.sparkContext.defaultParallelism
    for n in (1, 4, 9, par + 3):
        df = local_frame(spark, [(str(i),) for i in range(n)], "u string")
        assert df.rdd.getNumPartitions() == min(max(n, 1), par)
    # an empty frame scans no partition at all
    assert local_frame(spark, [], "u string").rdd.getNumPartitions() == 0
