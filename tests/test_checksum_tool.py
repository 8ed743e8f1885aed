"""The differential harness's own contract (``tools/differential.py``):
the cross-engine hash idiom must be value-identical, the checksum SQL
must produce matching rows on matching inputs (and mismatched rows on
mutated inputs), the comparator must tolerate ONLY the raw double sum
(everything else is exact), and a run exits 0 on agreeing keys and 1
with a FAIL line on a wrong oracle. The harness is correctness
infrastructure (it adjudicates the catalog at every scale), so its own
semantics are pinned here.
"""

from __future__ import annotations

import importlib.util
import os
import sys

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

spec = importlib.util.spec_from_file_location(
    "differential", os.path.join(REPO, "tools", "differential.py"))
differential = importlib.util.module_from_spec(spec)
sys.modules["differential"] = differential
spec.loader.exec_module(differential)


def test_hash_idiom_identical_across_engines(spark):
    """`conv(substr(md5(c),1,15),16,10)` on Spark must equal
    `('0x'||substr(md5(c),1,15))::BIGINT` on DuckDB for arbitrary
    strings — the string-column checksum is built on this identity."""
    vals = ["", "a", "abc", "hello world", "NACIÓN", "0", " ",
            "line\nbreak", "x" * 500]
    sp = spark.createDataFrame([(v,) for v in vals], "s string")
    sp.createOrReplaceTempView("hash_t")
    h_sp = differential._hash_expr("s", spark=True)
    got_sp = [r[0] for r in spark.sql(
        f"SELECT {h_sp} FROM hash_t ORDER BY s").collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE hash_t(s VARCHAR)")
    con.executemany("INSERT INTO hash_t VALUES (?)", [(v,) for v in vals])
    h_du = differential._hash_expr("s", spark=False)
    got_du = [r[0] for r in con.sql(
        f'SELECT {h_du} FROM hash_t ORDER BY s').fetchall()]
    assert got_sp == got_du


def test_checksum_sql_matches_on_equal_inputs_and_catches_mutation(spark):
    rows = [(1, "alpha", 1.5), (2, "beta", 2.25), (3, None, None)]
    fields = [("k", "bigint"), ("s", "string"), ("d", "double")]
    sp = spark.createDataFrame(rows, "k bigint, s string, d double")
    sp.createOrReplaceTempView("ck_t")
    sp_row = spark.sql(differential.checksum_sql(
        fields, "SELECT * FROM ck_t", spark=True)).collect()[0].asDict()

    con = duckdb.connect()
    con.execute("CREATE TABLE ck_t(k BIGINT, s VARCHAR, d DOUBLE)")
    con.executemany("INSERT INTO ck_t VALUES (?,?,?)", rows)
    rel = con.sql(differential.checksum_sql(
        fields, "SELECT * FROM ck_t", spark=False))
    du_row = dict(zip(rel.columns, rel.fetchone()))
    ok, detail = differential.compare_checksums(sp_row, du_row)
    assert ok, detail

    # a single mutated string value must flip both sh and xh
    con.execute("UPDATE ck_t SET s = 'ALPHA' WHERE k = 1")
    rel = con.sql(differential.checksum_sql(
        fields, "SELECT * FROM ck_t", spark=False))
    du_mut = dict(zip(rel.columns, rel.fetchone()))
    ok, detail = differential.compare_checksums(sp_row, du_mut)
    assert not ok
    assert "__sh" in detail and "__xh" in detail

    # a one-ulp-style integer drift must be caught exactly
    con.execute("UPDATE ck_t SET s = 'alpha', k = 4 WHERE k = 1")
    rel = con.sql(differential.checksum_sql(
        fields, "SELECT * FROM ck_t", spark=False))
    du_int = dict(zip(rel.columns, rel.fetchone()))
    ok, detail = differential.compare_checksums(sp_row, du_int)
    assert not ok and "k__" in detail


@pytest.mark.parametrize("rel_err,expect", [(1e-12, True), (1e-6, False)])
def test_fsum_tolerance_is_scoped_to_double_sums(rel_err, expect):
    base = {"n": 3, "d__cnt": 3, "d__min": 1.0, "d__max": 2.0,
            "d__fsum": 4.5}
    other = dict(base, d__fsum=4.5 * (1 + rel_err))
    ok, _ = differential.compare_checksums(base, other)
    assert ok is expect
    # the same relative drift on an EXACT field (min) always fails
    drifted = dict(base, d__min=1.0 + 1e-12)
    ok, detail = differential.compare_checksums(base, drifted)
    assert not ok and "d__min" in detail


def test_main_exits_on_verdicts(spark, capsys, monkeypatch):
    """In-process at sf0.001: an oracled key and a rows-only key exit
    0; the same key against a wrong oracle (every row twice) exits 1
    with a FAIL line."""
    from universal_data_connector_spark.plans import catalog

    key, rows_only = "agg_count_distinct", "agg_approx_count_distinct"
    assert key in catalog.ORACLES and rows_only not in catalog.ORACLES
    assert differential.main(["--sf", "0.001", key, rows_only]) == 0
    out = capsys.readouterr().out
    assert f"sf0.001 {key}: ok" in out
    assert f"sf0.001 {rows_only}: rows-only" in out

    oracle = catalog.ORACLES[key]
    monkeypatch.setitem(catalog.ORACLES, key,
                        f"SELECT * FROM ({oracle}) UNION ALL "
                        f"SELECT * FROM ({oracle})")
    assert differential.main(["--sf", "0.001", key]) == 1
    assert f"sf0.001 {key}: FAIL" in capsys.readouterr().out
