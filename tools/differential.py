"""Differential check of the operator catalog: every key's Spark
result against its ``__spark_entry__.oracle_sql()`` DuckDB twin, on
the same parquet tables.

Per key, both engines reduce their OWN result to a one-row checksum
(``checksum_sql``), so any output cardinality compares in one row:

* ``n``                      — COUNT(*) over the result;
* per integral/boolean column — non-null count + exact SUM (through
  DECIMAL(38,0), never a wrapping bigint) + MIN/MAX;
* per string column          — non-null count + order-insensitive SUM
  and BIT_XOR of a 60-bit md5 slice (``_hash_expr``; the two engines'
  spellings are value-identical) + MIN/MAX;
* per double column          — non-null count + MIN/MAX compared
  EXACTLY (they select a row value, and per-row doubles are
  bit-identical across engines) + SUM within ``FSUM_REL_TOL`` (the one
  quantity whose float reduction order legitimately differs).

A result of at most ``EXACT_ROWS_MAX`` rows is then also compared row
for row by ``tests/oracle_harness.compare`` (row count, column names,
order-insensitive canonical values). The Spark result is materialized
once (``relational.materialize``), so its checksum and the exact
compare read the same computed rows instead of running the query
twice. Above it only the checksum runs,
which keeps what the harness collects to the driver bounded at any
scale. An oracle running past ``ORACLE_TIMEOUT_S`` is interrupted and
recorded as ORACLE-TIMEOUT: an oracle cost (all-pairs oracles grow
quadratically), not a verdict on the engine.

The session is a vanilla ``local[DEFAULT_CPUS]`` builder, as any caller
of ``__spark_entry__`` may build it (the catalog pins its own confs),
with ``spark.driver.memory`` from ``session.DEFAULT_DRIVER_MEM``. DuckDB
gets the same figure as its ``memory_limit`` and spills to a temporary
directory.

Usage: python tools/differential.py [--sf 0.01,0.1 | --sf DIR]
                                    [--out PATH] [key ...]

A scale X is ``sf{X:g}`` beside ``__spark_entry__.SF0001``, else
``scale_probe/sf{X:g}`` (``tools/gen_scale_probe_data.py X``); no keys
means every key. Each key prints one line, ok, FAIL <detail>,
rows-only or ORACLE-TIMEOUT, with its wall time; exit code 1 on any
FAIL.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import tempfile
import threading
import time
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

# above the largest result at sf0.1 (ts_rollup_gapfill, ~1.05M rows)
EXACT_ROWS_MAX = 2_000_000
FSUM_REL_TOL = 1e-9
ORACLE_TIMEOUT_S = 900.0


class OracleTimeout(Exception):
    pass


def _oracle_row(con, *sqls: str) -> dict:
    """Run the DuckDB statements in order and return the last one's
    row, interrupting them past ORACLE_TIMEOUT_S (``con.interrupt`` is
    thread-safe). A native fetch, not ``.df()``: pandas would turn
    DECIMAL(38,0) into float64 and lose the exactness the checksum
    carries."""
    done = threading.Event()

    def watchdog():
        if not done.wait(ORACLE_TIMEOUT_S):
            con.interrupt()

    threading.Thread(target=watchdog, daemon=True).start()
    t0 = time.perf_counter()
    try:
        for sql in sqls[:-1]:
            con.execute(sql)
        rel = con.sql(sqls[-1])
        return dict(zip(rel.columns, rel.fetchone()))
    except Exception as exc:
        if time.perf_counter() - t0 >= ORACLE_TIMEOUT_S - 1:
            raise OracleTimeout(
                f"oracle exceeded {ORACLE_TIMEOUT_S:.0f}s") from exc
        raise
    finally:
        done.set()


def _hash_expr(col: str, spark: bool) -> str:
    if spark:
        return f"CAST(conv(substr(md5(`{col}`), 1, 15), 16, 10) AS BIGINT)"
    return f"('0x' || substr(md5(\"{col}\"), 1, 15))::BIGINT"


def checksum_sql(fields: list[tuple[str, str]], inner: str,
                 spark: bool) -> str:
    """One checksum SELECT over ``inner`` for both engines; only the
    md5-slice idiom and identifier quoting differ."""
    parts = ["COUNT(*) AS n"]
    for name, kind in fields:
        q = f"`{name}`" if spark else f'"{name}"'
        a = name.lower()
        parts.append(f"COUNT({q}) AS {a}__cnt")
        if kind in ("bigint", "int", "smallint", "tinyint"):
            parts.append(f"SUM(CAST({q} AS DECIMAL(38,0))) AS {a}__sum")
            parts.append(f"CAST(MIN({q}) AS BIGINT) AS {a}__min")
            parts.append(f"CAST(MAX({q}) AS BIGINT) AS {a}__max")
        elif kind == "boolean":
            parts.append(f"SUM(CASE WHEN {q} THEN 1 ELSE 0 END) "
                         f"AS {a}__sum")
        elif kind in ("double", "float"):
            parts.append(f"MIN({q}) AS {a}__min")
            parts.append(f"MAX({q}) AS {a}__max")
            parts.append(f"SUM({q}) AS {a}__fsum")
        elif kind == "string":
            h = _hash_expr(name, spark)
            parts.append(f"SUM(CAST({h} AS DECIMAL(38,0))) AS {a}__sh")
            parts.append(f"BIT_XOR({h}) AS {a}__xh")
            parts.append(f"MIN({q}) AS {a}__min")
            parts.append(f"MAX({q}) AS {a}__max")
        else:
            raise ValueError(f"unhandled checksum type {kind} "
                             f"for column {name}")
    return f"SELECT {', '.join(parts)} FROM ({inner}) __cksum_t"


def _norm(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<NULL>"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def compare_checksums(sp_row: dict, du_row: dict) -> tuple[bool, str]:
    """Every field exactly (floats by repr), except ``*__fsum`` within
    FSUM_REL_TOL."""
    sp = {k.lower(): v for k, v in sp_row.items()}
    du = {k.lower(): v for k, v in du_row.items()}
    if sorted(sp) != sorted(du):
        return False, f"checksum columns differ: {sorted(sp)} vs {sorted(du)}"
    diffs = []
    for k in sorted(sp):
        a, b = sp[k], du[k]
        if k.endswith("__fsum"):
            an = a is None or (isinstance(a, float) and math.isnan(a))
            bn = b is None or (isinstance(b, float) and math.isnan(b))
            if an or bn:
                if an != bn:
                    diffs.append(f"{k}: {a!r} vs {b!r}")
                continue
            fa, fb = float(a), float(b)
            scale = max(abs(fa), abs(fb), 1.0)
            if abs(fa - fb) > FSUM_REL_TOL * scale:
                diffs.append(f"{k}: {fa!r} vs {fb!r} "
                             f"(rel {abs(fa - fb) / scale:.2e})")
        elif _norm(a) != _norm(b):
            diffs.append(f"{k}: {_norm(a)} vs {_norm(b)}")
    if diffs:
        return False, "; ".join(diffs[:6])
    return True, "ok"


def check_key(spark, con, query, oracle: str | None, sf_dir: str) -> dict:
    """One key's record: its verdict, the result's row count ``n``,
    whether ``n`` is small enough for the exact compare, and the
    detail of a FAIL or ORACLE-TIMEOUT."""
    from oracle_harness import compare

    from universal_data_connector_spark.operators.relational import (
        materialize,
    )
    from universal_data_connector_spark.session import temp_view

    df = query(spark, sf_dir)
    if oracle is None:
        return {"verdict": "rows-only", "n": df.count()}
    # computed once: the checksum job and the exact compare both read
    # these blocks
    df = materialize(df)
    fields = [(f.name, f.dataType.simpleString().split("(")[0])
              for f in df.schema.fields]
    with temp_view(df, "__cksum") as view:
        sp_row = spark.sql(checksum_sql(
            fields, f"SELECT * FROM {view}", spark=True)).first().asDict()
    n = int(sp_row["n"])
    rec = {"n": n, "exact": n <= EXACT_ROWS_MAX}
    # a result the exact compare reads too is stored once, so its
    # oracle runs once; a larger one streams into its checksum
    setup = [f"CREATE OR REPLACE TEMP TABLE __oracle AS "
             f"SELECT * FROM ({oracle})"] if rec["exact"] else []
    result = "SELECT * FROM __oracle" if rec["exact"] else oracle
    try:
        du_row = _oracle_row(con, *setup,
                             checksum_sql(fields, result, spark=False))
        ok, detail = compare_checksums(sp_row, du_row)
        if ok and rec["exact"]:
            ok, detail = compare(df, con.sql(result))
    except OracleTimeout as exc:
        return {**rec, "verdict": "ORACLE-TIMEOUT", "detail": str(exc)}
    finally:
        con.execute("DROP TABLE IF EXISTS __oracle")
    return {**rec, "verdict": "ok" if ok else "FAIL",
            **({} if ok else {"detail": detail[:400]})}


def _resolve(sf: str) -> str:
    """A directory as given; a number X as ``sf{X:g}`` beside
    ``__spark_entry__.SF0001``, else under ``scale_probe/``."""
    import __spark_entry__ as e

    if os.path.isdir(sf):
        return os.path.abspath(sf)
    for root in (os.path.dirname(e.SF0001),
                 os.path.join(REPO, "scale_probe")):
        if os.path.isdir(path := os.path.join(root, f"sf{float(sf):g}")):
            return path
    raise SystemExit(f"no data for --sf {sf}: run "
                     f"tools/gen_scale_probe_data.py {sf}")


def check_scale(spark, con, sf: str, sf_dir: str, keys: list[str],
                record: dict, out: str | None) -> int:
    """Check ``keys`` on one scale's tables, printing a line per key
    and a summary, and adding their records to ``record`` (written to
    ``out`` after every key); the number of FAILs."""
    import __spark_entry__ as e

    qs, osql = e.queries(), e.oracle_sql()
    results = {}
    record["runs"][f"sf{sf}"] = {"sf_dir": sf_dir, "results": results}
    t_run = time.perf_counter()
    for name in keys:
        t0 = time.perf_counter()
        try:
            rec = check_key(spark, con, qs[name], osql.get(name), sf_dir)
        except Exception as exc:  # noqa: BLE001 - the next key runs
            rec = {"verdict": "FAIL", "detail": f"ERROR: {exc!r}"[:400]}
        rec["wall_s"] = round(time.perf_counter() - t0, 2)
        results[name] = rec
        shown = {"FAIL": f"FAIL {rec.get('detail', '')[:200]}",
                 "rows-only": f"rows-only, {rec.get('n')} rows"}
        print(f"sf{sf} {name}: {shown.get(rec['verdict'], rec['verdict'])}"
              f" ({rec['wall_s']:.1f}s)", flush=True)
        if out:
            with open(out, "w") as fh:
                json.dump(record, fh, indent=1)
    counts = Counter(r["verdict"] for r in results.values())
    print(f"-- sf{sf}: " + ", ".join(
        f"{c} {v}" for v, c in sorted(counts.items()))
        + f" in {time.perf_counter() - t_run:.0f}s", flush=True)
    return counts["FAIL"]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        description="Catalog keys against their DuckDB oracles.")
    ap.add_argument("--sf", default="0.01",
                    help="comma-separated scales or directories")
    ap.add_argument("--out", help="JSON record, rewritten after every key")
    ap.add_argument("keys", nargs="*", help="default: every catalog key")
    args = ap.parse_args(argv)

    from oracle_harness import duck_connection
    from pyspark.sql import SparkSession

    import __spark_entry__ as e
    from universal_data_connector_spark import session

    cpus, driver_mem = session.DEFAULT_CPUS, session.DEFAULT_DRIVER_MEM
    sf_dirs = {sf: _resolve(sf) for sf in args.sf.split(",")}
    keys = args.keys or list(e.queries())
    unknown = sorted(set(keys) - set(e.queries()))
    if unknown:
        raise SystemExit(f"unknown keys: {unknown}")

    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .config("spark.driver.memory", driver_mem).getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    record = {"cpus": cpus, "driver_memory": driver_mem,
              "exact_rows_max": EXACT_ROWS_MAX,
              "fsum_rel_tol": FSUM_REL_TOL,
              "oracle_timeout_s": ORACLE_TIMEOUT_S, "runs": {}}
    failed = 0
    with tempfile.TemporaryDirectory(prefix="udc-duckdb-spill-") as spill:
        for sf, sf_dir in sf_dirs.items():
            with duck_connection(sf_dir) as con:
                # DuckDB reads the size suffix in decimal units, so its
                # limit is at most the JVM's
                con.execute(f"SET memory_limit='{driver_mem}'")
                con.execute(f"SET temp_directory='{spill}'")
                failed += check_scale(spark, con, sf, sf_dir, keys,
                                      record, args.out)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
