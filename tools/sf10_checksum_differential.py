"""sf10 VALUE adjudication via both-engine aggregate checksums
(VERDICT r17 item 1).

The r17 sf10 differential full-row-compared only the 42 bounded-output
keys: the comparator collects both result sets into pandas, which a
60M-row window result can't survive. This harness closes the remaining
gap with per-key AGGREGATE CHECKSUMS that each engine computes over its
OWN result — Spark over the catalog query's DataFrame, DuckDB over the
key's oracle SQL — reducing any output cardinality to one row that the
standard comparator can adjudicate:

* ``n``                  — COUNT(*) over the result;
* per integral/boolean column — non-null count + exact SUM (through
  DECIMAL(38,0), never a wrapping bigint) + MIN/MAX;
* per string column      — non-null count + order-insensitive SUM and
  BIT_XOR of a 60-bit md5 slice (`conv(substr(md5(c),1,15),16,10)` on
  Spark == `('0x' || substr(md5(c),1,15))::BIGINT` on DuckDB — verified
  identical), + MIN/MAX;
* per double column      — non-null count + MIN/MAX compared EXACTLY
  (every per-row double is bit-identical across engines — 17 rounds of
  strict full-row hash evidence — and MIN/MAX select a row value, so
  exactness survives any cardinality) + SUM compared under 1e-9
  relative tolerance (the one quantity where the ORDER of a 60M-term
  float reduction legitimately differs between engines).

All exact fields go through the canonicalizer `oracle_harness._canon`
uses (repr for floats: shortest round-trip, so "exact" means
bit-exact); only ``*__fsum`` fields get the tolerance.

Oracle-side feasibility guard: a few keys' ORACLES are intrinsically
quadratic (brute-force all-pairs cosine at 200k sf10 embeddings is
~4e10 dot products in single-threaded-ish DuckDB — hours), which is an
oracle limitation, not an engine one (those keys carry full-row sf1
VALUE passes). A watchdog interrupts any oracle running past
``UDC_CKSUM_ORACLE_TIMEOUT`` seconds (default 900) and records
ORACLE-TIMEOUT — distinct from FAIL. Results flush to the artifact
after every key, so a killed run keeps its evidence.

Usage: python tools/sf10_checksum_differential.py [sf_dir] [key ...]
       (default sf_dir: scale_probe/sf10; default keys: every oracled
        catalog key)
Writes scale_probe/sf10_checksum_<UDC_SF10_TAG>.json; exit 1 on any
FAIL.
"""

from __future__ import annotations

import json
import math
import os
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

FSUM_REL_TOL = 1e-9
ORACLE_TIMEOUT = float(os.environ.get("UDC_CKSUM_ORACLE_TIMEOUT", "900"))


class OracleTimeout(Exception):
    pass


def _oracle_row_with_watchdog(con, sql: str) -> dict:
    """Run the DuckDB checksum query, interrupting it past
    ORACLE_TIMEOUT seconds (con.interrupt is thread-safe)."""
    done = threading.Event()

    def watchdog():
        if not done.wait(ORACLE_TIMEOUT):
            con.interrupt()

    t = threading.Thread(target=watchdog, daemon=True)
    t0 = time.perf_counter()
    t.start()
    try:
        rel = con.sql(sql)
        row = dict(zip(rel.columns, rel.fetchone()))
    except Exception as exc:  # noqa: BLE001
        if time.perf_counter() - t0 >= ORACLE_TIMEOUT - 1:
            raise OracleTimeout(
                f"oracle exceeded {ORACLE_TIMEOUT:.0f}s") from exc
        raise
    finally:
        done.set()
    return row


def _hash_expr(col: str, spark: bool) -> str:
    q = f'"{col}"' if not spark else f"`{col}`"
    if spark:
        return f"CAST(conv(substr(md5({q}), 1, 15), 16, 10) AS BIGINT)"
    return f"('0x' || substr(md5({q}), 1, 15))::BIGINT"


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


def main() -> int:
    from pyspark.sql import SparkSession

    from universal_data_connector_spark.session import DEFAULT_CPUS

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else \
        os.path.join(REPO, "scale_probe", "sf10")
    spark = (SparkSession.builder.master(f"local[{DEFAULT_CPUS}]")
             .config("spark.driver.memory", "48g")
             .config("spark.sql.shuffle.partitions", str(DEFAULT_CPUS))
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e
    from oracle_harness import duck_connection

    con = duck_connection(sf_dir)
    # bound the oracle engine and let it SPILL instead of dying: at
    # sf10 a few oracles (order-pair self-joins, shingle explosions)
    # exceed DuckDB's default in-memory budget next to the 48g Spark
    # driver JVM — an oracle OOM is a resource artifact, not a value
    # verdict
    duck_mem = os.environ.get("UDC_CKSUM_DUCK_MEM", "40GB")
    spill = os.environ.get("UDC_CKSUM_DUCK_SPILL", "/tmp/duckdb_spill")
    os.makedirs(spill, exist_ok=True)
    con.execute(f"SET memory_limit='{duck_mem}'")
    con.execute(f"SET temp_directory='{spill}'")
    qs, osql = e.queries(), e.oracle_sql()
    keys = sys.argv[2:] or [k for k in qs if k in osql]

    tag = os.environ.get("UDC_SF10_TAG", "r18")
    path = os.path.join(REPO, "scale_probe", f"sf10_checksum_{tag}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)

    results, bad, timed_out = {}, 0, 0
    for name in keys:
        if name not in osql:
            results[name] = {"verdict": "NO-ORACLE"}
            print(f"{name}: NO-ORACLE (skipped)", flush=True)
            continue
        t0 = time.perf_counter()
        try:
            df = qs[name](spark, sf_dir)
            fields = [(f.name, f.dataType.simpleString().split("(")[0])
                      for f in df.schema.fields]
            view = "__cksum_result"
            df.createOrReplaceTempView(view)
            sp_row = spark.sql(
                checksum_sql(fields, f"SELECT * FROM {view}", spark=True)
            ).collect()[0].asDict()
            # native fetch, not .df(): pandas coerces DECIMAL(38,0)/
            # HUGEINT to float64, destroying the exactness the
            # checksum exists to carry
            du_row = _oracle_row_with_watchdog(
                con, checksum_sql(fields, osql[name], spark=False))
            ok, detail = compare_checksums(sp_row, du_row)
        except OracleTimeout as exc:
            ok, detail, sp_row = None, str(exc), None
        except Exception as exc:  # noqa: BLE001
            ok, detail = False, f"ERROR: {exc!r}"[:400]
            sp_row = None
        wall = round(time.perf_counter() - t0, 2)
        if ok is None:
            rec = {"verdict": "ORACLE-TIMEOUT", "wall_sec": wall,
                   "detail": str(detail)[:400]}
            timed_out += 1
            print(f"{name}: ORACLE-TIMEOUT ({wall}s)", flush=True)
        else:
            rec = {"verdict": "PASS" if ok else "FAIL",
                   "wall_sec": wall}
            if ok and sp_row is not None:
                rec["n"] = int(sp_row.get("n", -1))
            if not ok:
                rec["detail"] = str(detail)[:400]
            print(f"{name}: "
                  f"{'ok' if ok else 'MISMATCH ' + str(detail)[:250]}"
                  f" ({wall}s)", flush=True)
            bad += 0 if ok else 1
        results[name] = rec
        # flush after every key so a killed run keeps its evidence
        with open(path, "w") as fh:
            json.dump({"sf_dir": sf_dir, "keys": len(keys),
                       "failed": bad, "oracle_timeouts": timed_out,
                       "fsum_rel_tol": FSUM_REL_TOL,
                       "oracle_timeout_sec": ORACLE_TIMEOUT,
                       "results": results}, fh, indent=1)

    print(f"-- {len(keys) - bad - timed_out}/{len(keys)} checksum-green "
          f"({timed_out} oracle-timeout) at {sf_dir} -> {path}",
          flush=True)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
