"""Bounded sf10 VALUE evidence for ``dedup_embedding_cosine``.

The key's ORACLE is an all-pairs cosine join — ~4e10 dot products over
the 200k sf10 embeddings — which no oracle budget survives
(ORACLE-TIMEOUT in scale_probe/sf10_checksum_r18.json). This harness
keeps BOTH the catalog callable and the oracle SQL verbatim and bounds
only the INPUT: a deterministic ``vec_id % mod == 0`` slice of the
sf10 embeddings table (default mod=10 → 20k vectors, 2e8 oracle dot
products — sf1 cardinality at sf10 DATA VALUES), materialized into a
temp sf_dir whose other tables symlink the real sf10 ones. The full
driver comparator (row count + schema + canonicalized values,
oracle_harness.compare) adjudicates the result.

Usage: python tools/sf10_embedding_cosine_slice.py [mod]
Writes scale_probe/sf10_embedding_cosine_slice_<UDC_SF10_TAG>.json.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

KEY = "dedup_embedding_cosine"


def main() -> int:
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql import SparkSession

    from universal_data_connector_spark.session import DEFAULT_CPUS
    from universal_data_connector_spark.tables import TABLES

    mod = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    sf10 = os.path.join(REPO, "scale_probe", "sf10")
    tmp = tempfile.mkdtemp(prefix="sf10-emb-slice-")
    tab = pq.read_table(os.path.join(sf10, "embeddings.parquet"))
    keep = pc.equal(
        pc.subtract(tab["vec_id"],
                    pc.multiply(pc.divide(tab["vec_id"], mod), mod)), 0)
    sliced = tab.filter(keep)
    pq.write_table(sliced, os.path.join(tmp, "embeddings.parquet"))
    for t in TABLES:
        if t != "embeddings":
            os.symlink(os.path.join(sf10, f"{t}.parquet"),
                       os.path.join(tmp, f"{t}.parquet"))

    spark = (SparkSession.builder.master(f"local[{DEFAULT_CPUS}]")
             .config("spark.driver.memory", "48g")
             .config("spark.sql.shuffle.partitions", str(DEFAULT_CPUS))
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e
    from oracle_harness import compare, duck_connection

    con = duck_connection(tmp)
    con.execute("SET memory_limit='40GB'")
    con.execute("SET temp_directory='/tmp/duckdb_spill'")
    qs, osql = e.queries(), e.oracle_sql()

    t0 = time.perf_counter()
    ok, detail = compare(qs[KEY](spark, tmp), con.sql(osql[KEY]))
    wall = round(time.perf_counter() - t0, 2)
    n_vec = sliced.num_rows
    out = {"key": KEY, "sf_dir": sf10, "mod": mod, "n_vectors": n_vec,
           "oracle_pairs_evaluated": n_vec * (n_vec - 1) // 2,
           "verdict": "PASS" if ok else "FAIL",
           "wall_sec": wall,
           **({} if ok else {"detail": str(detail)[:300]})}
    tag = os.environ.get("UDC_SF10_TAG", "r18")
    path = os.path.join(REPO, "scale_probe",
                        f"sf10_embedding_cosine_slice_{tag}.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out), flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
