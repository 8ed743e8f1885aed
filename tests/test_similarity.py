"""Similarity-search tests: brute-force correctness vs numpy and IVF
recall (referenced from plans/catalog.py `sim_search_ivf`)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR, SF_DIR_MED
from universal_data_connector_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
)
from universal_data_connector_spark.tables import load


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(7)
    mat = rng.normal(size=(40, 16))
    rows = [(i, [float(x) for x in mat[i]]) for i in range(40)]
    return (spark.createDataFrame(rows, "vec_id bigint, embedding array<double>"),
            mat)


def _numpy_topk(mat, qids, k):
    norm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = norm @ norm.T
    out = {}
    for q in qids:
        order = sorted(
            (i for i in range(len(mat)) if i != q),
            key=lambda i: (-sims[q, i], i))
        out[q] = order[:k]
    return out


def test_brute_force_matches_numpy(vectors):
    df, mat = vectors
    queries = df.filter(F.col("vec_id") < 5)
    got = brute_force_topk(queries, df, k=3)
    by_q = {}
    for r in got.orderBy("query_id", "rank").collect():
        by_q.setdefault(r.query_id, []).append((r.neighbor_id, r.cosine))
    want = _numpy_topk(mat, range(5), 3)
    for q in range(5):
        assert [n for n, _ in by_q[q]] == want[q]
        for n, c in by_q[q]:
            n_np = float(np.dot(mat[q], mat[n]) /
                         (np.linalg.norm(mat[q]) * np.linalg.norm(mat[n])))
            assert math.isclose(c, n_np, rel_tol=1e-9)


def test_ivf_recall_on_testdata(spark):
    """IVF probes n_probe/n_centroids of the corpus; recall@5 against
    brute force stays high because near neighbors share lists."""
    e = load(spark, SF_DIR, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    exact = {(r.query_id, r.neighbor_id)
             for r in brute_force_topk(queries, e, k=5).collect()}
    approx = {(r.query_id, r.neighbor_id)
              for r in ivf_topk(queries, e, k=5, n_centroids=16, n_probe=4).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall@5 = {recall:.2f}"


def test_ivf_returns_k_ranked_rows_per_query(vectors):
    df, _ = vectors
    queries = df.filter(F.col("vec_id") < 3)
    out = ivf_topk(queries, df, k=4, n_centroids=8, n_probe=8)  # probe all -> exact
    rows = out.orderBy("query_id", "rank").collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert all(ranks == [1, 2, 3, 4] for ranks in per_q.values())
    # probing every list makes IVF exact: must equal brute force
    exact = {(r.query_id, r.rank): r.neighbor_id
             for r in brute_force_topk(queries, df, k=4).collect()}
    got = {(r.query_id, r.rank): r.neighbor_id for r in rows}
    assert got == exact


def test_ivf_kmeans_recovers_planted_clusters(spark):
    """On clustered data, trained (spherical) k-means lists align with
    the real structure: probing 1 of 8 lists must keep near-total
    recall because each query's neighbors share its list. (The synthetic
    `embeddings` table is near-isotropic — no IVF scheme beats random
    lists there — so the structure claim is tested on planted
    clusters.)"""
    import numpy as np

    from universal_data_connector_spark.operators.similarity import kmeans_centroids

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(8, 16)) * 10.0
    rows = []
    for i in range(400):
        c = i % 8
        v = centers[c] + rng.normal(size=16)  # tight cluster around center
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    queries = df.filter(F.col("vec_id") < 10)
    exact = {(r.query_id, r.neighbor_id)
             for r in brute_force_topk(queries, df, k=5).collect()}
    cents = kmeans_centroids(df, n_centroids=8)
    approx = {(r.query_id, r.neighbor_id)
              for r in ivf_topk(queries, df, k=5, n_probe=1,
                                centroids=cents).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"k-means IVF recall@5 = {recall:.2f}"


def test_ivf_kmeans_catalog_chain_on_testdata(spark):
    """The retired ``sim_search_ivf_kmeans`` catalog chain, verbatim
    (retirement recorded round 12 per the SURVEY §2B capacity policy:
    a new oracled key may only land in the commit that retires one —
    this test carries the retiree's driver evidence). The key was
    permanently rows-only, so the driver ever only checked row count,
    schema stability, and that the MLlib-training integration
    executes; all three are pinned here on the real sf0.001
    embeddings table, plus cross-run determinism, which the driver's
    single execution could never check."""
    from universal_data_connector_spark.operators.similarity import (
        kmeans_centroids,
    )

    def chain():
        e = load(spark, SF_DIR, "embeddings")
        cents = kmeans_centroids(e, n_centroids=8, max_iter=8)
        out = ivf_topk(e.filter(F.col("vec_id") < 10), e, k=5,
                       n_centroids=8, n_probe=2, centroids=cents)
        return out.select("query_id", "neighbor_id",
                          F.col("rank").cast("bigint").alias("rank"))

    out = chain()
    assert [f.name for f in out.schema.fields] == [
        "query_id", "neighbor_id", "rank"]
    rows = out.collect()
    # 10 queries x top-5 from probed lists; a query's 2 probed lists of
    # 8 always hold >= 5 candidates on this table, so exactly 50 rows
    assert len(rows) == 50
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per_q.values())
    # fixed-seed MLlib training => the whole chain is deterministic
    again = {(r.query_id, r.rank): r.neighbor_id for r in chain().collect()}
    first = {(r.query_id, r.rank): r.neighbor_id for r in rows}
    assert again == first


def test_lsh_topk_recall_on_planted_clusters(spark):
    """Three tight planted clusters: hyperplane LSH must put
    same-cluster vectors at the top of each query's neighbor list."""
    import numpy as np

    from universal_data_connector_spark.operators.similarity import lsh_topk
    rng = np.random.default_rng(11)
    rows = []
    for c in range(3):
        center = rng.standard_normal(16) * 3
        for i in range(8):
            v = center + rng.standard_normal(16) * 0.05
            rows.append((c * 100 + i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = lsh_topk(df.filter("vec_id % 100 = 0"), df, k=3)
    got = {(r.query_id, r.neighbor_id) for r in out.collect()}
    for c in range(3):
        q = c * 100
        neighbors = {n for (qq, n) in got if qq == q}
        assert neighbors and all(n // 100 == c for n in neighbors), \
            f"cluster {c}: {neighbors}"


def test_embedding_cosine_banded_oracle_equals_brute_force():
    """The dedup_embedding_cosine oracle bands candidates with the
    engine's own fixed-seed hyperplanes so it scales to the sf10
    population. This differential pins the banded
    SQL to the retired brute-force SQL on real testdata — identical
    result sets (both all-pairs-verified here, since the data holds no
    >=0.95 pair the bands could miss; planted-dup recall is pinned
    separately in tests/test_dedup.py)."""
    import duckdb

    from universal_data_connector_spark.plans.catalog import ORACLES

    brute = """
    SELECT a.vec_id AS id_1, b.vec_id AS id_2
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
          / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
             * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))
          >= 0.95
    """
    for sf_dir in (SF_DIR, SF_DIR_MED):
        con = duckdb.connect()
        con.sql(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{sf_dir}/embeddings.parquet')")
        got = sorted(con.sql(ORACLES["dedup_embedding_cosine"]).fetchall())
        want = sorted(con.sql(brute).fetchall())
        assert got == want, f"banded != brute at {sf_dir}"


def test_embedding_cosine_banded_oracle_boundary_pairs(tmp_path):
    """Threshold semantics of the banded oracle on PLANTED vectors:
    pairs engineered just above and just below cosine 0.95 (and an
    exact-duplicate pair) must classify identically under the banded
    SQL and the brute-force SQL — the real-testdata differential never
    exercises the boundary because its pair population sits at ~0.5
    (random tails) or ~0.99 (clusters)."""
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from universal_data_connector_spark.plans.catalog import ORACLES

    rng = np.random.default_rng(191)
    base = rng.standard_normal(64)
    base /= np.linalg.norm(base)
    ortho = rng.standard_normal(64)
    ortho -= ortho.dot(base) * base
    ortho /= np.linalg.norm(ortho)

    def at_cosine(c: float) -> np.ndarray:
        return c * base + np.sqrt(1 - c * c) * ortho

    vecs = [
        base,                 # 0: anchor
        at_cosine(0.9995),    # 1: well above -> pair with 0
        at_cosine(0.951),     # 2: just above -> pair with 0
        at_cosine(0.949),     # 3: just below -> NOT a pair with 0
        base.copy(),          # 4: exact duplicate -> pair with 0, 1, 2
        rng.standard_normal(64),  # 5: unrelated
        np.zeros(64),         # 6: zero vector -> never a pair
    ]
    table = pa.table({
        "vec_id": pa.array(range(len(vecs)), pa.int64()),
        "embedding": pa.array([list(map(float, v)) for v in vecs],
                              pa.list_(pa.float64())),
    })
    path = str(tmp_path / "embeddings.parquet")
    pq.write_table(table, path)

    con = duckdb.connect()
    con.sql(f"CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{path}')")
    brute = """
    SELECT a.vec_id AS id_1, b.vec_id AS id_2
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]) > 0
      AND list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]) > 0
      AND list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
          / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
             * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))
          >= 0.95
    """
    got = sorted(con.sql(ORACLES["dedup_embedding_cosine"]).fetchall())
    want = sorted(con.sql(brute).fetchall())
    assert got == want
    # the planted geometry resolved the way it was engineered
    assert (0, 3) not in got and (0, 6) not in got
    for pair in ((0, 1), (0, 2), (0, 4), (1, 4), (2, 4)):
        assert pair in got, (pair, got)


@pytest.mark.parametrize("n_planes,bands", [(16, 4), (60, 4), (63, 9)])
def test_band_vals_equal_packed_signature_split(n_planes, bands):
    """``_band_vals_udf`` codes equal the other encoding of the same
    bits, written here as the reference: all sign bits packed into one
    int64 (plane p -> bit p), then each band cut out with a shift and a
    mask. Flipping the bit order inside a band, or the band order,
    changes the codes (and would break the hash-checked DuckDB
    oracles, which pack plane ``b*width + i`` as bit ``i``)."""
    import pandas as pd

    from universal_data_connector_spark.operators.similarity import (
        _band_vals_udf,
        lsh_plane_weights,
    )

    rng = np.random.default_rng(5)
    mat = rng.standard_normal((500, 64))
    width = n_planes // bands
    bits = (mat @ lsh_plane_weights(64, n_planes, 7)) > 0
    packed = (bits * (1 << np.arange(n_planes, dtype=np.int64))).sum(axis=1)
    ref = np.stack([(packed >> (b * width)) & ((1 << width) - 1)
                    for b in range(bands)], axis=1)

    got = _band_vals_udf(n_planes, bands, 7).func(pd.Series(list(mat)))
    assert np.array_equal(np.stack(got.to_list()), ref)
