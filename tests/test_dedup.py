"""Dedup operator tests: planted near-duplicates + cross-validation of
the MinHash LSH pipeline against the exact n-gram Jaccard oracle
(referenced from plans/catalog.py `dedup_near_minhash`)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from universal_data_connector_spark.operators.dedup import (
    dedup_keep_min,
    exact_dedup,
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    simhash_candidates,
)
from universal_data_connector_spark.tables import load

BASE = ("the quick brown fox jumps over the lazy dog while the cat watches "
        "from the warm windowsill and the birds sing in the old oak tree "
        "beside the quiet river near the small wooden bridge")
NEAR = BASE.replace("quiet river", "quiet stream")          # ~1 shingle region changed
FAR = ("completely different content about distributed query engines and "
       "columnar storage formats with vectorized execution pipelines and "
       "adaptive runtime replanning across thousand node clusters today")


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE),
        (2, NEAR),                      # near-dup of 1
        (3, FAR),
        (4, BASE.upper()),              # exact dup of 1 after normalization
        (5, "tiny doc"),                # fewer words than shingle width
        (6, "tiny doc"),                # exact dup of 5
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_exact_dedup_keeps_min_id(docs):
    kept = sorted(r.doc_id for r in exact_dedup(docs).collect())
    # 4 collapses into 1 (case-normalized), 6 into 5
    assert kept == [1, 2, 3, 5]


def test_minhash_finds_planted_near_dup(docs):
    # one changed word in a ~36-shingle doc -> exact jaccard ~0.72
    pairs = {(r.id_1, r.id_2): r.jaccard
             for r in minhash_dedup_pairs(docs, threshold=0.7).collect()}
    assert (1, 2) in pairs and 0.7 <= pairs[(1, 2)] < 1.0
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0   # normalized exact dup
    assert not any({a, b} & {3} for a, b in pairs)     # FAR pairs with nothing
    # empty-shingle docs (< shingle_n words) have undefined jaccard and
    # are exact_dedup's job, not minhash's
    assert (5, 6) not in pairs


def test_minhash_pairs_subset_of_exact_and_high_recall(spark):
    """LSH verify stage guarantees pairs ⊆ exact-Jaccard pairs; with
    128 hashes / 32 bands recall at 0.8 should be essentially total on
    the synthetic documents table (planted near-dups ~0.9+)."""
    d = load(spark, SF_DIR, "documents")
    lsh = {(r.id_1, r.id_2) for r in minhash_dedup_pairs(d, threshold=0.8).collect()}
    exact = {(r.id_1, r.id_2) for r in ngram_jaccard_pairs(d, threshold=0.8).collect()}
    assert lsh <= exact
    assert exact, "testdata should contain planted near-dups"
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.9, f"LSH recall {recall:.2f} over {len(exact)} exact pairs"


def test_ngram_jaccard_postings_cap(spark):
    """max_postings drops stop-shingles from the join only: sizes keep
    every gram, so capped Jaccard underestimates — pairs can drop out
    but never appear spuriously, and docs sharing only rare shingles
    are unaffected."""
    # 4 docs all share one "stop" 3-gram; docs 1/2 also share a rare tail
    stop = "the common stop phrase here"
    rows = [(1, stop + " alpha beta gamma delta"),
            (2, stop + " alpha beta gamma delta"),
            (3, stop + " epsilon zeta eta theta"),
            (4, stop + " iota kappa lam mu")]
    d = spark.createDataFrame(rows, "doc_id bigint, text string")
    exact = {(r.id_1, r.id_2): r.jaccard for r in
             ngram_jaccard_pairs(d, shingle_n=3, threshold=0.1).collect()}
    capped = {(r.id_1, r.id_2): r.jaccard for r in
              ngram_jaccard_pairs(d, shingle_n=3, threshold=0.1,
                                  max_postings=3).collect()}
    assert set(capped) <= set(exact)
    assert (1, 2) in capped                      # rare-shingle pair survives
    for k, v in capped.items():
        assert v <= exact[k] + 1e-12             # strict underestimate
    # grams shared by all 4 docs exceed the cap and leave the join, so
    # pairs that ONLY shared stop-shingles disappear
    assert (3, 4) in exact and (3, 4) not in capped


def test_simhash_planted_near_dup(docs, spark):
    """SimHash distances order near-dups below unrelated docs, and the
    pigeonhole banding finds every pair within the configured ball (on
    ~35-word docs one changed word still flips a handful of bits, so
    the threshold is taken from the measured distance, not hardcoded)."""
    from universal_data_connector_spark.operators.dedup import (
        simhash64, simhash_hamming)
    sig = {r.doc_id: r.s for r in docs.select(
        "doc_id", simhash64(F.col("text")).alias("s")).collect()}
    sig_df = spark.createDataFrame(
        [(1, sig[1]), (2, sig[2]), (3, sig[3])], "doc_id bigint, s array<int>")
    d = {r.doc_id: r.h for r in sig_df.select("doc_id", simhash_hamming(
        F.array(*[F.lit(x) for x in sig[1]]), F.col("s")).alias("h")).collect()}
    assert d[1] == 0
    assert d[2] < d[3], f"near-dup {d[2]} should beat unrelated {d[3]}"

    pairs = {(r.id_1, r.id_2): r.hamming
             for r in simhash_candidates(docs, max_hamming=max(d[2], 1)).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == d[2]   # pigeonhole guarantee
    assert pairs[(1, 4)] == 0            # normalization-identical -> distance 0
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_dedup_keep_min_drops_larger_ids(docs):
    pairs = minhash_dedup_pairs(docs, threshold=0.7)
    kept = sorted(r.doc_id for r in dedup_keep_min(docs, pairs).collect())
    # 2 and 4 lose to 1 ((1,2), (1,4), (2,4) all verified >= 0.7)
    assert kept == [1, 3, 5, 6]


def test_embedding_cosine_dedup_planted(spark):
    """Embedding near-dup mechanism on planted vectors: a tiny-noise
    copy pairs at cosine >= 0.95, random pairs stay far below (the
    testdata embeddings are random — max pairwise cosine ~0.51 — so the
    planted case lives here, and the catalog query's empty result on
    testdata is the correct answer, not a vacuous one)."""
    import numpy as np
    from universal_data_connector_spark.functions.vectors import cosine_similarity
    rng = np.random.default_rng(11)
    base = rng.normal(size=(10, 32))
    near = base[0] + rng.normal(scale=0.02, size=32)   # ~0.999 cosine to row 0
    rows = [(i, [float(x) for x in base[i]]) for i in range(10)]
    rows.append((10, [float(x) for x in near]))
    e = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    a = e.select(F.col("vec_id").alias("id_1"), F.col("embedding").alias("e1"))
    b = e.select(F.col("vec_id").alias("id_2"), F.col("embedding").alias("e2"))
    sims = (a.join(b, F.col("id_1") < F.col("id_2"))
             .withColumn("cos", cosine_similarity(F.col("e1"), F.col("e2"))))
    near_pairs = [(r.id_1, r.id_2) for r in sims.filter(F.col("cos") >= 0.95).collect()]
    assert near_pairs == [(0, 10)]

    # the catalog's candidates-then-verify path must agree with the
    # exact all-pairs oracle above: planted pair found, nothing else
    from universal_data_connector_spark.operators.similarity import (
        lsh_near_dup_pairs)
    lsh_pairs = [(r.id_1, r.id_2)
                 for r in lsh_near_dup_pairs(e, threshold=0.95).collect()]
    assert lsh_pairs == near_pairs


def test_embedding_cosine_dedup_lsh_matches_exact_on_cluster(spark):
    """Recall check at scale-ish: a cluster of 30 noisy copies of one
    vector plus 200 random vectors — the banded path must return exactly
    the same pair set as the exact all-pairs oracle (64x20-bit bands put
    the per-pair miss probability at ~3.3e-4 at the 0.95 boundary;
    planted pairs sit ~0.998 where it is ~1e-30)."""
    import numpy as np
    from universal_data_connector_spark.functions.vectors import cosine_similarity
    from universal_data_connector_spark.operators.similarity import (
        lsh_near_dup_pairs)
    rng = np.random.default_rng(23)
    base = rng.normal(size=64)
    rows = [(i, [float(x) for x in base + rng.normal(scale=0.03, size=64)])
            for i in range(30)]
    rows += [(100 + i, [float(x) for x in rng.normal(size=64)])
             for i in range(200)]
    e = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    a = e.select(F.col("vec_id").alias("id_1"), F.col("embedding").alias("e1"))
    b = e.select(F.col("vec_id").alias("id_2"), F.col("embedding").alias("e2"))
    exact = {(r.id_1, r.id_2) for r in
             a.join(b, F.col("id_1") < F.col("id_2"))
              .filter(cosine_similarity(F.col("e1"), F.col("e2")) >= 0.95)
              .collect()}
    got = {(r.id_1, r.id_2)
           for r in lsh_near_dup_pairs(e, threshold=0.95).collect()}
    assert len(exact) >= 400   # 30 noisy copies pair densely
    assert got == exact


def test_embedding_cosine_dedup_bucket_cap_bounds_dense_cluster(spark, caplog):
    """The round-12 bounded-degradation fallback (VERDICT r11 item 4):
    with ``bucket_cap`` set, a dense cluster's band buckets are
    truncated to the cap's lowest ids BEFORE the self-join, so the
    candidate/verify stage is bounded at C(cap, 2) per bucket instead
    of quadratic in cluster size. Contract pinned here: (a) output is
    a SUBSET of the exact all-pairs answer (capping can only drop,
    never invent), (b) recall is exact among the ids that survive in
    every bucket front (the cluster's lowest ids), (c) the truncation
    is disclosed via a logged drop count, (d) the selection is
    deterministic across runs."""
    import logging

    import numpy as np

    from universal_data_connector_spark.functions.vectors import cosine_similarity
    from universal_data_connector_spark.operators.similarity import (
        lsh_near_dup_pairs)
    rng = np.random.default_rng(23)
    base = rng.normal(size=64)
    rows = [(i, [float(x) for x in base + rng.normal(scale=0.03, size=64)])
            for i in range(30)]
    rows += [(100 + i, [float(x) for x in rng.normal(size=64)])
             for i in range(200)]
    e = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    a = e.select(F.col("vec_id").alias("id_1"), F.col("embedding").alias("e1"))
    b = e.select(F.col("vec_id").alias("id_2"), F.col("embedding").alias("e2"))
    exact = {(r.id_1, r.id_2) for r in
             a.join(b, F.col("id_1") < F.col("id_2"))
              .filter(cosine_similarity(F.col("e1"), F.col("e2")) >= 0.95)
              .collect()}

    cap = 8
    with caplog.at_level(
            logging.WARNING,
            logger="universal_data_connector_spark.operators.similarity"):
        capped = {(r.id_1, r.id_2)
                  for r in lsh_near_dup_pairs(e, threshold=0.95,
                                              bucket_cap=cap).collect()}
    # (a) capping can only drop, never invent — and on this cluster it
    # really bites (30 members overflow every shared bucket)
    assert capped <= exact
    assert len(capped) < len(exact)
    # (b) the cluster's `cap` lowest ids head every bucket they share
    # (id-ordered selection), so every pair among them must survive
    front = {(i, j) for i in range(cap) for j in range(i + 1, cap)
             if (i, j) in exact}
    assert front <= capped
    # (c) the drop is disclosed, and the logged count equals the
    # ground-truth overflow of the band buckets (sum of max(size-cap,
    # 0)) — the per-bucket bound is C(cap, 2) candidates exactly when
    # this truncation count is honest
    from universal_data_connector_spark.operators.similarity import (
        hyperplane_bands)
    sizes = (hyperplane_bands(e, "vec_id", "embedding", 1280, 64, 7)
             .groupBy("band_idx", "band_val").count().collect())
    expected_drop = sum(max(r["count"] - cap, 0) for r in sizes)
    assert expected_drop > 0
    assert any(f"bucket_cap=8 dropped {expected_drop} " in r.message
               for r in caplog.records)
    # (d) deterministic selection
    again = {(r.id_1, r.id_2)
             for r in lsh_near_dup_pairs(e, threshold=0.95,
                                         bucket_cap=cap).collect()}
    assert again == capped
    # (e) one-materialization audit (VERDICT r12 item 4, amended r21):
    # the capped plan reads the checkpointed RANKED frame for the pair
    # join, and the verify sides read the ONE checkpointed combined
    # frame (vec + bands), so the signature matmul (ArrowEvalPython)
    # never re-runs at query time — a checkpoint scan carries no plan
    # of its own, so the node must not appear in the plan at all. The
    # assertion is RELATIVE (ADVICE r13): a raw band frame's plan must
    # name the Python-eval node first, so a Spark upgrade that renames
    # the physical node fails the positive control loudly instead of
    # letting the negative assertion pass vacuously.
    from universal_data_connector_spark.operators.similarity import (
        hyperplane_bands,
    )
    raw_plan = (hyperplane_bands(e, "vec_id", "embedding")
                ._jdf.queryExecution().executedPlan().toString())
    assert "ArrowEvalPython" in raw_plan          # positive control

    capped_df = lsh_near_dup_pairs(e, threshold=0.95, bucket_cap=cap)
    plan = capped_df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan, plan
    assert "ExistingRDD" in plan


def test_connected_components_shapes(spark):
    """Chain, triangle-with-tail, pair, and isolated-from-edges cases:
    every node labels to its component minimum in O(log n) rounds."""
    from universal_data_connector_spark.operators.dedup import (
        connected_components,
        dedup_clusters,
    )
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),          # chain -> 1
         (10, 11), (11, 12), (10, 12), (12, 13),  # triangle + tail -> 10
         (20, 21),                                # pair -> 20
         (30, 30)],                               # self-loop ignored
        "id_1 bigint, id_2 bigint")
    got = {(r.node, r.component)
           for r in connected_components(edges).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (5, 1),
                   (10, 10), (11, 10), (12, 10), (13, 10),
                   (20, 20), (21, 20)}

    docs = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 5, 20, 21, 99]], "doc_id bigint")
    clusters = {(r.doc_id, r.cluster_id, r.is_canonical)
                for r in dedup_clusters(docs, edges).collect()}
    assert (99, 99, True) in clusters          # singleton: own cluster
    assert (2, 1, False) in clusters and (1, 1, True) in clusters
    assert (21, 20, False) in clusters and (20, 20, True) in clusters


def test_connected_components_long_chain_converges(spark, monkeypatch):
    """A 64-node path is the adversarial diameter case: plain label
    propagation needs 63 rounds, large-star/small-star needs O(log n).
    Forces the DISTRIBUTED rounds (the small-graph local fast path
    would otherwise absorb this case; parity between the two paths is
    pinned in test_round21_fixes)."""
    from universal_data_connector_spark.operators.dedup import connected_components
    monkeypatch.setenv("UDC_CC_LOCAL_MAX_EDGES", "0")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "id_1 bigint, id_2 bigint")
    out = connected_components(edges, max_iterations=12).collect()
    assert {r.component for r in out} == {0}
    assert {r.node for r in out} == set(range(65))


def test_gramless_docs_excluded_from_banding(spark):
    """Skew guard: docs too short to carry a shingle must never reach
    the band self-join (they can never verify above a positive Jaccard
    threshold, and at corpus scale a shared sentinel bucket makes the
    band self-join quadratic in the empty-doc count). At threshold 0
    every candidate pair verifies (an empty union scores 0.0), so the
    output IS the candidate set. They also must not pair in simhash
    candidates — identical-content pairs belong to exact_dedup."""
    from universal_data_connector_spark.operators.dedup import (
        minhash_dedup_pairs,
        simhash_candidates,
    )

    docs = spark.createDataFrame(
        [(1, ""), (2, ""), (3, "too short"), (4, None),
         (5, "a proper document with enough words to carry shingles"),
         (6, "a proper document with enough words to carry shingles")],
        "doc_id bigint, text string")

    cands = {(r.id_1, r.id_2)
             for r in minhash_dedup_pairs(docs, threshold=0.0).collect()}
    assert cands == {(5, 6)}  # empty/short docs never become candidates

    pairs = {(r.id_1, r.id_2)
             for r in minhash_dedup_pairs(docs, threshold=0.8).collect()}
    assert pairs == {(5, 6)}

    sim = {(r.id_1, r.id_2) for r in simhash_candidates(docs).collect()}
    assert (1, 2) not in sim and (1, 4) not in sim


def test_fold_bands_batch_bitwise_equals_per_doc():
    """The vectorized reduceat band fold (the hot path) must be
    bitwise-identical to the per-document reference fold, including
    empty docs (sentinel band) and across chunk boundaries."""
    import numpy as np

    from universal_data_connector_spark.operators.dedup import (
        _fold_bands,
        _fold_bands_batch,
        _minhash_coeffs,
    )

    A, B = _minhash_coeffs(128)
    rng = np.random.default_rng(7)
    lists = [rng.integers(-2**62, 2**62,
                          size=int(rng.integers(0, 60))).tolist()
             for _ in range(300)]
    lists[0] = []  # explicit empty doc
    with np.errstate(over="ignore"):
        ref = np.stack([_fold_bands(l, A, B, 32, 4) for l in lists])
        # tiny chunk size forces many reduceat chunks incl. 1-doc ones
        got = _fold_bands_batch(lists, A, B, 32, max_chunk_grams=53)
        full = _fold_bands_batch(lists, A, B, 32)
    assert (ref == got).all() and (ref == full).all()


def test_fold_bands_batch_oversized_single_doc():
    """A single document larger than the chunk cap is column-chunked
    (bounded memory) and still folds bitwise-identically."""
    import numpy as np

    from universal_data_connector_spark.operators.dedup import (
        _fold_bands,
        _fold_bands_batch,
        _minhash_coeffs,
    )

    A, B = _minhash_coeffs(64)
    rng = np.random.default_rng(11)
    lists = [rng.integers(-2**62, 2**62, size=5000).tolist(),  # oversized
             rng.integers(-2**62, 2**62, size=10).tolist(),
             []]
    with np.errstate(over="ignore"):
        ref = np.stack([_fold_bands(l, A, B, 16, 4) for l in lists])
        got = _fold_bands_batch(lists, A, B, 16, max_chunk_grams=700)
    assert (ref == got).all()


def test_sig_band_df_sig_matches_per_doc_reference(spark):
    """``_sig_band_df`` (the cross-run store's input) emits, per doc,
    the signature written out per doc below and the `_fold_bands`
    reference bands. One input partition makes one Arrow batch whose
    grams exceed the kernel's 128k-gram chunk cap, so the batch signs
    in more than one reduceat chunk; the empty and the too-short doc
    sign the sentinel shingle."""
    import numpy as np

    from universal_data_connector_spark.operators.dedup import (
        _MERSENNE,
        _fold_bands,
        _minhash_coeffs,
        _sig_band_df,
        shingle_hashes_df,
    )

    rows = [(i, " ".join(f"w{i}x{j}" for j in range(50_000)))
            for i in range(3)]
    rows += [(3, ""), (4, "too short"), (5, BASE), (6, NEAR)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string") \
                .coalesce(1)
    num_hashes, bands = 16, 4
    got = {r.doc_id: (list(r["__sig"]), list(r["__bands"]))
           for r in _sig_band_df(docs, "text", "doc_id", num_hashes,
                                 bands, 3).collect()}
    grams = {r.doc_id: r["__g"]
             for r in shingle_hashes_df(docs, shingle_n=3).collect()}
    assert sum(len(g) for g in grams.values()) > 1 << 17
    A, B = _minhash_coeffs(num_hashes)
    assert set(got) == set(grams)
    for doc_id, g in grams.items():
        h = np.asarray(g or [_MERSENNE], dtype=np.int64) % _MERSENNE
        sig = ((A * h[None, :] + B) % _MERSENNE).min(axis=1)
        with np.errstate(over="ignore"):
            folded = _fold_bands(g, A, B, bands, num_hashes // bands)
        assert got[doc_id] == (sig.tolist(), folded.tolist()), doc_id
