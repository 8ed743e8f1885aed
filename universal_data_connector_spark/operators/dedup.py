"""Deduplication operators for LLM-training-data pipelines.

Four families, all shuffle-disciplined for 100 TB:

* exact         — sha256(normalized text) groupBy; one shuffle on a
                  256-bit key, no skew (hash keys are uniform).
* MinHash + LSH — shingle -> minhash signature (projection, no shuffle)
                  -> band -> bucket self-join (shuffle on band hash;
                  candidate set is tiny vs O(n^2)) -> exact-Jaccard
                  verify on candidates only.
* SimHash       — 64-bit signature (projection) -> Hamming-ball
                  candidates via 4x16-bit pigeonhole banding.
* n-gram Jaccard— exact all-pairs similarity *within LSH candidate sets*
                  (or, for modest data, within a blocking key).

Shingle keys are Spark's `xxhash64` over the gram strings, a JVM
expression tree (deterministic across runs/clusters). The MinHash
signature and its band fold are written once, as numpy kernels over an
Arrow batch (`_signatures`, `_band_fold`) under a fixed affine hash
family (`_minhash_coeffs`); the signature stage is a pure map that
scans 100 TB without a single shuffle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from universal_data_connector_spark.functions.text import (
    bind_once,
    text_fingerprint,
    tokenize,
    word_ngrams,
)


def gram_hashes(text: Column, shingle_n: int) -> Column:
    """64-bit xxhash64 keys of the distinct word ``shingle_n``-grams.

    The token array is λ-bound (``bind_once``) so the lower/trim/split
    tokenization pipeline evaluates ONCE per row: the naive
    ``word_ngrams(tokenize(text))`` composition references the token
    expression four times, and higher-order array functions run
    interpreted — outside codegen subexpression elimination — so each
    reference re-split the document. Shared by every shingle consumer
    (minhash, simhash, exact Jaccard, contamination) so their gram
    keys stay identical.
    """
    return bind_once(
        tokenize(text),
        lambda toks: F.transform(word_ngrams(toks, shingle_n),
                                 lambda g: F.xxhash64(g)))
from universal_data_connector_spark.operators.relational import (
    materialize,
    observed_materialize,
    spread,
)
from universal_data_connector_spark.session import local_frame

# Mersenne prime 2^31-1; with a,b < p and shingle hashes reduced mod p
# first, a*h+b stays < 2^62 — no 64-bit overflow, fully portable.
_MERSENNE = (1 << 31) - 1


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on normalized text; keeps the minimum id per group.

    Deterministic by construction (min id), unlike `dropDuplicates`
    which keeps an arbitrary row per key. One shuffle, uniform keys.
    """
    return (df.withColumn("__fp", text_fingerprint(F.col(text_col)))
              .groupBy("__fp").agg(F.min(id_col).alias(id_col))
              .drop("__fp"))


def _minhash_coeffs(num_hashes: int, seed: int = 42):
    """Fixed affine hash family as (A, B) int64 column vectors of
    shape (num_hashes, 1) — deterministic, no RNG at plan time (same
    plan on every executor / every run). Every MinHash signature takes
    its family from here."""
    coeffs = []
    a, b = seed * 2 + 1, seed * 31 + 7
    for _ in range(num_hashes):
        a = (a * 1103515245 + 12345) % _MERSENNE
        b = (b * 69069 + 1) % _MERSENNE
        coeffs.append((a | 1, b))
    ab = np.array(coeffs, dtype=np.int64).reshape(num_hashes, 2)
    return ab[:, :1], ab[:, 1:]


def shingle_hashes_df(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", shingle_n: int = 5) -> DataFrame:
    """(id, __g array<bigint>) distinct 64-bit word-shingle hashes —
    the shared input of LSH banding AND exact-Jaccard verification.

    Pure JVM expression tree: ``transform(word_ngrams(tokenize(text)),
    xxhash64)`` — the same gram keys as ``ngram_jaccard_pairs`` /
    ``contamination_overlap``, zero Python in the shingle stage (the
    earlier blake2b-in-Arrow form spent its time hashing gram *strings*
    in a Python loop; xxhash64 runs inside whole-stage codegen).
    Distinct grams map to distinct 64-bit keys w.h.p. (~2^-64 per
    pair), so set Jaccard over keys equals string-gram Jaccard."""
    g = gram_hashes(F.col(text_col), shingle_n)
    return spread(df, id_col).select(F.col(id_col), g.alias("__g"))


_FNV_OFF = np.uint64(14695981039346656037)
_FNV_P = np.uint64(1099511628211)


def _fold_bands(gram_list, A, B, bands: int, r: int):
    """numpy core of the banding: `bands*r` affine minima + per-band
    FNV-1a fold over one doc's gram-hash list -> int64[bands].
    Reference semantics for `_fold_bands_batch` (equivalence pinned in
    tests/test_dedup.py); the batch form is the hot path."""
    h = np.asarray(gram_list, dtype=np.int64)
    if h.size == 0:  # no shingles: sentinel bands with other empties
        h = np.array([_MERSENNE], dtype=np.int64)
    h = h % _MERSENNE
    sig = ((A * h[None, :] + B) % _MERSENNE).min(axis=1)
    folded = np.full(bands, _FNV_OFF, dtype=np.uint64)
    band_sig = sig.astype(np.uint64).reshape(bands, r)
    for j in range(r):
        folded = (folded ^ band_sig[:, j]) * _FNV_P
    return folded.astype(np.int64)


def _signatures(gram_lists, A, B, max_chunk_grams: int = 1 << 17):
    """MinHash signatures for a WHOLE Arrow batch in a few numpy
    dispatches -> int64[(n_docs, num_hashes)]: all docs' gram arrays
    are concatenated, the (num_hashes x chunk_grams) affine matrix is
    built once, and the per-doc minima fall out of one
    ``np.minimum.reduceat`` over the doc segment offsets — one
    vectorized pass per ~128k-gram chunk instead of a Python call and
    a handful of tiny numpy ops PER DOCUMENT. The chunk cap bounds the
    matrix at ~128 MB for any Arrow batch AND any single document: a
    doc larger than the cap is signed alone with its gram array
    column-chunked (min is associative, so piecewise minima compose
    exactly). Docs with no shingles sign the sentinel shingle, exactly
    as `_fold_bands` does."""
    arrs = [np.asarray(lst, dtype=np.int64) for lst in gram_lists]
    sentinel = np.array([_MERSENNE], dtype=np.int64)
    arrs = [a if a.size else sentinel for a in arrs]
    lens = np.array([a.size for a in arrs], dtype=np.int64)
    n = len(arrs)
    out = np.empty((n, A.shape[0]), dtype=np.int64)

    def affine(h):
        M = A * h[None, :]          # (num_hashes, n_grams)
        M += B
        M %= _MERSENNE
        return M

    start = 0
    while start < n:
        if lens[start] > max_chunk_grams:
            # oversized single doc: chunk its grams column-wise and
            # merge the piecewise affine minima
            sig = out[start]
            sig.fill(_MERSENNE)
            a = arrs[start]
            for lo in range(0, a.size, max_chunk_grams):
                piece = a[lo:lo + max_chunk_grams] % _MERSENNE
                np.minimum(sig, affine(piece).min(axis=1), out=sig)
            start += 1
            continue
        end, total = start, 0
        while end < n and total + lens[end] <= max_chunk_grams:
            total += lens[end]
            end += 1
        h = np.concatenate(arrs[start:end]) % _MERSENNE
        offs = np.zeros(end - start, dtype=np.int64)
        np.cumsum(lens[start:end - 1], out=offs[1:])
        out[start:end] = np.minimum.reduceat(affine(h), offs, axis=1).T
        start = end
    return out


def _band_fold(sigs, bands: int):
    """(n_docs, num_hashes) signatures -> int64[(n_docs, bands)]: each
    signature is sliced into ``bands`` runs of ``r = num_hashes //
    bands`` minima and each run is FNV-1a folded into one band hash."""
    n, num_hashes = sigs.shape
    band_sig = sigs.astype(np.uint64).reshape(n, bands, num_hashes // bands)
    folded = np.full((n, bands), _FNV_OFF, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for j in range(band_sig.shape[2]):
            folded = (folded ^ band_sig[:, :, j]) * _FNV_P
    return folded.astype(np.int64)


def _fold_bands_batch(gram_lists, A, B, bands: int,
                      max_chunk_grams: int = 1 << 17):
    """Banding for a whole Arrow batch: `_signatures` then
    `_band_fold`, bitwise-identical to mapping `_fold_bands` over the
    docs (pinned in tests/test_dedup.py). Returns
    int64[(n_docs, bands)]."""
    return _band_fold(_signatures(gram_lists, A, B, max_chunk_grams), bands)


def shingle_band_df(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", num_hashes: int = 128,
                    bands: int = 32, shingle_n: int = 5) -> DataFrame:
    """(id, __g, __bands): shared grams + banded minhash, one map pass.

    The LSH pipeline needs the shingle-hash arrays twice (banding and
    Jaccard verification), so grams and band hashes are produced
    together: the pure-JVM ``shingle_hashes_df`` expression tree feeds
    ONE ``mapInPandas`` stage that passes the gram arrays through and
    appends the numpy affine-min + FNV band fold. mapInPandas (not a
    pandas_udf projection) because projection collapse would inline
    the λ-bound gram expression into a UDF argument, which
    intermittently fails PythonUDF extraction (NamedLambdaVariable
    canonicalization) and dies at runtime; the pass-through costs one
    extra Arrow transfer of the gram arrays but keeps the whole
    pipeline a single map over the scan — no shuffle at any scale.
    """
    A, B = _minhash_coeffs(num_hashes)
    grams = shingle_hashes_df(df, text_col, id_col, shingle_n)

    def emit(batches):
        for pdf in batches:
            folded = _fold_bands_batch(pdf["__g"], A, B, bands)
            yield pd.DataFrame({id_col: pdf[id_col], "__g": pdf["__g"],
                                "__bands": list(folded)})

    return grams.mapInPandas(emit, _minhash_schema(grams, id_col, "__g"))


def _sig_band_df(df: DataFrame, text_col: str, id_col: str,
                 num_hashes: int, bands: int,
                 shingle_n: int) -> DataFrame:
    """(id, __sig, __bands) in ONE map over the scan: the signature
    itself plus its band fold, the input of the cross-run near-dup
    store (``dedup_state.seen_near_filter``). Same kernels as
    ``shingle_band_df``, so the store and the in-batch LSH pipeline
    band identically."""
    A, B = _minhash_coeffs(num_hashes)
    grams = shingle_hashes_df(df, text_col, id_col, shingle_n)

    def emit(batches):
        for pdf in batches:
            sigs = _signatures(pdf["__g"], A, B)
            yield pd.DataFrame({id_col: pdf[id_col], "__sig": list(sigs),
                                "__bands": list(_band_fold(sigs, bands))})

    return grams.mapInPandas(emit, _minhash_schema(grams, id_col, "__sig"))


def _minhash_schema(grams: DataFrame, id_col: str, carried: str):
    """(id, ``carried`` array<bigint>, __bands array<bigint>)."""
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField(id_col, grams.schema[id_col].dataType),
        T.StructField(carried, T.ArrayType(T.LongType())),
        T.StructField("__bands", T.ArrayType(T.LongType())),
    ])


def jaccard_verify_grams(grams: DataFrame, pairs: DataFrame,
                         id_col: str = "doc_id",
                         threshold: float = 0.8) -> DataFrame:
    """Verify stage over precomputed (and already materialized)
    shingle-hash arrays.

    Join posture: no broadcast hint on either side. The candidate
    pair set is data-dependent and unbounded (a dup-heavy corpus makes
    it quadratic in a band bucket), so the planner and AQE pick each
    join from size estimates and runtime stats. A hint on the pairs
    won 1.07x on dedup_near_minhash at sf0.1 on 4 cores, under the
    1.1x a special case must earn."""
    g1 = grams.select(F.col(id_col).alias("id_1"), F.col("__g").alias("__g1"))
    g2 = grams.select(F.col(id_col).alias("id_2"), F.col("__g").alias("__g2"))
    inter = F.size(F.array_intersect("__g1", "__g2")).cast("double")
    union = (F.size("__g1") + F.size("__g2")).cast("double") - inter
    return (g1.join(pairs, "id_1").join(g2, "id_2")
                 .withColumn("jaccard", F.when(union > 0, inter / union).otherwise(F.lit(0.0)))
                 .filter(F.col("jaccard") >= threshold)
                 .select("id_1", "id_2", "jaccard"))


def minhash_dedup_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", threshold: float = 0.8,
                        num_hashes: int = 128, bands: int = 32,
                        shingle_n: int = 5) -> DataFrame:
    """MinHash LSH near-dup pairs: candidates -> exact-Jaccard verify.

    The corpus is shingled exactly ONCE: banding and verification both
    read the same eagerly-materialized shingle-hash arrays
    (tokenize+hash is the pipeline's dominant cost, so sharing it
    roughly halves end-to-end time). At 100 TB the materialized arrays
    are bounded by corpus token count — the same order as the text
    itself — and live only for the job.
    """
    gb = shingle_band_df(df, text_col, id_col, num_hashes, bands, shingle_n)
    gb = materialize(gb)  # corpus-sized gram arrays
    grams = gb.select(id_col, "__g")
    # Skew guard: gram-less docs (< shingle_n words) can't verify
    # above a positive threshold (union = 0 -> jaccard 0), and all of
    # them band to the SAME sentinel buckets, which would make the
    # band self-join quadratic in the empty-doc count; identical empty
    # docs are exact_dedup's job. __bands here is a materialized
    # ATTRIBUTE, so the explode is safe
    banded = gb.filter(F.size("__g") > 0).select(
        F.col(id_col),
        F.posexplode("__bands").alias("band_idx", "band_hash"))
    a, b2 = banded.alias("a"), banded.alias("b")
    cand = (a.join(b2, (F.col("a.band_idx") == F.col("b.band_idx"))
                   & (F.col("a.band_hash") == F.col("b.band_hash"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
             .select(F.col(f"a.{id_col}").alias("id_1"),
                     F.col(f"b.{id_col}").alias("id_2"))
             .distinct())
    return jaccard_verify_grams(grams, cand, id_col, threshold)


def _inverted_shared_counts(df: DataFrame, text_col: str, id_col: str,
                            shingle_n: int, max_postings: int | None):
    """Shared inverted-shingle-index core of the exact pair metrics:
    explode gram keys -> shared-gram counts per (id_1 < id_2) pair,
    with BOTH documents' total gram counts (n1, n2) carried through
    the explode — every gram row rides its doc's array size (one int),
    so the pair aggregate reads sizes off its own rows and the two
    doc-count-sized sizes joins (and the sizes aggregation, and the
    eager materialization that fed three consumers) disappear. The
    self-join's two sides are identical subplans, so the gram-key
    Exchange computes once and the other side is a ReusedExchange —
    no cache needed for sharing (r21 plans).

    `max_postings` caps the join's per-shingle quadratic cost: shingles
    whose posting list exceeds the cap (stop shingles) are dropped from
    the JOIN ONLY; sizes ride every gram row pre-filter, so capped
    metrics are strict UNDERESTIMATES — pairs never appear spuriously.
    The cap's hot-gram scan is a third consumer, so only that path
    still materializes the exploded grams eagerly (lazy caches race
    under AQE's concurrent stage launch).
    Consumed by both jaccard and containment so the cap and the plan
    stay in one place."""
    # λ-bind the gram array so tokenize+ngram+hash evaluates ONCE per
    # row even though both the per-element explode and the doc size
    # reference it (Catalyst collapses the aliasing projection and
    # higher-order functions run interpreted — a plain
    # size(__ga)/explode(__ga) pair re-runs the whole pipeline twice)
    gn = bind_once(
        gram_hashes(F.col(text_col), shingle_n),
        lambda ga: F.transform(
            ga, lambda x: F.struct(x.alias("g"), F.size(ga).alias("n"))))
    grams = (spread(df, id_col)
             .select(F.col(id_col), F.explode(gn).alias("__gn"))
             .select(F.col(id_col), F.col("__gn.n").alias("__n"),
                     F.col("__gn.g").alias("g")))
    # both join sides (+ the cap's hot-gram scan) read the exploded
    # grams: compute once, eagerly (lazy caches race under AQE's
    # concurrent stage launch, and AQE's broadcast choice on one side
    # defeats plain exchange reuse)
    grams = materialize(grams)
    joinable = grams
    if max_postings is not None:
        hot = (grams.groupBy("g").agg(F.count("*").alias("__p"))
                    .filter(F.col("__p") > max_postings)
                    .select("g"))
        # stop-shingle set is tiny by construction -> broadcast anti-join
        joinable = grams.join(F.broadcast(hot), "g", "left_anti")
    a, b = joinable.alias("a"), joinable.alias("b")
    return (a.join(b, (F.col("a.g") == F.col("b.g"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
             .groupBy(F.col(f"a.{id_col}").alias("id_1"),
                      F.col(f"b.{id_col}").alias("id_2"))
             .agg(F.count("*").alias("shared"),
                  F.any_value(F.col("a.__n")).alias("n1"),
                  F.any_value(F.col("b.__n")).alias("n2")))


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", shingle_n: int = 5,
                        threshold: float = 0.8,
                        max_postings: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard pairs via an inverted shingle index.

    explode shingles -> self-join on shingle -> count shared -> Jaccard.
    Gram keys are JVM `xxhash64` over the gram string — the whole
    shingle stage is an expression-tree projection, no Python anywhere
    (distinct grams map to distinct 64-bit keys w.h.p., ~2^-64 per
    pair, so posting counts and Jaccard values match the string-gram
    oracle exactly).

    Cost is O(sum of postings^2 per shingle). `max_postings` caps that
    quadratic: shingles whose posting list exceeds the cap (stop
    shingles — "in the middle of the" across millions of docs) are
    dropped from the JOIN ONLY; document sizes still count every gram,
    so capped Jaccard is a strict underestimate and pairs never appear
    spuriously. Defaults to None (exact — required for oracle parity);
    at 100 TB set a cap or use minhash_dedup_pairs, which is the scale
    path (this exact variant is the verify-stage primitive).
    """
    shared = _inverted_shared_counts(df, text_col, id_col,
                                     shingle_n, max_postings)
    jac = F.col("shared").cast("double") / (F.col("n1") + F.col("n2") - F.col("shared")).cast("double")
    return (shared.withColumn("jaccard", jac)
                  .filter(F.col("jaccard") >= threshold)
                  .select("id_1", "id_2", "jaccard"))


def ngram_containment_pairs(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", shingle_n: int = 5,
                            threshold: float = 0.9,
                            max_postings: int | None = None) -> DataFrame:
    """Exact n-gram CONTAINMENT pairs: shared / min(|A|, |B|).

    The subset-duplicate detector Jaccard structurally misses: a short
    document fully embedded in a much longer one (quote farms, page
    wrappers, boilerplate-extended rewrites) has Jaccard ~ |A|/|B| —
    arbitrarily low — but containment ~ 1.0. Same inverted-shingle
    plan shape as `ngram_jaccard_pairs` (explode -> self-join on gram
    key -> count shared -> join sizes): one corpus-sized shuffle on
    the gram key; at 100 TB set `max_postings` to cap hot shingles
    (capped containment is a strict underestimate — pairs never appear
    spuriously) or pre-filter candidates with `minhash_dedup_pairs`,
    exactly as the Jaccard variant does.
    Pairs with an empty smaller side never appear (no grams -> no
    postings -> no join rows), so the min() division is always > 0.
    """
    shared = _inverted_shared_counts(df, text_col, id_col,
                                     shingle_n, max_postings)
    cont = (F.col("shared").cast("double")
            / F.least("n1", "n2").cast("double"))
    return (shared.withColumn("containment", cont)
                  .filter(F.col("containment") >= threshold)
                  .select("id_1", "id_2", "containment"))


def contamination_overlap(train: DataFrame, bench: DataFrame,
                          shingle_n: int = 13, text_col: str = "text",
                          id_col: str = "doc_id",
                          bench_id_col: str = "bench_id",
                          broadcast_bench: bool = True) -> DataFrame:
    """Train/benchmark decontamination by exact n-gram collision — the
    GPT-3-style 13-gram overlap check every pretraining pipeline runs
    before training.

    Both sides shingle to distinct word n-gram keys (JVM xxhash64 over
    the gram string, same expression tree as ngram_jaccard_pairs); an
    inner join on the gram key counts, per train document, how many
    distinct grams and how many distinct benchmark documents it shares.
    Docs shorter than `shingle_n` words carry no grams and never flag.

    Scale: the benchmark side is tiny by nature (eval sets, not
    corpora), so it broadcasts and the 100 TB train side never
    shuffles — the overlap check rides the scan. Set
    ``broadcast_bench=False`` for an unusually large benchmark and it
    degrades to a plain shuffled hash join.

    Output: (id_col, n_shared_grams, n_bench_docs) — train docs with at
    least one collision; join back to `train` for the keep/drop step.
    """
    def grams(df: DataFrame, idc: str, out_id: str) -> DataFrame:
        g = gram_hashes(F.col(text_col), shingle_n)
        return df.select(F.col(idc).alias(out_id), F.explode(g).alias("g"))

    t = grams(spread(train, id_col), id_col, id_col)
    b = grams(bench, bench_id_col if bench_id_col in bench.columns else id_col,
              "__bench_id")
    if broadcast_bench:
        b = F.broadcast(b)
    return (t.join(b, "g")
             .groupBy(id_col)
             .agg(F.countDistinct("g").cast("bigint").alias("n_shared_grams"),
                  F.countDistinct("__bench_id").cast("bigint")
                   .alias("n_bench_docs")))


def simhash64(text: Column | str, shingle_n: int = 2) -> Column:
    """64-bit SimHash over word shingles as an array<int> of 64 sign bits.

    Classic Charikar construction: each shingle votes +-1 on each bit
    of its 64-bit hash; the signature is the sign vector of the summed
    votes. Gram hashing is the pure-JVM xxhash64 expression tree (same
    keys as every other dedup family — whole-stage codegen, no per-gram
    Python); only the vote matrix is Python, one numpy broadcast
    (n_grams x 64) per document per Arrow batch, deterministic integer
    math — a pure projection with no shuffle (the all-JVM
    higher-order-function form allocated per gram x bit and was ~10x
    slower; the all-Python form spent its time hashing strings). Docs
    with no shingles sign to all-zero bits.
    """
    from pyspark.sql import types as T

    if isinstance(text, str):
        text = F.col(text)
    # Deliberately NOT gram_hashes()/bind_once: this expression is the
    # ARGUMENT of a pandas UDF, and a PythonUDF whose argument carries
    # nested lambda variables intermittently fails extraction
    # (NamedLambdaVariable canonicalization), leaving a raw PythonUDF
    # the executor cannot evaluate. The plain composition re-evaluates
    # tokenize per reference but extracts reliably; simhash's 2-gram
    # shingling is not the pipeline bottleneck.
    grams = F.transform(word_ngrams(tokenize(text), shingle_n),
                        lambda g: F.xxhash64(g))

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def f(gram_lists: pd.Series) -> pd.Series:
        shifts = np.arange(64, dtype=np.uint64)[None, :]
        out = []
        for lst in gram_lists:
            h = np.asarray(lst, dtype=np.int64)
            if h.size == 0:
                out.append([0] * 64)
                continue
            h = h.view(np.uint64)  # reinterpret sign bit, keep all 64
            bits = ((h[:, None] >> shifts) & np.uint64(1)).astype(np.int64)
            votes = (bits * 2 - 1).sum(axis=0)
            out.append((votes > 0).astype(np.int32).tolist())
        return pd.Series(out)

    return f(grams)


def simhash_hamming(a: Column, b: Column) -> Column:
    """Hamming distance between two sign-bit arrays."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: F.abs(x - y)),
                       F.lit(0), lambda acc, v: acc + v)


def simhash_candidates(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", max_hamming: int = 3,
                       shingle_n: int = 2) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming.

    Pigeonhole banding: split 64 bits into `max_hamming + 1` chunks; any
    pair within the Hamming ball matches at least one chunk exactly, so
    an equi-join per chunk finds all candidates (then verify distance).
    Same shuffle discipline as MinHash LSH.
    """
    n_chunks = max_hamming + 1
    chunk = 64 // n_chunks
    # distribute the remainder bits across the FIRST (64 % n_chunks)
    # chunks so all 64 bits are banded: leaving the tail bits out of
    # every chunk kept recall (pigeonhole still held over the covered
    # region) but made pairs differing only in those bits collide on
    # every chunk — pure candidate-set inflation
    rem = 64 % n_chunks
    # Docs too short to carry a shingle all sign to the identical
    # all-zero signature: banding them makes every chunk bucket
    # quadratic in the empty-doc count while exact_dedup already
    # handles identical-content pairs. Keep them out (skew guard).
    df = spread(df, id_col).filter(
        F.size(tokenize(F.col(text_col))) >= shingle_n)
    sig = df.select(F.col(id_col),
                    simhash64(F.col(text_col), shingle_n).alias("__sig"))
    # Materialize the signatures BEFORE the chunk explode: the explode
    # is a Generate, and a Generate whose input references a pandas-UDF
    # output triggers the optimizer's inferred generator filters to
    # re-reference the UDF — duplicating the signature computation and
    # (in some session states) leaving a raw PythonUDF in a
    # non-extractable position that dies at runtime with
    # INTERNAL_ERROR "Cannot evaluate expression". Checkpointing (id,
    # __sig) also makes the self-join's two sides share one signature
    # pass; the chunk explode below is trivial JVM work re-derived per
    # side from the checkpointed frame.
    sig = materialize(sig)
    chunk_ids = F.sequence(F.lit(0), F.lit(n_chunks - 1))

    def chunk_of(c):
        start = c * chunk + F.least(c, F.lit(rem)) + 1
        width = F.lit(chunk) + F.when(c < rem, 1).otherwise(0)
        return F.struct(
            c.alias("chunk_idx"),
            F.concat_ws("", F.transform(
                F.slice(F.col("__sig"), start, width),
                lambda x: x.cast("string"))).alias("chunk_key"))

    banded = sig.select(
        id_col, "__sig",
        F.explode(F.transform(chunk_ids, chunk_of)).alias("ck")
    ).select(id_col, "__sig", "ck.chunk_idx", "ck.chunk_key")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (a.join(b, (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
                   & (F.col("a.chunk_key") == F.col("b.chunk_key"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
             .select(F.col(f"a.{id_col}").alias("id_1"),
                     F.col(f"b.{id_col}").alias("id_2"),
                     F.col("a.__sig").alias("__s1"), F.col("b.__sig").alias("__s2"))
             .distinct())
    return (cand.withColumn("hamming", simhash_hamming(F.col("__s1"), F.col("__s2")))
                .filter(F.col("hamming") <= max_hamming)
                .select("id_1", "id_2", "hamming"))


def _require_integral_ids(df: DataFrame, cols: list[str],
                          fn_name: str) -> None:
    """Raise on non-integral id columns instead of letting a silent
    bigint cast NULL them out (which would empty the edge set / mark
    no row canonical with no error). String ids: pre-map with
    ``F.xxhash64(col)`` (stable int64, ~2^-64 collision per pair) and
    join the originals back afterwards."""
    from pyspark.sql import types as T

    ok = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    for c in cols:
        dt = df.schema[c].dataType
        # scale-0 decimals (JDBC NUMERIC ids) cast to bigint losslessly
        if isinstance(dt, T.DecimalType) and dt.scale == 0:
            continue
        if not isinstance(dt, ok):
            raise TypeError(
                f"{fn_name} requires integral id columns; {c!r} is "
                f"{dt.simpleString()}. Map non-numeric ids to int64 "
                "first (e.g. F.xxhash64) and join back after.")


def connected_components(edges: DataFrame, src: str = "id_1",
                         dst: str = "id_2",
                         max_iterations: int = 30,
                         edges_unique: bool = False) -> DataFrame:
    """Connected components over a pair graph -> (node, component),
    component = min node id in the component.

    Near-dup pairs are only half the dedup story: transitive duplicates
    (A~B, B~C but A!~C) must resolve to ONE canonical doc per cluster,
    or keep-one-per-pair policies drop documents inconsistently. This
    is the alternating large-star / small-star algorithm (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC'14 —
    public literature): every iteration is a groupBy over the edge
    list, state is the edge list itself (never adjacency in one task's
    memory), and convergence takes O(log n) rounds even on adversarial
    chain graphs — the 100 TB-safe formulation. Lineage is truncated
    with an eager materialization per round (iterative plans otherwise
    grow exponentially under AQE re-planning).

    Only nodes that appear in `edges` are returned; callers give
    singletons their own id via a left join + coalesce.

    Ids must be integral: a silent cast of string ids would NULL every
    edge out and return an empty component set (and downstream
    dedup_clusters would then mark NO row canonical — deleting the
    corpus with no error), so non-integral id columns raise instead.

    `edges_unique=True` skips the initial dedup shuffle when the caller
    guarantees one row per undirected pair (e.g. pairs produced by a
    groupBy) — the star rounds are insensitive to residual duplicates
    anyway (collect_set), only the convergence signature needs the
    per-round edge sets it compares to be duplicate-free, which the
    rounds' own distinct guarantees.
    """
    _require_integral_ids(edges, [src, dst], "connected_components")
    e = (edges.select(F.col(src).cast("bigint").alias("u"),
                      F.col(dst).cast("bigint").alias("v"))
              .filter(F.col("u") != F.col("v"))
              .select(F.greatest("u", "v").alias("u"),
                      F.least("u", "v").alias("v")))
    if not edges_unique:
        e = e.distinct()

    def _checkpoint(df: DataFrame, rows: int | None = None
                    ) -> tuple[DataFrame, tuple[int, int]]:
        # the edge set materialized, with its convergence signature
        # observed by the same job: the count and an xor-fold
        # (overflow-free under ANSI mode) of the edge hashes. Equal
        # sets -> equal signature; distinct edges make a hash
        # collision across iterations vanishingly unlikely. ``rows``,
        # the previous round's measured count, sizes the storage
        # level (the optimizer's estimate compounds per round).
        frame, m = observed_materialize(
            df, F.count(F.lit(1)).alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("u", "v")),
                       F.lit(0)).alias("h"),
            rows=rows)
        return frame, (int(m["n"]), int(m["h"]))

    def large_star(df: DataFrame) -> DataFrame:
        # For each node u: connect every strictly-larger neighbor to
        # the minimum of u's neighborhood (including u itself). Output
        # edges are (b, m) with b > m — already large->small oriented —
        # and NOT deduplicated: the only consumer is small_star, whose
        # collect_set dedups per neighborhood, so a distinct here would
        # be a full extra shuffle per round for nothing (duplicates are
        # bounded by cross-neighborhood overlap).
        sym = df.union(df.select(F.col("v").alias("u"), F.col("u").alias("v")))
        nbrs = sym.groupBy("u").agg(F.collect_set("v").alias("nn"))
        m = F.array_min(F.array_append(F.col("nn"), F.col("u")))
        big = F.filter(F.col("nn"), lambda x: x > F.col("u"))
        return (nbrs.select(m.alias("m"), F.explode(big).alias("b"))
                    .select(F.col("b").alias("u"), F.col("m").alias("v"))
                    .filter(F.col("u") != F.col("v")))

    def small_star(df: DataFrame) -> DataFrame:
        # Input edges oriented large->small (large_star's output
        # contract — b > m by construction, so no re-orientation
        # select); for each node u: connect u and all smaller
        # neighbors to the minimum of that set.
        nbrs = df.groupBy("u").agg(F.collect_set("v").alias("nn"))
        m = F.array_min(F.col("nn"))  # all nn < u, so min includes the answer
        members = F.array_append(F.col("nn"), F.col("u"))
        return (nbrs.select(m.alias("m"), F.explode(members).alias("b"))
                    .select(F.greatest("b", "m").alias("u"),
                            F.least("b", "m").alias("v"))
                    .filter(F.col("u") != F.col("v"))
                    .distinct())

    import logging
    import os

    e, sig = _checkpoint(e)
    # Size-guarded LOCAL fast path (same posture as the percentile
    # aggregate fast path): the star rounds cost 3 shuffles + a
    # checkpoint PER ROUND regardless of graph size — ~1.3 s of fixed
    # overhead on a few-hundred-edge dup graph at local sf0.1. Below
    # the edge cap the exact same components come from one driver
    # union-find over the edges just counted by the checkpoint's
    # signature (the collect is bounded by that count, so this
    # is a KNOWN-bounded materialization; min-id-as-root makes every
    # final root the component minimum, identical to the converged
    # star output). The cap is scale-adaptive by construction: edge
    # counts grow with the data, so the 100 TB regime always takes
    # the distributed rounds. Tune via UDC_CC_LOCAL_MAX_EDGES
    # (0 disables).
    max_local = int(os.environ.get("UDC_CC_LOCAL_MAX_EDGES", 500_000))
    if 0 < sig[0] <= max_local:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for r in e.collect():  # bounded: sig[0] <= max_local rows
            a, b = r.u, r.v
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # smaller id stays root -> final roots are the minima
                if ra < rb:
                    parent[rb] = ra
                else:
                    parent[ra] = rb
        rows = [(x, find(x)) for x in parent]
        return local_frame(e.sparkSession, rows,
                           "node bigint, component bigint")

    converged = False
    for _ in range(max_iterations):
        e, new_sig = _checkpoint(small_star(large_star(e)), rows=sig[0])
        if new_sig == sig:
            converged = True
            break
        sig = new_sig
    if not converged:
        # O(log n) rounds suffice for any graph; hitting the cap means
        # labels may not be component minima yet — say so rather than
        # returning silently-wrong canonical ids.
        logging.getLogger(__name__).warning(
            "connected_components: no convergence after %d iterations; "
            "labels may be partial", max_iterations)
    # Converged edge set is a forest of stars (u -> component min).
    nodes = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = e.select(F.col("v").alias("node"), F.col("v").alias("component"))
    return nodes.union(roots).groupBy("node").agg(
        F.min("component").alias("component"))


def dedup_clusters(df: DataFrame, dup_pairs: DataFrame,
                   id_col: str = "doc_id",
                   pairs_unique: bool = False) -> DataFrame:
    """Cluster-consistent dedup decision per document.

    Output: every input row's id, its duplicate-cluster id (min id in
    the connected component; singletons are their own cluster), and
    whether this row is the cluster's canonical keeper.
    `pairs_unique=True` asserts one row per undirected pair (pair
    generators that end in a groupBy guarantee this) and skips the CC
    input dedup shuffle.
    """
    _require_integral_ids(df, [id_col], "dedup_clusters")
    cc = connected_components(dup_pairs, edges_unique=pairs_unique)
    out = (df.select(F.col(id_col).cast("bigint").alias(id_col))
             .join(cc, F.col(id_col) == F.col("node"), "left")
             .select(id_col,
                     F.coalesce("component", F.col(id_col)).alias("cluster_id")))
    return out.withColumn("is_canonical", F.col(id_col) == F.col("cluster_id"))


def dedup_keep_min(df: DataFrame, dup_pairs: DataFrame,
                   id_col: str = "doc_id") -> DataFrame:
    """Greedy dedup: drop every doc that appears as the larger id of a
    duplicate pair (left-anti join — no driver-side loop)."""
    losers = dup_pairs.select(F.col("id_2").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")
