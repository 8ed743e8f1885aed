"""Deterministic scale-probe data generator (VERDICT r10 item 2).

The driver's testdata tops out at sf0.1; every 100x scale claim in the
repo is structural + plan-asserted but nothing has EXECUTED above
sf0.1. This generator produces the same ten tables with the same
schemas and the same shape of value distributions (verified against
/root/testdata/sf0.1: cardinalities, key fanouts, category sets,
document text with a small exact-duplicate tail, 64-dim
10-cluster embeddings) at arbitrary sf, so the scale probe
(tools/scale_probe.py) can measure sf0.1 -> sf1.0 scaling on data from
ONE generator — apples to apples. Seed fixed at 42: every run emits
byte-identical tables.

This is probe tooling, not testdata replacement: correctness stays
oracled on the driver's own parquet. Output goes under
scale_probe/ (gitignored).

Usage: python tools/gen_scale_probe_data.py [sf ...]   (default: 0.1 1.0)
Check the catalog against its oracles on the output (scale_probe/sf{X}):
       python tools/differential.py --sf 1

Generator v2 (round 12): document text now draws from a 10^4-word
zipf(1.1) pseudo-language instead of the original 26-word vocabulary
(see `_doc_vocab`), so shingle-collision-driven candidate volume in
the minhash / cluster_cc chains measures the operator on realistic
text rather than the probe artifact BENCH_NOTES_r11 footnote 1 had to
explain away. All other tables are byte-identical to v1 (the v1 word
draw is kept and discarded to preserve the shared rng stream), so
pre-v2 probe artifacts remain comparable on non-document chains.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# base cardinalities at sf=1.0 (10x the observed sf0.1 counts)
BASE = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
    "documents": 50_000, "embeddings": 20_000, "users": 15_000,
}

VOCAB = ("batch part spark line column order small sort fast value scan "
         "a hash slow group query big filter key window row table stream "
         "merge data agg").split()


def _doc_vocab(n_words: int = 10_000) -> list[str]:
    """Deterministic 10^4-word pseudo-language for document text
    (generator v2, VERDICT r11 item 5). The original 26-word VOCAB
    made every 5-gram shingle collide corpus-wide, so the minhash /
    cluster_cc probe shuffle ratios measured the vocabulary artifact,
    not the operator — footnote-explained in BENCH_NOTES_r11 instead
    of measured. Real text has a heavy-tailed vocabulary; syllable
    words under a zipf(1.1) rank distribution reproduce that shape
    (shingle collisions now come from genuinely repeated phrases, as
    on real corpora)."""
    rng = np.random.default_rng(777)
    syl = np.array([c + v for c in "bcdfghklmnprstvz" for v in "aeiou"])
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n_words:
        k = int(rng.integers(2, 5))
        w = "".join(syl[rng.integers(0, len(syl), k)])
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


DOC_VOCAB = _doc_vocab()
_ranks = np.arange(1, len(DOC_VOCAB) + 1, dtype=np.float64)
DOC_ZIPF_CDF = np.cumsum(1.0 / _ranks ** 1.1)
DOC_ZIPF_CDF /= DOC_ZIPF_CDF[-1]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["O", "F", "P"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]
BRANDS = [f"Brand#{i}{j}" for i in range(1, 6) for j in range(1, 6)]
TYPES = [f"{a} {b}" for a in ("STANDARD", "SMALL", "LARGE", "ECONOMY")
         for b in ("PLATED", "BURNISHED", "ANODIZED")]

DAY_US = 86_400_000_000


def _write(out_dir: str, name: str, table: pa.Table,
           row_group_rows: int = 262_144) -> None:
    # bounded row groups so Spark's FileSourceScan gets real splits —
    # a single-row-group 200 MB file would serialize the whole scan
    # through one task
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   compression="snappy", row_group_size=row_group_rows)


def _ts_us(rng, n, start_us, span_us):
    return (start_us + rng.integers(0, span_us, n)).astype("datetime64[us]")


def generate(sf: float, out_dir: str) -> None:
    rng = np.random.default_rng(42)
    os.makedirs(out_dir, exist_ok=True)
    n = {k: max(1, int(v * sf)) for k, v in BASE.items()}

    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    }))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i:02d}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))

    nc = n["customer"]
    _write(out_dir, "customer", pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
    }))

    ns = n["supplier"]
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    }))

    npart = n["part"]
    _write(out_dir, "part", pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"part {VOCAB[i % len(VOCAB)]} {i}" for i in range(npart)],
        "p_brand": np.array(BRANDS)[rng.integers(0, len(BRANDS), npart)],
        "p_type": np.array(TYPES)[rng.integers(0, len(TYPES), npart)],
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(rng.uniform(900, 2100, npart), 2),
    }))

    no = n["orders"]
    start95 = np.datetime64("1995-01-01").astype("datetime64[us]").astype(np.int64)
    span = np.datetime64("2001-08-01").astype("datetime64[us]").astype(np.int64) - start95
    _write(out_dir, "orders", pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(850, 550_000, no), 2),
        "o_orderdate": ((start95 + rng.integers(0, span, no))
                        // DAY_US * DAY_US).astype("datetime64[us]"),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
    }))

    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    price = np.round(rng.uniform(900, 2100, nl) * qty, 2)
    flag_pairs = np.array([("A", "F"), ("N", "F"), ("N", "O"),
                           ("R", "F"), ("R", "O"), ("A", "O")])
    fp = flag_pairs[rng.integers(0, len(flag_pairs), nl)]
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": np.round(rng.uniform(0, 0.10, nl), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, nl), 2),
        "l_returnflag": fp[:, 0],
        "l_linestatus": fp[:, 1],
        "l_shipdate": ((start95 + rng.integers(0, span, nl))
                       // DAY_US * DAY_US).astype("datetime64[us]"),
    }))

    ne, nu = n["events"], n["users"]
    start24 = np.datetime64("2024-01-01").astype("datetime64[us]").astype(np.int64)
    _write(out_dir, "events", pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _ts_us(rng, ne, start24, 30 * DAY_US),
        "user_id": rng.integers(0, nu, ne).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.uniform(0, 500, ne), 4),
        "props": np.char.add(np.char.add(
            '{"k": ', rng.integers(0, 100, ne).astype(str)), "}"),
    }))

    nd = n["documents"]
    lens = rng.integers(8, 105, nd)
    # v1 drew word indices from the SHARED rng here; the draw is kept
    # (and discarded) so every table after this point — events came
    # before, embeddings after — stays byte-identical to the v1
    # generator. Only the documents table changes in v2.
    _ = rng.integers(0, len(VOCAB), int(lens.sum()))
    rng_words = np.random.default_rng(4242)
    word_idx = np.searchsorted(
        DOC_ZIPF_CDF, rng_words.random(int(lens.sum())))
    texts, pos = [], 0
    vocab = DOC_VOCAB
    for ln in lens:
        texts.append(" ".join(vocab[w] for w in word_idx[pos:pos + ln]))
        pos += ln
    # exact-duplicate tail (~0.2%, like the driver data) plus a
    # near-duplicate tail for the minhash path: copy an earlier doc
    # and perturb one word
    for i in range(0, nd, 599):
        if i + 1 < nd:
            texts[i + 1] = texts[i]
    for i in range(7, nd, 997):
        if i + 1 < nd:
            texts[i + 1] = texts[i] + " extra"
    _write(out_dir, "documents", pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, 5, nd)],
        "source": np.array([f"src{i}" for i in range(20)])[
            rng.integers(0, 20, nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }))

    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv).astype(np.int32)
    centers = rng.normal(0, 1, (10, 64))
    # realistic spread: within-cluster cosine ~0.4 (below the LSH
    # candidate cutoff ~0.70 for 32x12 banding), so candidate volume
    # tracks true near-dups, as on real embedding corpora. The first
    # probe run used sigma=0.35 (within-cluster cosine ~0.9) — a
    # useful DEGENERATE-density stress, recorded in BENCH_NOTES_r11,
    # but a pathological default for a scaling measurement.
    vecs = (centers[labels] + rng.normal(0, 1.2, (nv, 64))).astype(np.float32)
    # planted near-dup tail (~n/500 pairs): copy + tiny perturbation,
    # cosine ~0.9998 — the operator's true positives
    for i in range(0, nv - 1, 499):
        vecs[i + 1] = vecs[i] + rng.normal(0, 0.01, 64).astype(np.float32)
    _write(out_dir, "embeddings", pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels,
    }))


if __name__ == "__main__":
    sfs = [float(a) for a in sys.argv[1:]] or [0.1, 1.0]
    root = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "scale_probe")
    for sf in sfs:
        out = os.path.join(root, f"sf{sf:g}")
        print(f"generating sf={sf:g} -> {out}")
        generate(sf, out)
        total = sum(os.path.getsize(os.path.join(out, f))
                    for f in os.listdir(out))
        print(f"  {total / 1e6:.1f} MB")
