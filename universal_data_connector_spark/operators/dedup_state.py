"""Cross-run deduplication against a persistent seen store.

``operators/dedup.py::exact_dedup`` dedups WITHIN one frame; an
incremental ingestion pipeline (the daily corpus drop of a training-
data pipeline) also needs dedup against HISTORY: a document whose
content already shipped in any previous run must not ship again. This
module maintains that history as a key-bucketed store and exposes the
operation as a filter + post-sink commit pair, wired into the YAML
surface as the ``dedup_state`` transformation. Three filters share one
store: exact (``seen_filter``), MinHash-near (``seen_near_filter``) and
embedding-near (``seen_embedding_filter``).

Store layout, one store per POSIX directory or per object-store prefix
(``seen_store`` picks the backend); the names are the same on both::

    POSIX <dir>/               S3 s3://bucket/prefix/   holds
    _udc_seen_meta             _udc_buckets             bucket count, fixed for life
    _udc_near_meta             _udc_near_meta           near/embedding parameters
    _udc_emb_dim               _udc_emb_dim             embedding width
    udc_kb=<K>/seen-*.parquet  kb=<K>/seen-*.parquet    exact keys (udc_seen_key)
    bands/udc_kb=<K>/seen-*    bands/kb=<K>/seen-*      (doc_key, band_idx, band_hash)
    sigs/udc_kb=<K>/seen-*     sigs/kb=<K>/seen-*       (doc_key, sig)
    vecs/udc_kb=<K>/seen-*     vecs/kb=<K>/seen-*       (doc_key, vec)

The store is APPEND-ONLY, which is what makes its crash contract
simple: the anti-join is idempotent under duplicate seen rows, so a
replayed commit that re-appends the same keys changes nothing about
which rows ship — there is no swap, no pointer, and nothing to CAS.
Appends are atomic per file: write-to-staging + ``os.rename`` on
POSIX, one PUT per object on S3.

Mark asymmetry (``store_lease``): the POSIX store takes a writer mark
for each append, for the crash sweep at open, and for a batch's whole
read-filter-ship-commit (``PosixSeenStore.span``); the object store
takes none (``S3SeenStore.append`` says why). Compaction takes each
backend's maintenance lease.

Crash ordering (enforced by the engine, ``finalize_batch_sink``): the
commit runs strictly AFTER the sink succeeds and strictly BEFORE
``manifest_record``. Both orders matter:

* sink first — a failed sink leaves the store untouched, so the rerun
  ships the same survivors (no data loss);
* commit before manifest — if the commit lands and the manifest crash-
  misses, the rerun re-reads the same files and filters the survivors
  as seen, which is CORRECT (they already reached the sink); the
  reverse order would let a manifest-recorded/commit-crashed run leak
  keys that future batches then fail to dedup against (duplicates
  downstream, the one outcome the operator exists to prevent).

Scale posture: the key is ``sha2(to_json(struct(cols)), 256)``
(NULL-faithful, order-faithful; 2^-128 collision odds at corpus
scale), bucketed by ``pmod(xxhash64(key), N)``. A batch reads ONLY its
touched buckets (explicit paths or prefix-scoped listings — pruning by
construction), anti-joins on the hash, and appends one file per
touched bucket. Per-batch cost is O(touched state + batch), never
O(store). Replayed commits may append duplicate keys;
``compact_seen_store`` rewrites a bucket to distinct rows as offline
maintenance.
"""

from __future__ import annotations

import contextlib
import json
import logging
import os
import shutil
import uuid

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from universal_data_connector_spark.operators.relational import materialize
from universal_data_connector_spark.streaming.windows import (
    _UPSERT_OLD_PREFIX,
    _contains_map,
    _reject_remote_target,
    by_bucket,
    materialize_touched,
    repair_swaps,
    swap_bucket,
)

log = logging.getLogger(__name__)

_KB = "udc_kb"
_SEEN_META = "_udc_seen_meta"
_NEAR_META = "_udc_near_meta"
_EMB_DIM_META = "_udc_emb_dim"
_SEEN_STAGED_PREFIX = "_udc_seen_staged_"
_KEY = "udc_seen_key"

#: stored column contract per sub-store ("" is the exact store's root)
#: — the filters below are the only producers, so these literals ARE
#: the file schemas (reads select by name).
_SUB_SCHEMAS = {
    "": f"{_KEY} string",
    "bands": "doc_key string, band_idx int, band_hash bigint",
    "sigs": "doc_key string, sig array<bigint>",
    "vecs": "doc_key string, vec array<double>",
}


def is_seen_object(target, key: str) -> bool:
    """True for an object of a seen store under ``target``'s prefix:
    its parameter records, the ``bands/``/``sigs/``/``vecs/``
    sub-stores and the ``seen-*`` key objects. A state-sink vacuum
    sharing the prefix must never treat these as garbage: no pointer
    ever references an append-only seen object."""
    rel = key[len(target.prefix) + 1:] if target.prefix else key
    return (rel in (_NEAR_META, _EMB_DIM_META)
            or rel.startswith(tuple(f"{s}/" for s in _SUB_SCHEMAS if s))
            or os.path.basename(key).startswith("seen-"))


def _parts(sub: str, *rest: str) -> list[str]:
    return ([sub] if sub else []) + list(rest)


class PosixSeenStore:
    """A seen store in a local/POSIX directory: bucket dirs
    ``[<sub>/]udc_kb=<K>``, appends staged under the sub-root and
    renamed live, compaction swapped in per bucket by
    ``windows.swap_bucket``. URI-scheme paths are rejected."""

    def __init__(self, root: str, num_buckets: int = 32):
        self.root = root
        self.num_buckets = num_buckets
        self.label = str(root)

    def _dir(self, sub: str, b: int) -> str:
        return os.path.join(self.root, sub, f"{_KB}={b}")

    def _sweep(self) -> None:
        """Remove staging leftovers of crashed appends (unreferenced by
        construction — live files arrive by rename) and repair a
        compaction that crashed between its two renames, at the root
        and under every sub-root."""
        for sub in _SUB_SCHEMAS:
            root = os.path.join(self.root, sub)
            if not os.path.isdir(root):
                continue
            for name in os.listdir(root):
                if name.startswith(_SEEN_STAGED_PREFIX):
                    shutil.rmtree(os.path.join(root, name),
                                  ignore_errors=True)
            repair_swaps(root)

    def _meta(self) -> int:
        """Create/validate the store marker; the bucket count persisted
        at creation wins for the store's life (same rule as the state
        sinks)."""
        _reject_remote_target(self.root)
        meta = os.path.join(self.root, _SEEN_META)
        if (not os.path.isfile(meta) and os.path.isdir(self.root)
                and any(not n.startswith("_")
                        for n in os.listdir(self.root))):
            raise ValueError(
                f"dedup_state store {self.root!r} exists but is not a "
                "seen store (missing _udc_seen_meta)")
        os.makedirs(self.root, exist_ok=True)
        return int(self.pin(_SEEN_META, self.num_buckets))

    def open(self) -> int:
        """The bucket count, after the crash sweep — run under a WRITER
        MARK (r17): a bare lease-exists check was check-then-act (a
        compactor acquiring the lease right after the sweep put a
        parked ``_udc_old_`` bucket dir back mid-swap, ADVICE r16).
        With the mark-then-check claim order, a sweep that holds its
        mark and saw no lease excludes any compactor; if a lease is
        live the sweep is refused and SKIPPED (the compactor sweeps
        its predecessor's leftovers itself)."""
        from universal_data_connector_spark.store_lease import (
            StoreLeaseHeld,
            posix_writer_mark,
        )

        if os.path.isdir(self.root):
            try:
                with posix_writer_mark(self.root):
                    self._sweep()
            except StoreLeaseHeld:
                # reading PAST a parked bucket dir would silently treat
                # that bucket as empty and pass already-seen keys as
                # new (r17 review): refuse loudly instead; the
                # maintenance holder repairs the park first thing
                # under its lease, so the retry reads a consistent
                # store
                roots = [os.path.join(self.root, s) for s in _SUB_SCHEMAS]
                parked = [os.path.join(r, n) for r in roots
                          if os.path.isdir(r) for n in os.listdir(r)
                          if n.startswith(_UPSERT_OLD_PREFIX)]
                if parked:
                    raise StoreLeaseHeld(
                        f"store {self.root!r} is under maintenance "
                        f"with parked bucket dir(s) {parked[:3]} not "
                        "yet repaired; reading now would silently "
                        "miss those buckets — retry after the "
                        "maintenance holder's sweep")
        return self._meta()

    def pin(self, name: str, value):
        """The JSON value of meta file ``name``, created holding
        ``value`` if absent: a temp file hard-linked into place, so
        the first of two racing creators wins and no reader ever sees
        a torn file."""
        path = os.path.join(self.root, name)
        if not os.path.exists(path):
            tmp = f"{path}.{uuid.uuid4().hex[:8]}.tmp"
            with open(tmp, "w") as fh:
                fh.write(json.dumps(value))
            try:
                os.link(tmp, path)
            except FileExistsError:
                pass
            finally:
                os.remove(tmp)
        with open(path) as fh:
            return json.load(fh)

    def read(self, spark, sub: str, buckets: list[int]):
        """Frame over the existing bucket dirs among ``buckets`` of
        sub-store ``sub`` (explicit paths), or None. The schema is
        declared (``_SUB_SCHEMAS``), so no job infers it from the
        parquet footers."""
        paths = [d for d in (self._dir(sub, b) for b in buckets)
                 if os.path.isdir(d)]
        return (spark.read.schema(_SUB_SCHEMAS[sub]).parquet(*paths)
                if paths else None)

    def append(self, frame: DataFrame, sub: str) -> int:
        """Append ``frame`` (carrying ``udc_kb``) to sub-store ``sub``:
        a staged Spark write, then atomic renames of each part file
        into its live bucket dir, all under a writer mark on the store
        root (maintenance holding the lease refuses this append BEFORE
        anything is staged, and a compaction from any process refuses
        while the mark lives). The buckets are the staged write's own
        ``udc_kb=<K>`` dirs. Returns files appended."""
        from universal_data_connector_spark.store_lease import (
            posix_writer_mark,
        )

        root = os.path.join(self.root, sub)
        nonce = uuid.uuid4().hex[:8]
        staged = os.path.join(root, f"{_SEEN_STAGED_PREFIX}{nonce}")
        moved = 0
        with posix_writer_mark(self.root):
            (by_bucket(frame).write.mode("overwrite")
             .partitionBy(_KB).parquet(staged))
            written = os.listdir(staged) if os.path.isdir(staged) else []
            for bucket_dir in sorted(written):
                if not bucket_dir.startswith(f"{_KB}="):
                    continue
                part_dir = os.path.join(staged, bucket_dir)
                live_dir = os.path.join(root, bucket_dir)
                os.makedirs(live_dir, exist_ok=True)
                for i, name in enumerate(sorted(
                        f for f in os.listdir(part_dir)
                        if f.endswith(".parquet"))):
                    os.rename(os.path.join(part_dir, name),
                              os.path.join(live_dir,
                                           f"seen-{nonce}-{i}.parquet"))
                    moved += 1
            shutil.rmtree(staged, ignore_errors=True)
        return moved

    def span(self):
        """The writer mark a batch holds over its WHOLE read-filter-
        ship-commit (ADVICE r17 medium): without it, a compaction's
        rename swap mid-READ makes a bucket dir silently vanish from
        the listing, letting already-seen keys ship as new BEFORE the
        commit's own mark-guarded refusal could land. With it, a batch
        building during maintenance refuses up front, and maintenance
        starting mid-batch sees the mark and refuses."""
        from universal_data_connector_spark.store_lease import (
            posix_writer_mark,
        )

        return posix_writer_mark(self.root)

    def compact(self, spark) -> None:
        """Rewrite every bucket dir of every sub-store to its distinct
        rows in one file, under the store's maintenance lease (the
        crash sweep and meta check run INSIDE it: the sweep's repair
        must never race another compactor's swap, and no writer may
        slip between sweep and swap).

        Job shape: ONE distributed read+distinct+partitioned-write per
        sub-store over all its buckets (the bucket is functionally
        determined by the row content, so the global distinct equals
        per-bucket distinct). The swaps stay per-bucket and atomic; a
        crash between swaps leaves the remaining buckets multi-file
        (harmless, caught by the next compaction)."""
        from universal_data_connector_spark.store_lease import (
            posix_maintenance_lease,
        )

        with posix_maintenance_lease(self.root, op="compact"):
            self._sweep()
            n = self._meta()
            for sub, schema in _SUB_SCHEMAS.items():
                root = os.path.join(self.root, sub)
                buckets = [b for b in range(n)
                           if os.path.isdir(self._dir(sub, b))]
                if not buckets:
                    continue
                cols = [c.split()[0] for c in schema.split(", ")]
                staged = os.path.join(
                    root, f"{_SEEN_STAGED_PREFIX}{uuid.uuid4().hex[:8]}")
                # explicit bucket dirs under a basePath, not a bare-root
                # read (ADVICE r15): a root holding both exact-store
                # bucket dirs AND the bands/sigs/vecs sub-roots makes
                # whole-root partition discovery fail with 'Conflicting
                # directory structures'
                (spark.read.option("basePath", root)
                 .parquet(*[self._dir(sub, b) for b in buckets])
                 .select(*cols, _KB).distinct()
                 .transform(by_bucket)
                 .write.mode("overwrite").partitionBy(_KB).parquet(staged))
                for b in buckets:
                    new = os.path.join(staged, f"{_KB}={b}")
                    if not os.path.isdir(new):
                        continue
                    # drop the writer metadata so only key files remain
                    for name in os.listdir(new):
                        if not name.endswith(".parquet"):
                            os.remove(os.path.join(new, name))
                    swap_bucket(root, b, new)
                shutil.rmtree(staged, ignore_errors=True)


class S3SeenStore:
    """A seen store under an ``object_state.S3StateTarget`` prefix,
    which owns the bucket count: objects ``[<sub>/]kb=<K>/seen-*``,
    moved executor-side in both directions (``read_objects`` /
    ``write_objects``), so no byte of history crosses the driver and
    listings are prefix-scoped (O(touched), never O(store))."""

    def __init__(self, target):
        self.target = target
        self.label = f"s3://{target.bucket}/{target.prefix}"

    def _objects(self, sub: str, b: int) -> list[str]:
        """Bucket ``b``'s seen objects: only ``seen-*.parquet``
        basenames count, so a foreign parquet object sharing the prefix
        (a misconfigured state-sink generation, say) is never read as
        keys, nor deleted by ``compact``."""
        under = "/".join(_parts(sub, f"kb={b}"))
        return [k for k in self.target.list_keys(under=under)
                if k.endswith(".parquet")
                and os.path.basename(k).startswith("seen-")]

    def open(self) -> int:
        return self.target.num_buckets

    def pin(self, name: str, value):
        """The JSON value of meta object ``name``, created holding
        ``value`` with a conditional PUT (If-None-Match:*) if absent,
        so two racing first writers resolve to one winner."""
        from universal_data_connector_spark.streaming.object_state import (
            CasConflict,
        )

        key = self.target._key(name)
        have, _ = self.target._get_json(key)
        if have is None:
            try:
                self.target._put_cas(key, value, None)
                return value
            except CasConflict:
                have, _ = self.target._get_json(key)
        return have

    def read(self, spark, sub: str, buckets: list[int]):
        """Frame over the objects of sub-store ``sub``'s ``buckets``, or
        None. Eagerly materialized: the filters consume the stored
        frame in several actions (candidate-bucket collect, the
        flagging join, the survivor materialization), and one
        distributed materialization keeps the GET count at one per
        object (the op-count table in BENCH_NOTES_r14 §6)."""
        from universal_data_connector_spark.streaming.object_state import (
            read_objects,
        )

        keyed_objects = [(k, b) for b in buckets
                         for k in self._objects(sub, b)]
        if not keyed_objects:
            return None
        return materialize(read_objects(spark, self.target,
                                        keyed_objects, _SUB_SCHEMAS[sub]))

    def append(self, frame: DataFrame, sub: str) -> int:
        """Append a ``udc_kb``-carrying frame as one atomic PUT per
        rolled object, issued from the upload tasks themselves; the
        buckets are those the upload tasks report. Returns objects
        uploaded.

        Deliberately NO writer mark (r16): the append is safe against
        BOTH maintenance ops by construction — ``compact`` deletes only
        objects in its OWN listing (a racing append lands under a
        fresh nonce the listing didn't see; pinned by test_s3_state's
        racing-append test), and ``vacuum_target`` skips the seen
        namespace (``is_seen_object``). Serializing it would cost
        availability for nothing: at 100 TB a compaction pass is long,
        and a POSIX-style refusal would stall every ingest commit for
        its whole duration. The S3 state-sink merges DO mark (vacuum
        would eat their fresh generations)."""
        from universal_data_connector_spark.streaming.object_state import (
            key_format,
            write_objects,
        )

        objects = write_objects(
            frame, self.target, [],
            key_format(self.target,
                       *_parts(sub, "kb={b}", "seen-{nonce}-{i}.parquet")))
        return sum(len(ks) for ks in objects.values())

    def span(self):
        """No batch-long mark (the r16 asymmetry, ``append``): a read
        racing ``compact`` fails LOUDLY on a deleted object instead of
        silently missing a bucket, so nothing needs fencing."""
        return contextlib.nullcontext()

    def compact(self, spark) -> int:
        """Rewrite each bucket's listed objects (two or more) to ONE
        distinct-rows object, then delete exactly the listed objects.
        Returns the number of superseded objects deleted.

        No swap — safety comes from the append-only read semantics: a
        crash after the upload or mid-delete leaves duplicates
        (harmless, the reads are distinct/anti-join idempotent), and a
        commit racing the compactor is never lost because only objects
        in the compactor's OWN listing are deleted. Even two
        concurrent compactors merely leave both compact objects
        behind, cleaned by the next run. Job shape: ONE distributed
        read+distinct+write per sub-store covering every eligible
        bucket; deletes stay per-bucket and listing-scoped. Exclusion
        is the CAS-created ``_udc_lease`` maintenance lease, refused
        while any writer commit holds a mark."""
        from universal_data_connector_spark.store_lease import (
            s3_maintenance_lease,
        )
        from universal_data_connector_spark.streaming.object_state import (
            key_format,
            read_objects,
            write_objects,
        )

        t = self.target
        deleted = 0
        with s3_maintenance_lease(t, op="compact"):
            for sub, schema in _SUB_SCHEMAS.items():
                listed = {b: ks for b in range(t.num_buckets)
                          if len(ks := self._objects(sub, b)) >= 2}
                if not listed:
                    continue
                distinct = read_objects(
                    spark, t, [(k, b) for b, ks in listed.items()
                               for k in ks],
                    f"{schema}, {_KB} int").distinct()
                # one task owns each bucket -> one rewrite object per
                # bucket (plus rollovers past the buffer cap)
                write_objects(distinct, t, sorted(listed), key_format(
                    t, *_parts(sub, "kb={b}",
                               "seen-compact-{nonce}-{i}.parquet")))
                for ks in listed.values():
                    t.delete_keys(ks)
                    deleted += len(ks)
        log.info("dedup_state[s3]: compacted %d superseded object(s) "
                 "under %s", deleted, self.label)
        return deleted


def seen_store(store, num_buckets: int = 32):
    """The backend behind a store argument — the one place the backend
    is picked: an ``object_state.S3StateTarget`` (which owns its
    bucket count) becomes an ``S3SeenStore``, anything else is a POSIX
    directory of ``num_buckets`` buckets (used at creation only). A
    store object passes through."""
    from universal_data_connector_spark.streaming.object_state import (
        S3StateTarget,
    )

    if isinstance(store, (PosixSeenStore, S3SeenStore)):
        return store
    if isinstance(store, S3StateTarget):
        return S3SeenStore(store)
    return PosixSeenStore(store, num_buckets)


def compact_seen_store(spark, store):
    """Offline maintenance for any seen store (exact, near and
    embedding alike — every existing sub-store is compacted): rewrite
    each bucket to distinct rows. Every run appends one file per
    touched bucket (and replayed commits append duplicates) — harmless
    for correctness, but without compaction the per-touched-bucket
    read cost grows linearly with RUN COUNT, which is what breaks at
    thousands of incremental runs; compaction restores it to
    O(distinct state). Duplicates are byte-identical by construction:
    ``doc_key`` is the content hash the signature or vector derives
    from, and the parameters are pinned by ``_udc_near_meta``.

    Exclusion is carried BY THE STORE (``store_lease``, r16): this
    takes the store's exclusive maintenance lease and refuses while
    any writer commit is in flight — across configs, managers and
    processes, which one manager's config-name ``maintenance_window``
    cannot see. Raises ``StoreLeaseHeld`` on conflict. Returns the
    number of superseded objects deleted on the object store, None on
    POSIX."""
    return seen_store(store).compact(spark)


def _bucket(n: int, *cols: str):
    return F.pmod(F.xxhash64(*cols), F.lit(n)).cast("int")


def _batch_keyed(df: DataFrame, cols: list[str], n: int) -> DataFrame:
    """Key + bucket + deterministic within-batch dedup."""
    key = F.sha2(F.to_json(F.struct(*[F.col(c) for c in cols])), 256)
    keyed = df.withColumn(_KEY, key)
    # deterministic within-batch winner: lowest content hash over ALL
    # columns; MapType-carrying columns hash their to_json rendering
    # (xxhash64 cannot hash maps — the windows._latest_rank rule)
    tiebreak = F.xxhash64(*[
        F.to_json(F.col(f.name)) if _contains_map(f.dataType)
        else F.col(f.name)
        for f in sorted(df.schema.fields, key=lambda f: f.name)])
    rn = F.row_number().over(
        Window.partitionBy(_KEY).orderBy(tiebreak.asc()))
    return (keyed.withColumn("__rn", rn)
                 .filter(F.col("__rn") == 1).drop("__rn")
                 .withColumn(_KB, _bucket(n, _KEY)))


def seen_filter(df: DataFrame, store, cols: list[str],
                num_buckets: int = 32):
    """(survivors, commit) for one batch against the exact seen store
    ``store`` (a POSIX directory, an ``S3StateTarget`` or a
    ``seen_store``).

    ``survivors`` is ``df`` minus rows whose key is already in the
    store, also deduplicated WITHIN the batch (deterministic winner:
    lowest content hash over all columns, so replays pick the same
    rows). ``commit()`` appends the survivors' keys to the store —
    call it only after the survivors have durably reached their sink.

    The keyed batch (source scan, key hash, within-batch winner) is
    computed ONCE, by the job that materializes it; that job also
    observes the batch's touched buckets, which the store read needs
    before the anti-join. When history exists the survivors are
    materialized again after the anti-join (a read of those blocks and
    of the touched buckets' keys), so the sink's consumption and the
    commit's key extraction share one computation of it."""
    store = seen_store(store, num_buckets)
    keyed, touched = materialize_touched(
        _batch_keyed(df, cols, store.open()))
    seen = store.read(df.sparkSession, "", touched)
    if seen is not None:
        # no distinct on the seen keys: the anti-join ignores their
        # duplicates
        keyed = materialize(keyed.join(seen, on=_KEY, how="left_anti"))

    def commit() -> None:
        moved = store.append(keyed.select(_KEY, _KB), "")
        log.info("dedup_state: appended %d file(s) across %d touched "
                 "bucket(s) in %s", moved, len(touched), store.label)

    return keyed.drop(_KEY, _KB), commit


# ---------------------------------------------------------------------------
# cross-run NEAR dedup: LSH candidates against history
# ---------------------------------------------------------------------------

def _pin_params(store, params: dict) -> None:
    """Pin the signature-defining parameters at store creation and
    refuse mismatched reopens: signatures and band folds computed
    under one parameter set are NOT comparable with another's — a
    mismatched run would silently mis-score every similarity instead
    of failing. Adopted on first touch for stores that predate the
    guard (the current run's parameters become the store's)."""
    have = store.pin(_NEAR_META, params)
    if have != params:
        raise ValueError(
            f"dedup_state near store {store.label} was created with "
            f"{have}; this run passed {params} — stored signatures/"
            "band folds are not comparable across these parameters. "
            "Rerun with the store's parameters or start a new store.")


def _near_params(num_hashes: int, bands: int, shingle_n: int) -> dict:
    if bands < 1 or num_hashes % bands:
        raise ValueError(f"bands ({bands}) must be >= 1 and divide "
                         f"numHashes (num_hashes={num_hashes})")
    return {"num_hashes": int(num_hashes), "bands": int(bands),
            "shingle_n": int(shingle_n)}


def _reject_null_ids(df: DataFrame, id_col: str, mode: str) -> None:
    """Fail loudly on NULL row ids (ADVICE r14): the near/embedding
    flows re-associate signatures and survivors with their rows by
    equi-joining on ``id_col``, and a NULL key matches nothing — the
    row would silently vanish from the survivors with no dedup
    decision at all, the one failure mode worse than a duplicate.
    One short-circuiting probe job (column-pruned, stops at the first
    NULL) per batch buys the guarantee."""
    if df.filter(F.col(id_col).isNull()).limit(1).count():
        raise ValueError(
            f"dedup_state {mode} batch contains NULL {id_col!r} row "
            "ids: the store joins signatures back to rows by this id, "
            "so NULL-id rows would be dropped without any dedup "
            "decision. Assign unique non-null ids upstream (e.g. "
            "uuid() or monotonically_increasing_id).")


def _flag_history(store, spark, scored: DataFrame, new_bands: DataFrame,
                  id_col: str, n: int, sub: str, match):
    """The ids the store's history flags, or None when nothing stored
    can match. The new band rows (``udc_kb``-carrying) equi-join the
    stored bands of their touched buckets into (new id, stored
    doc_key) candidates — LSH: a near-dup shares >= 1 band with high
    probability — and each candidate's ``scored`` row meets its stored
    ``sub`` row (signature or vector) under ``match``. No
    self-exclusion on doc_key: the store never holds the CURRENT batch
    (the commit runs post-sink), and a replay after a
    committed-then-crashed run SHOULD match its own stored copy (those
    rows already shipped).

    The band rows and the candidates are each materialized once, by
    the job that also observes the buckets the next store read needs;
    the joins after it read those blocks instead of recomputing
    them."""
    new_bands, band_buckets = materialize_touched(new_bands)
    stored_bands = store.read(spark, "bands", band_buckets)
    if stored_bands is None:
        return None
    cands, sig_buckets = materialize_touched(
        new_bands.join(stored_bands, on=["band_idx", "band_hash"])
        .select(id_col, "doc_key").distinct()
        .withColumn(_KB, _bucket(n, "doc_key")))
    stored = store.read(spark, sub, sig_buckets)
    if stored is None:
        return None
    return (cands.drop(_KB).join(scored, on=id_col)
            .join(stored, on="doc_key")
            .filter(match).select(id_col).distinct())


def _survivors(df: DataFrame, keyed: DataFrame, flagged, id_col: str):
    """(survivors of ``df``, their ``keyed`` rows): the flagged ids
    dropped."""
    if flagged is not None:
        keyed = materialize(
            keyed.join(flagged, on=id_col, how="left_anti"))
    return df.join(keyed.select(id_col), on=id_col, how="left_semi"), keyed


def _append_commit(store, mode: str, parts: list):
    """commit() appending each ``(sub, rows)`` of ``parts`` in order:
    bands BEFORE sigs/vecs, and the convergence argument is
    rerun-shaped rather than order-shaped. A crash between the two
    appends leaves band rows whose sigs/vecs are missing, so the next
    filter finds the candidates but cannot score them — but that crash
    also means finalize died BEFORE manifest_record, so the pipeline
    rerun re-ships those docs (at-least-once, the same contract as
    every finalize step) and this commit re-runs to completion
    (duplicate band rows are harmless as everywhere in the append-only
    stores). Each append takes its buckets from its own write."""
    def commit() -> None:
        moved = sum(store.append(rows, sub) for sub, rows in parts)
        log.info("dedup_%s_state: appended %d file(s) in %s", mode,
                 moved, store.label)

    return commit


def seen_near_filter(df: DataFrame, store,
                     text_col: str = "text", id_col: str = "doc_id",
                     threshold: float = 0.8, num_hashes: int = 128,
                     bands: int = 32, shingle_n: int = 5,
                     num_buckets: int = 32):
    """(survivors, commit) — MinHash NEAR dedup against ALL previous
    runs: a document whose estimated Jaccard similarity to any
    historically shipped document reaches ``threshold`` is dropped.
    The cross-run extension of ``dedup.minhash_dedup_pairs``; the
    exact twin is ``seen_filter``. Sub-stores ``bands`` (band_idx,
    band_hash, doc_key) and ``sigs`` (doc_key, sig), with the exact
    store's append-only crash contract.

    Batch flow — every store read is confined to touched buckets:

    1. one map over the scan computes each new doc's signature + band
       hashes (``dedup._sig_band_df``, no shuffle);
    2. new band rows equi-join the band store's touched buckets on
       (band_idx, band_hash) -> candidate (new id, stored doc_key)
       pairs — LSH guarantees a near-dup shares >= 1 band with
       probability 1-(1-s^r)^bands (~0.9997 at s=0.8 with 128/32);
    3. candidates' signatures fetch from the sig store's touched
       buckets; similarity = fraction of agreeing signature positions
       (the standard MinHash estimator, sd ~= sqrt(s(1-s)/128) ~ 0.035
       at the threshold) — flagged ids drop; an exact byte-duplicate
       of a stored doc always flags this way (sim 1.0);
    4. ``commit()`` (post-sink, the engine's finalize step 0 ordering)
       appends the survivors' band rows and signatures.

    Contract note: this filters against HISTORY only — two near-dup
    documents arriving in the SAME batch both survive (and both enter
    the store). Run the in-batch pipeline (``minhash_dedup_pairs`` +
    ``dedup_keep_min``) first when intra-batch near-dups matter; the
    composition is the canonical daily-ingest flow.

    Signatures are stored ONCE per doc (the band rows carry only the
    8-byte fold + key), so store cost is O(docs * num_hashes * 8B +
    docs * bands * ~40B) — at 1B shipped docs and 128 hashes, ~1 TB of
    signature parquet spread over the bucket dirs, read strictly
    per-touched-bucket."""
    from universal_data_connector_spark.operators.dedup import _sig_band_df

    store = seen_store(store, num_buckets)
    n = store.open()
    _pin_params(store, _near_params(num_hashes, bands, shingle_n))
    _reject_null_ids(df, id_col, "near")

    sb = _sig_band_df(df, text_col, id_col, num_hashes, bands, shingle_n)
    keyed = materialize(df.select(id_col, text_col)
                          .withColumn("__dk", F.sha2(F.col(text_col)
                                                     .cast("string"), 256))
                          .join(sb, on=id_col))
    new_bands = (keyed.select(
        id_col, "__dk",
        F.posexplode("__bands").alias("band_idx", "band_hash"))
        .withColumn(_KB, _bucket(n, "band_idx", "band_hash")))
    est = (F.aggregate(
        F.zip_with("__sig", "sig", lambda a, b: (a == b).cast("int")),
        F.lit(0), lambda acc, x: acc + x) / F.lit(num_hashes))
    flagged = _flag_history(store, df.sparkSession,
                            keyed.select(id_col, "__sig"), new_bands,
                            id_col, n, "sigs", est >= F.lit(threshold))
    survivors, kept = _survivors(df, keyed, flagged, id_col)
    return survivors, _append_commit(store, "near", [
        ("bands", kept.select(
            F.col("__dk").alias("doc_key"),
            F.posexplode("__bands").alias("band_idx", "band_hash"))
         .withColumn(_KB, _bucket(n, "band_idx", "band_hash"))),
        ("sigs", kept.select(F.col("__dk").alias("doc_key"),
                             F.col("__sig").alias("sig"))
         .withColumn(_KB, _bucket(n, "doc_key"))),
    ])


# ---------------------------------------------------------------------------
# cross-run EMBEDDING dedup: hyperplane-LSH candidates, exact cosine
# ---------------------------------------------------------------------------

def _embedding_params(n_planes: int, bands: int, seed: int) -> dict:
    from universal_data_connector_spark.operators.similarity import (
        _band_width,
    )

    _band_width(n_planes, bands)
    return {"kind": "embedding", "n_planes": int(n_planes),
            "bands": int(bands), "seed": int(seed)}


def _batch_dim(df: DataFrame, vec_col: str):
    """Embedding width of the batch (None when the batch is empty or
    holds no non-null vector); one aggregate-only job. Aggregating
    min/max of ``size()`` over NON-NULL vectors — instead of peeking
    at the first row (ADVICE r14) — means a leading NULL can never pin
    a bogus width into the store meta, and a mixed-width batch fails
    HERE instead of passing a first-row-only guard and silently
    zeroing recall for the other width."""
    row = (df.filter(F.col(vec_col).isNotNull())
             .agg(F.min(F.size(F.col(vec_col))).alias("lo"),
                  F.max(F.size(F.col(vec_col))).alias("hi"))
             .first())
    if row is None or row["lo"] is None:
        return None
    if int(row["lo"]) != int(row["hi"]):
        raise ValueError(
            f"dedup_state embedding batch mixes vector widths "
            f"{int(row['lo'])} and {int(row['hi'])} in {vec_col!r}: "
            "hyperplane codes are dim-specific, so a mixed batch "
            "cannot be scored against one store")
    return int(row["lo"])


def _check_dim(stored, dim: int, label: str) -> None:
    if stored is not None and int(stored) != dim:
        raise ValueError(
            f"dedup_state embedding store {label} holds {stored}-wide "
            f"vectors; this batch is {dim}-wide. Hyperplane codes are "
            "dim-specific, so a mismatched run would silently MISS "
            "every near-duplicate instead of failing — embeddings from "
            "a different space need a new store.")


def seen_embedding_filter(df: DataFrame, store,
                          vec_col: str = "embedding",
                          id_col: str = "vec_id",
                          threshold: float = 0.95, n_planes: int = 4096,
                          bands: int = 128, seed: int = 7,
                          num_buckets: int = 32):
    """Embedding near-dedup against HISTORY: drop a vector whose exact
    cosine against any previously COMMITTED vector clears ``threshold``
    — the third member of the cross-run store family (exact text /
    MinHash text / embedding), completing incremental-corpus dedup for
    pipelines whose duplicate signal lives in an embedding column.
    Candidates come from banded hyperplane LSH (a missed band match
    can miss a near-dup but never false-drops, since the exact cosine
    decides). Band codes come from ``similarity.hyperplane_bands`` —
    bit-for-bit the codes the in-batch LSH pipeline uses, the same
    parity rule as the MinHash store's ``dedup._sig_band_df`` — and are
    stored under the MinHash store's band schema, with a ``vecs``
    sub-store in place of ``sigs``; its crash contract is the MinHash
    store's verbatim. Zero-norm vectors have NULL cosine and therefore
    always ship (consistent with ``dedup_embedding_cosine``); NULL
    vectors get no codes (they can never be candidates, so they always
    ship) and are not appended to ``vecs``.

    Band WIDTH (``n_planes // bands``) is the scale knob: vectors with
    cosine c agree per plane with p = 1 - acos(c)/pi, so a pair
    becomes a candidate at rate ~ bands * p^width — and the candidate
    JOIN (which ships both vectors per pair) is the whole cost at
    scale. Measured on the sf10 scale corpus (clustered 64-dim
    embeddings, same-cluster cosine ~0.4, 100k stored x 120k batch):
    width 8 (128/16) made 6% of the cross product candidates (197 s);
    width 16 (512/32) ~2% of the same-cluster mass (still 10^7 pairs);
    width 32 with 128 bands (the 4096/128 default) drops the
    cluster-mass collision rate to ~10^-5 while keeping recall at
    threshold 0.95 of 1-(1-0.899^32)^128 ~ 98.7% (99.99% at 0.97).
    The wider signature costs one larger Arrow matmul per batch
    (chunked inside ``hyperplane_bands``) and 128 band rows per stored
    vector — both linear, no join involved. Parameters AND the
    embedding width are pinned at creation (mismatched reopens fail
    loudly — both would otherwise silently zero the recall). Filters
    against history only; run ``lsh_near_dup_pairs``/
    ``embedding_cosine`` in-batch first when intra-batch near-dups
    matter."""
    from universal_data_connector_spark.functions.vectors import (
        cosine_similarity,
    )
    from universal_data_connector_spark.operators.similarity import (
        hyperplane_bands,
    )

    store = seen_store(store, num_buckets)
    n = store.open()
    _pin_params(store, _embedding_params(n_planes, bands, seed))
    dim = _batch_dim(df, vec_col)
    if dim is not None:
        _check_dim(store.pin(_EMB_DIM_META, dim), dim, store.label)
    _reject_null_ids(df, id_col, "embedding")

    keyed = materialize(df.select(id_col, vec_col)
                          .withColumn("__dk", F.sha2(F.to_json(
                              F.col(vec_col).cast("array<double>")), 256)))
    # one Arrow matmul feeds filter AND commit
    codes = materialize(hyperplane_bands(
        keyed.filter(F.col(vec_col).isNotNull()), id_col, vec_col,
        n_planes=n_planes, bands=bands, seed=seed)
        .withColumnRenamed("band_val", "band_hash"))
    flagged = _flag_history(
        store, df.sparkSession, keyed.select(id_col, vec_col),
        codes.withColumn(_KB, _bucket(n, "band_idx", "band_hash")),
        id_col, n, "vecs",
        cosine_similarity(F.col(vec_col), F.col("vec"))
        >= F.lit(float(threshold)))
    survivors, kept = _survivors(df, keyed, flagged, id_col)
    return survivors, _append_commit(store, "embedding", [
        ("bands", codes.join(kept.select(id_col, "__dk"), on=id_col)
         .select(F.col("__dk").alias("doc_key"), "band_idx", "band_hash")
         .withColumn(_KB, _bucket(n, "band_idx", "band_hash"))),
        ("vecs", kept.filter(F.col(vec_col).isNotNull())
         .select(F.col("__dk").alias("doc_key"),
                 F.col(vec_col).cast("array<double>").alias("vec"))
         .withColumn(_KB, _bucket(n, "doc_key"))),
    ])
