"""Event-time windows, streaming dedup and keyed-state commits.

These operators are mode-agnostic: ``F.window`` / ``session_window`` /
``dropDuplicates`` build identical logical plans in batch and
streaming, so the catalog verifies their *semantics* against the DuckDB
oracle in batch (plans/catalog.py ``stream_*`` keys) while the tests
here run the *same* builders under ``readStream`` with real watermarks,
triggers, and state — late-data drops included.

Watermarks bound state at scale: without one, a windowed streaming agg
keeps every window open forever (unbounded state at 100 TB/day);
with one, state for windows older than (max event time - delay) is
evicted each micro-batch, and rows later than that are dropped.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import shutil
from functools import partial
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from universal_data_connector_spark.operators.relational import (
    observed_materialize,
)
from universal_data_connector_spark.session import local_frame


def tumbling_agg(df: DataFrame, ts_col: str = "ts", width: str = "1 hour",
                 watermark: str | None = None, group_cols: tuple[str, ...] = (),
                 aggs: dict | None = None) -> DataFrame:
    """Tumbling event-time window; each row lands in exactly one window."""
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    aggs = aggs or {"n": F.count("*")}
    return (df.groupBy(F.window(ts_col, width).alias("w"), *group_cols)
              .agg(*[v.alias(k) for k, v in aggs.items()])
              .select(F.col("w.start").alias("window_start"),
                      F.col("w.end").alias("window_end"),
                      *group_cols, *aggs.keys()))


def sliding_agg(df: DataFrame, ts_col: str = "ts", width: str = "2 hours",
                slide: str = "1 hour", watermark: str | None = None,
                aggs: dict | None = None) -> DataFrame:
    """Sliding window: width/slide copies of each row, pre-aggregated
    map-side like any other grouped agg."""
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    aggs = aggs or {"n": F.count("*")}
    return (df.groupBy(F.window(ts_col, width, slide).alias("w"))
              .agg(*[v.alias(k) for k, v in aggs.items()])
              .select(F.col("w.start").alias("window_start"),
                      F.col("w.end").alias("window_end"), *aggs.keys()))


def session_agg(df: DataFrame, ts_col: str = "ts", gap: str = "10 minutes",
                key_cols: tuple[str, ...] = ("user_id",),
                watermark: str | None = None) -> DataFrame:
    """Session windows (dynamic gap-merged); streaming requires a
    watermark so closed sessions can be finalized and evicted."""
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    return (df.groupBy(F.session_window(ts_col, gap).alias("w"), *key_cols)
              .agg(F.count("*").alias("n_events"))
              .select(*key_cols,
                      F.col("w.start").alias("session_start"),
                      F.col("w.end").alias("session_end"), "n_events"))


def stateful_running_totals(df: DataFrame, key_col: str = "user_id",
                            ts_col: str = "ts", value_col: str = "value",
                            watermark: str = "1 hour") -> DataFrame:
    """Custom stateful operator: per-key running (count, sum) across
    micro-batches via ``applyInPandasWithState`` — the escape hatch for
    stateful logic that windowed aggregation can't express (reference
    has no stateful surface at all; this is the Spark-native extension
    point, SURVEY.md §2A "Grouped/streaming state").

    State per key is two scalars, updated from Arrow batches; the
    watermark bounds how late input may arrive. Emits one row per key
    per micro-batch that touched it (update mode): the latest row per
    key is the current running total.

    State-bound exception to the module's watermark framing: running
    totals are forever-state BY DEFINITION, so this operator uses
    ``NoTimeout`` — per-key state is two scalars but the KEY SET grows
    with distinct keys seen. On unbounded key cardinality (session
    ids, request ids) swap ``GroupStateTimeout.EventTimeTimeout`` +
    ``state.setTimeoutTimestamp`` into ``update`` to evict idle keys,
    accepting that an evicted key's total restarts; bounded key
    universes (users, devices) run as-is.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = f"{key_col} bigint, n_events bigint, total_value double"
    state_schema = "n bigint, total double"

    def update(key, pdfs, state):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf[value_col].sum())
        state.update((n, total))
        yield pd.DataFrame({key_col: [key[0]], "n_events": [n],
                            "total_value": [total]})

    return (df.withWatermark(ts_col, watermark)
              .groupBy(key_col)
              .applyInPandasWithState(update, out_schema, state_schema,
                                      "update", GroupStateTimeout.NoTimeout))


def stream_dedup(df: DataFrame, keys: tuple[str, ...], ts_col: str = "ts",
                 watermark: str = "1 hour") -> DataFrame:
    """Keyed streaming dedup with bounded state:
    ``dropDuplicatesWithinWatermark`` keeps one row per key and evicts
    key state once the watermark passes — the durable, bounded-memory
    version of the reference's JVM-static ``processedFiles`` sets
    (``FileSourceContext.java:20-21``)."""
    return (df.withWatermark(ts_col, watermark)
              .dropDuplicatesWithinWatermark(list(keys)))


_UPSERT_BUCKET_COL = "udc_kb"
_UPSERT_META_FILE = "_udc_buckets"       # leading "_" => hidden to Spark
_UPSERT_STAGED_DIR = "_udc_staged"
_UPSERT_OLD_PREFIX = "_udc_old_"
_APPLIED_PREFIX = "_applied_"
_BATCH_INTENT = "_udc_batch_intent"
_DEC = "decimal(27,6)"


def swap_bucket(root: str, b, new: str) -> None:
    """Swap the staged dir ``new`` live as bucket ``b`` under ``root``:
    the live dir is parked as ``_udc_old_<b>``, the staged dir renamed
    into its place, the parked copy removed. ``repair_swaps`` repairs
    a crash between the two renames. The one bucket swap of the state
    sinks and the seen-store compaction."""
    live = os.path.join(root, f"{_UPSERT_BUCKET_COL}={b}")
    old = os.path.join(root, f"{_UPSERT_OLD_PREFIX}{b}")
    if os.path.isdir(live):
        os.rename(live, old)
    os.rename(new, live)
    shutil.rmtree(old, ignore_errors=True)


def repair_swaps(root: str) -> None:
    """Repair interrupted ``swap_bucket`` calls under ``root``:
    restore any bucket whose live dir went missing mid-swap and drop
    completed-swap leftovers. Idempotent."""
    for name in os.listdir(root):
        if not name.startswith(_UPSERT_OLD_PREFIX):
            continue
        bucket = name[len(_UPSERT_OLD_PREFIX):]
        live = os.path.join(root, f"{_UPSERT_BUCKET_COL}={bucket}")
        old = os.path.join(root, name)
        if os.path.isdir(live):
            # crash happened after the new bucket went live but before
            # cleanup — the old copy is superseded
            shutil.rmtree(old, ignore_errors=True)
        else:
            # crash happened between "live -> old" and "staged -> live":
            # the old copy is still the current state — put it back
            os.rename(old, live)


def _upsert_recover(path: str) -> None:
    """Crash recovery for the per-bucket swap: drop partial staging and
    repair interrupted swaps. Runs on every merge() entry so a
    restarted stream always sees a complete target before re-merging."""
    if not os.path.isdir(path):
        return
    shutil.rmtree(os.path.join(path, _UPSERT_STAGED_DIR),
                  ignore_errors=True)
    repair_swaps(path)


def _reject_remote_target(path: str) -> None:
    """The bucket swap is ``os.rename`` — POSIX only. A URI-scheme
    target (``s3a://``, ``gs://``, ``abfs://``, even ``file://``)
    would otherwise be ``os.makedirs``-ed as a literal local ``s3a:``
    directory and state silently maintained in the wrong place, so
    any scheme is rejected up front with the lakehouse pointer."""
    m = re.match(r"^([A-Za-z][A-Za-z0-9+.\-]*)://", str(path))
    if m:
        raise ValueError(
            f"upsert/agg_state state targets must be plain local "
            f"filesystem paths (got scheme {m.group(1)!r} in {path!r}): "
            "the per-bucket swap uses os.rename, which object stores "
            "do not support. For s3a://, gs://, or abfs:// targets use "
            "a lakehouse table format (Delta/Iceberg MERGE INTO) "
            "instead; for local files pass the path without a scheme.")


def _upsert_ensure_meta(path: str, num_buckets: int) -> int:
    """Create/validate the bucketed-layout marker; returns the bucket
    count persisted at target creation (fixed for the target's life —
    a changed bucket count would scatter existing keys). A pre-existing
    non-bucketed directory is rejected rather than silently merged."""
    _reject_remote_target(path)
    meta = os.path.join(path, _UPSERT_META_FILE)
    if os.path.isdir(path):
        if os.path.isfile(meta):
            with open(meta) as fh:
                return int(fh.read().strip())
        if os.listdir(path):
            raise ValueError(
                f"upsert target {path!r} exists but is not a bucketed "
                "upsert layout (missing _udc_buckets); rewrite it "
                "through this sink into a fresh directory first")
    os.makedirs(path, exist_ok=True)
    tmp = meta + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(str(num_buckets))
    os.rename(tmp, meta)
    return num_buckets


def _contains_map(dt) -> bool:
    """True if the data type has a MapType anywhere in it — the one
    family ``xxhash64`` cannot hash (HASH_MAP_TYPE analysis error)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.MapType):
        return True
    if isinstance(dt, T.ArrayType):
        return _contains_map(dt.elementType)
    if isinstance(dt, T.StructType):
        return any(_contains_map(f.dataType) for f in dt.fields)
    return False


def _latest_rank(schema, keys: list[str], order_col: str):
    """Deterministic keep-latest ranking: newest ``order_col`` first,
    ties broken by ``xxhash64`` over ALL payload columns (sorted name
    order) — a total order on row CONTENT, so re-applying a batch after
    a crash picks byte-identical winners even when two rows carry the
    same ``order_col`` (the bare ``orderBy(order_col, *keys)`` form
    left tie winners to shuffle order: keys are constant within a key
    partition, VERDICT r7 item 1). A hash collision between two
    distinct tied rows (~2^-64) is the only residual nondeterminism.

    Columns containing a MapType anywhere (bare, in an array, in a
    struct) are unhashable to ``xxhash64`` — those hash their
    ``to_json`` rendering instead (ADVICE r8: a map-carrying upsert
    target must not fail at runtime). A replay reprocesses the same
    rows through the same plan, so the JSON rendering — and therefore
    the tie winner — is stable across replays."""
    from pyspark.sql import Window as W

    payload = sorted((f for f in schema.fields
                      if f.name not in (_UPSERT_BUCKET_COL, "__rn")),
                     key=lambda f: f.name)
    hashable = [F.to_json(F.col(f.name)) if _contains_map(f.dataType)
                else F.col(f.name) for f in payload]
    tiebreak = F.xxhash64(*hashable) if hashable else F.lit(0)
    return F.row_number().over(
        W.partitionBy(*keys).orderBy(F.col(order_col).desc(),
                                     tiebreak.desc()))


def read_state(spark, path: str, empty_schema: str) -> DataFrame:
    """Read a bucketed state target, treating NO-STATE-YET as empty.

    A target that no batch has merged into yet (empty stream, cold
    start, a monitoring job racing the first trigger) holds no parquet
    data files — a bare ``spark.read.parquet`` raises
    UNABLE_TO_INFER_SCHEMA (or PATH_NOT_FOUND if the dir was never
    created). Empty state is a legitimate state, so those two cases
    return an empty frame of ``empty_schema`` (the columns the caller
    consumes); anything else re-raises. Round-14 degenerate-cardinality
    sweep."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as exc:
        if ("UNABLE_TO_INFER_SCHEMA" in str(exc)
                or "PATH_NOT_FOUND" in str(exc)):
            return local_frame(spark, [], empty_schema)
        raise


def _read_touched(spark, path: str, buckets: list[int],
                  schema=None) -> DataFrame:
    """Read ONLY the touched bucket directories of a bucketed state
    target: the ``udc_kb`` equality/isin predicate is a partition
    filter, so untouched bucket directories are never opened — the
    invariant that keeps per-batch cost O(touched), not O(target),
    pinned by the plan lint in tests/test_plans.py. A declared
    ``schema`` (data columns, then ``udc_kb``) spares the read the
    Spark job that infers one from the parquet footers."""
    if schema is None:
        frame = spark.read.parquet(path)
    else:
        frame = spark.read.schema(schema).parquet(path)
    return frame.filter(F.col(_UPSERT_BUCKET_COL).isin(list(buckets)))


def by_bucket(frame: DataFrame) -> DataFrame:
    """Hash-repartition a ``udc_kb``-carrying frame on the bucket
    column so a bucketed state store's staged write leaves ONE file
    per touched bucket — the layout rule every POSIX and S3 store
    (upsert, agg_state, seen stores and their compaction) writes by.

    Invariant: one bucket, one shuffle partition. Every row of a
    bucket hashes to the same shuffle partition, and AQE's partition
    coalescing only MERGES adjacent partitions of this exchange (it
    never splits a ``REPARTITION_BY_COL`` shuffle; skew splitting is
    for joins and rebalances), so the writing task sees each bucket
    whole and emits one file per bucket dir.

    Why no partition count: ``repartition(len(touched), col)`` would
    be a ``REPARTITION_BY_NUM`` shuffle, which AQE may not coalesce,
    so a batch of a few hundred rows would still run one task per
    touched bucket (32 tasks for 32 buckets) — most of a small
    micro-batch's cost. With no count the exchange is
    ``REPARTITION_BY_COL``: it starts at ``spark.sql.shuffle.partitions``
    and AQE sizes it by bytes, so a tiny batch writes from one task
    and a large one keeps up to min(touched buckets, shuffle
    partitions) writers."""
    return frame.repartition(F.col(_UPSERT_BUCKET_COL))


def _bucket_applied_id(bucket_dir: str) -> int:
    """Highest batch id recorded in a live bucket dir (-1 if none)."""
    if not os.path.isdir(bucket_dir):
        return -1
    ids = [int(n[len(_APPLIED_PREFIX):]) for n in os.listdir(bucket_dir)
           if n.startswith(_APPLIED_PREFIX)]
    return max(ids, default=-1)


def _intent_load(intent: str) -> dict | None:
    """Parse the intent file. JSON form is current; a bare integer is
    the pre-fingerprint legacy format (run id only). Returns None for
    an empty (torn-claim) file."""
    with open(intent) as fh:
        content = fh.read().strip()
    if not content:
        return None
    if content.lstrip().startswith("{"):
        return json.loads(content)
    return {"run_id": int(content), "fingerprint": None, "touched": None}


class Committed(NamedTuple):
    """One bucket's committed state as read at merge entry: the highest
    batch id applied to it (-1 for none) and the storage's own handle
    on it — for S3 the pointer and its ETag, the CAS base of this
    merge's commit; None on POSIX, whose rename needs no base."""
    applied: int
    ref: tuple | None = None


class PosixStateTarget:
    """Keyed-state storage on a local/POSIX path (NFS included).

    Each bucket is a ``udc_kb=<n>`` directory. A commit writes the
    merged buckets under the hidden ``_udc_staged`` dir, then swaps
    each one live with two renames through a hidden ``_udc_old_<n>``
    side dir; ``_upsert_recover`` repairs an interrupted swap at every
    merge and claim entry. An additive commit drops an
    ``_applied_<batch_id>`` marker into the staged bucket, so the
    marker travels atomically with the rename; keep-latest buckets
    carry none. The batch-run intent is the ``_udc_batch_intent``
    file, claimed with ``O_CREAT|O_EXCL``. URI-scheme paths are
    rejected (``_reject_remote_target``): the swap is ``os.rename``."""

    def __init__(self, path: str, num_buckets: int = 32):
        self.path = path
        self.num_buckets = num_buckets
        self.intent = os.path.join(path, _BATCH_INTENT)

    def _dir(self, b: int) -> str:
        return os.path.join(self.path, f"{_UPSERT_BUCKET_COL}={b}")

    def open(self) -> int:
        """Repair any interrupted swap, then return the bucket count
        persisted at target creation. Recovery runs BEFORE any marker
        is read: a crash between a bucket's two renames leaves its live
        dir missing, which would hide that bucket's markers from the
        applied ids and let a claim hand out an id at or below an
        already-applied one (round-10 review finding)."""
        _reject_remote_target(self.path)
        _upsert_recover(self.path)
        return _upsert_ensure_meta(self.path, self.num_buckets)

    def snapshot(self, buckets) -> dict[int, Committed]:
        return {b: Committed(_bucket_applied_id(self._dir(b)))
                for b in buckets}

    def read(self, spark, snap: dict, schema) -> DataFrame | None:
        """The committed rows of ``snap``'s buckets as a frame of
        ``schema`` (the batch's own, ``udc_kb`` last: state and batch
        share one by the unionByName contract), None when none is
        live."""
        if not any(os.path.isdir(self._dir(b)) for b in snap):
            return None
        return _read_touched(spark, self.path, list(snap), schema)

    def commit(self, frame: DataFrame, snap: dict, batch_id: int,
               marker: bool) -> None:
        staged = os.path.join(self.path, _UPSERT_STAGED_DIR)
        (by_bucket(frame).write.mode("overwrite")
         .partitionBy(_UPSERT_BUCKET_COL).parquet(staged))
        for b in snap:
            self.commit_bucket(b, staged, batch_id, marker)
        shutil.rmtree(staged, ignore_errors=True)

    def commit_bucket(self, b: int, staged: str, batch_id: int,
                      marker: bool) -> None:
        """Swap one staged bucket live: the per-bucket commit."""
        new = os.path.join(staged, f"{_UPSERT_BUCKET_COL}={b}")
        if marker:
            os.makedirs(new, exist_ok=True)  # empty-state bucket
            # the marker travels with the directory rename
            open(os.path.join(new, f"{_APPLIED_PREFIX}{batch_id}"),
                 "w").close()
        elif not os.path.isdir(new):
            return
        swap_bucket(self.path, b, new)

    def writer_mark(self):
        """No-op: a POSIX target has no vacuum to fence off."""
        return contextlib.nullcontext()

    def intent_get(self) -> tuple[dict | None, None]:
        """(payload, None): None when no intent exists, ``{}`` for a
        torn claim (a claim that crashed before writing its id)."""
        if not os.path.isfile(self.intent):
            return None, None
        stored = _intent_load(self.intent)
        return ({} if stored is None else stored), None

    def intent_claim(self, payload: dict) -> None:
        try:
            fd = os.open(self.intent, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            raise ValueError(
                f"another batch run holds {self.intent!r}: concurrent "
                "batch agg_state runs on one target are unsupported (if "
                "a prior run crashed, rerun after it has fully stopped "
                "— it will resume its claimed id)") from None
        with os.fdopen(fd, "w") as fh:
            fh.write(json.dumps(payload))

    def intent_update(self, payload: dict, etag=None) -> None:
        """Atomically rewrite the intent payload (tmp + rename)."""
        tmp = self.intent + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(json.dumps(payload))
        os.rename(tmp, self.intent)

    def intent_clear(self) -> None:
        end_batch_run(self.path)


# The keyed-state commit protocol, written once over a storage target:
# ``PosixStateTarget`` above or ``object_state.S3StateTarget``.

def _intent(run_id: int, fingerprint: str | None,
            touched: list[int] | None) -> dict:
    return {"run_id": run_id, "fingerprint": fingerprint,
            "touched": touched}


def materialize_touched(frame: DataFrame) -> tuple[DataFrame, list[int]]:
    """(``frame`` materialized, the sorted ``udc_kb`` ids it holds):
    the touched-bucket set is a ``collect_set`` observed by the one
    job that computes the frame the merge needs anyway, so listing the
    buckets costs no job of its own and the frame is computed once.
    Bounded by the bucket count, so the set is driver-safe at any
    scale."""
    frame, m = observed_materialize(
        frame, F.collect_set(_UPSERT_BUCKET_COL).alias("touched"))
    return frame, sorted(m["touched"])


def keep_latest_merge(batch_df: DataFrame, batch_id: int, *, target,
                      keys: list[str], order_col: str) -> None:
    """One keep-latest merge of ``batch_df`` into a state target: the
    batch is reduced to its newest row per key (materialized once,
    its touched buckets observed by that same job), the touched
    buckets' committed rows are read, re-ranked against it and
    committed.

    Idempotent, so there is no applied-id gate: a replay (or a batch
    call with a constant id) re-ranks against the committed state and
    picks byte-identical winners (content-hash tiebreak in
    ``_latest_rank``). The id is recorded only where the storage keeps
    it in the commit itself (the S3 pointer), as information."""
    spark = batch_df.sparkSession
    kb = F.pmod(F.xxhash64(*keys), F.lit(target.open())).cast("int")
    rank = _latest_rank(batch_df.schema, keys, order_col)
    latest, touched = materialize_touched(
        batch_df.withColumn("__rn", rank)
                .filter(F.col("__rn") == 1).drop("__rn")
                .withColumn(_UPSERT_BUCKET_COL, kb))
    if not touched:
        return
    snap = target.snapshot(touched)
    with target.writer_mark():
        merged = latest
        current = target.read(spark, snap, latest.schema)
        if current is not None:
            merged = current.unionByName(latest)
            rank2 = _latest_rank(merged.schema, keys, order_col)
            merged = (merged.withColumn("__rn", rank2)
                            .filter(F.col("__rn") == 1).drop("__rn"))
        target.commit(merged, snap, batch_id, marker=False)


def additive_merge(batch_df: DataFrame, batch_id: int, *, target,
                   keys: list[str], value_col: str) -> None:
    """One additive (count, exact-decimal sum) merge of ``batch_df``
    into a state target. NOT idempotent, so exactly-once comes from the
    applied id each bucket's commit records atomically with its data:
    a bucket whose applied id reached ``batch_id`` is skipped, so a
    replay after a crash anywhere in the commit loop applies the batch
    to exactly the buckets that had not committed it. The batch is
    partial-aggregated per key BEFORE touching state (materialized
    once, its touched buckets observed by that same job, so the gate
    below still knows them before any state is read or committed),
    and sums accumulate in DECIMAL(27,6) so merge order never changes
    them."""
    spark = batch_df.sparkSession
    kb = F.pmod(F.xxhash64(*keys), F.lit(target.open())).cast("int")
    part, touched = materialize_touched(
        batch_df
        .groupBy(*keys)
        .agg(F.count("*").cast("bigint").alias("n"),
             F.sum(F.col(value_col).cast(_DEC)).cast(_DEC)
              .alias("total"))
        .withColumn(_UPSERT_BUCKET_COL, kb))
    pending = {b: c for b, c in target.snapshot(touched).items()
               if c.applied < batch_id}
    # record BEFORE the early return and the first commit: an empty
    # pending set recorded = "this run's merge is complete", so a
    # later changed-input claim can reclaim fresh instead of raising
    record_touched(target, batch_id, list(pending))
    if not pending:
        return
    part = part.filter(F.col(_UPSERT_BUCKET_COL).isin(list(pending)))
    with target.writer_mark():
        merged = part
        state = target.read(spark, pending, part.schema)
        if state is not None:
            merged = (state.select(*keys, F.col("n"),
                                   F.col("total").cast(_DEC).alias("total"),
                                   F.col(_UPSERT_BUCKET_COL))
                      .unionByName(part)
                      .groupBy(*keys, _UPSERT_BUCKET_COL)
                      .agg(F.sum("n").cast("bigint").alias("n"),
                           F.sum("total").cast(_DEC).alias("total")))
        target.commit(merged, pending, batch_id, marker=True)


def record_touched(target, run_id: int, touched: list[int]) -> None:
    """Record the bucket set a batch merge is ABOUT to commit into the
    run's intent (no-op when no intent for ``run_id`` exists — the
    streaming path numbers batches from its checkpoint and carries no
    intent). Written before the first commit, so a later
    ``claim_batch_run`` can tell a COMPLETED merge (every recorded
    bucket reached the run id) from a crashed-partway one.

    The recorded set is the UNION of what the intent already carries
    and this attempt's buckets (ADVICE r14): a replay after a partial
    apply plans only the still-pending subset, and overwriting would
    erase the committed buckets that prove the partial apply — a later
    changed-input claim would then misread the run as never
    committed and silently abandon it."""
    stored, etag = target.intent_get()
    if not stored or int(stored["run_id"]) != run_id:
        return
    prior = stored.get("touched") or []
    target.intent_update(_intent(run_id, stored.get("fingerprint"),
                                 sorted(set(prior) | set(touched))), etag)


def claim_batch_run(target, fingerprint: str | None = None) -> int:
    """Claim a run id for one BATCH additive merge.

    Batch runs have no streaming checkpoint to number their batches, so
    a fresh-checkpoint wrapper would replay every run as batch 0 and
    the applied-id gate would silently DROP increments for any
    previously-touched bucket (each run's data is NEW — it must add).
    Instead the run id is 1 + the highest applied id across the
    target's buckets — monotonic across runs, so every batch run
    applies exactly once.

    Crash safety: the claimed id is persisted in the target's intent
    BEFORE the merge and cleared by ``end_batch_run`` after it. A rerun
    after a mid-commit crash finds the intent and RESUMES the same id —
    buckets already committed (applied id == run id) skip, the rest
    apply — converging exactly like a checkpointed stream replaying its
    batch. The rerun must present the same input batch, the same
    contract a stream replay has.

    Input-identity guard (ADVICE r8): a resume is only valid for the
    SAME input batch, but the engine's bookkeeping runs AFTER the
    merge — a crash between manifest_record and end_batch_run leaves
    the intent behind while the manifest now filters the recorded
    files, so the next run's input DIFFERS and a blind resume would
    skip every bucket the completed merge marked, silently dropping
    the new files' increments. Callers that can fingerprint their
    input (the engine hashes the source's canonical file list) pass
    it here; it is persisted in the intent and compared on resume:

    * fingerprints match (or either side has none) -> resume, as a
      stream replay would;
    * fingerprints differ and the prior run provably left the target
      consistent — its merge COMPLETED (every bucket in the recorded
      ``touched`` set reached the run id), it NEVER COMMITTED
      (``touched`` still null: ``record_touched`` runs before the
      first commit), or it recorded the set but NO bucket reached the
      run id (each bucket's commit records the id atomically with its
      data, so none reached = nothing committed; ADVICE r9) -> the
      intent is cleared and a FRESH id claimed so the new input
      applies;
    * fingerprints differ and the recorded set is only partially
      applied -> raise: resuming would replay the OLD id onto
      DIFFERENT input and a fresh id would double-apply whatever the
      crashed run already committed — no automatic choice is safe,
      the operator must reconcile (rerun the old input to completion
      first).

    Single-writer contract: the intent is claimed exclusively (POSIX
    ``O_CREAT|O_EXCL``, S3 ``If-None-Match:*``), so of two runs that
    start CONCURRENTLY one wins and the other fails loudly — without
    the exclusive claim both would compute the same id and the loser's
    increments would be silently skipped on every bucket the winner
    touched. A pre-existing intent at entry is treated as a crashed
    prior run and resumed (liveness cannot be probed from a marker);
    do not start a new batch while a prior one may still be running.
    Do not mix a live checkpointed stream and ad-hoc batch runs on one
    target either: a batch run advances applied ids past the stream's
    next batch id, which the gate would then skip (the standard
    dual-writer hazard; one writer per target)."""
    n_buckets = target.open()

    def applied(buckets) -> list[int]:
        return [c.applied for c in target.snapshot(buckets).values()]

    def next_id() -> int:
        return 1 + max(applied(range(n_buckets)), default=-1)

    stored, etag = target.intent_get()
    if stored == {}:
        # torn claim: a prior run crashed between creating the intent
        # and writing the id — its merge never ran, so the applied ids
        # are unchanged and recomputing yields the id it would have used
        run_id = next_id()
        target.intent_update(_intent(run_id, fingerprint, None), etag)
        return run_id
    if stored is not None:
        stored_fp = stored.get("fingerprint")
        if (fingerprint is None or stored_fp is None
                or stored_fp == fingerprint):
            return int(stored["run_id"])
        touched = stored.get("touched")
        run_id = int(stored["run_id"])
        done = [a >= run_id for a in applied(touched or [])]
        if touched is None or all(done) or not any(done):
            target.intent_clear()
        else:
            raise ValueError(
                f"batch intent {target.intent!r} (run {run_id}) was "
                "claimed for a DIFFERENT input batch than the one "
                "presented now, and that run partially applied its "
                f"merge ({sum(done)} of {len(done)} recorded buckets "
                "committed): resuming would misapply, reclaiming would "
                "double-apply. Rerun the original input to completion "
                "first (or remove the intent after manual "
                "reconciliation).")
    run_id = next_id()
    target.intent_claim(_intent(run_id, fingerprint, None))
    return run_id


def end_batch_run(path: str) -> None:
    """Clear the batch-run intent on the POSIX target at ``path`` after
    a successful merge; ``PosixStateTarget.intent_clear`` is this."""
    with contextlib.suppress(FileNotFoundError):
        os.remove(os.path.join(path, _BATCH_INTENT))


def foreachbatch_merge(stream: DataFrame, merge, checkpoint: str,
                       trigger_available_now: bool = True):
    """Run ``merge(batch_df, batch_id)`` on every micro-batch of
    ``stream`` via ``foreachBatch``: the checkpoint numbers the
    batches, and the merge's idempotent or applied-id-gated commit
    turns foreachBatch's at-least-once delivery into exactly-once
    state. Each batch runs under the checkpoint-scoped lease owner, so
    a restarted query may break its dead predecessor's stale writer
    mark (``store_lease``)."""
    from universal_data_connector_spark.store_lease import lease_owner

    def run(batch_df: DataFrame, batch_id: int) -> None:
        with lease_owner(f"stream:{checkpoint}"):
            merge(batch_df, batch_id)

    writer = (stream.writeStream.foreachBatch(run)
              .option("checkpointLocation", checkpoint))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# POSIX entry points: the protocol above over a ``PosixStateTarget``.

def upsert_merge(batch_df: DataFrame, batch_id: int, *, path: str,
                 keys: list[str], order_col: str,
                 num_buckets: int = 32) -> None:
    """``keep_latest_merge`` into the bucketed target at ``path`` —
    the body behind ``foreachbatch_upsert``, callable directly for
    batch mode (``batch_id`` is unused: the merge is idempotent)."""
    keep_latest_merge(batch_df, batch_id,
                      target=PosixStateTarget(path, num_buckets),
                      keys=keys, order_col=order_col)


def foreachbatch_upsert(stream: DataFrame, path: str, keys: list[str],
                        order_col: str, checkpoint: str,
                        trigger_available_now: bool = True,
                        num_buckets: int = 32):
    """Streaming upsert (merge-on-key) into a key-bucketed parquet
    target via ``foreachBatch`` — the keep-latest-row-per-key sink
    every CDC / state-snapshot pipeline needs.

    Scale posture: the target is ``num_buckets`` hash partitions
    (``udc_kb=pmod(xxhash64(keys), N)`` directories); each micro-batch
    reads, merges and rewrites only the buckets its keys touch, so
    per-batch cost is O(touched data), not O(target) — untouched
    bucket directories are never opened nor rewritten (pinned by
    test). Crash safety is ``PosixStateTarget``'s staged two-rename
    swap, repaired on every batch entry; the merge is idempotent, so a
    replayed batch converges to exactly-once state. ``num_buckets`` is
    fixed at target creation (``_udc_buckets``). Local/POSIX paths
    only; on an object store run ``foreachbatch_merge`` with
    ``keep_latest_merge`` over an ``object_state.S3StateTarget``, or
    use a lakehouse table format (Delta/Iceberg ``MERGE INTO``)."""
    return foreachbatch_merge(
        stream, partial(keep_latest_merge,
                        target=PosixStateTarget(path, num_buckets),
                        keys=keys, order_col=order_col),
        checkpoint, trigger_available_now)


def begin_batch_run(path: str, num_buckets: int = 32,
                    fingerprint: str | None = None) -> int:
    """``claim_batch_run`` on the POSIX target at ``path``."""
    return claim_batch_run(PosixStateTarget(path, num_buckets),
                           fingerprint)


def agg_state_merge(batch_df: DataFrame, batch_id: int, *, path: str,
                    keys: list[str], value_col: str,
                    num_buckets: int = 32) -> None:
    """``additive_merge`` into the bucketed target at ``path`` — the
    body behind ``foreachbatch_agg_state``, callable directly for
    batch mode with a ``begin_batch_run`` id."""
    additive_merge(batch_df, batch_id,
                   target=PosixStateTarget(path, num_buckets),
                   keys=keys, value_col=value_col)


def foreachbatch_agg_state(stream: DataFrame, path: str, keys: list[str],
                           value_col: str, checkpoint: str,
                           trigger_available_now: bool = True,
                           num_buckets: int = 32):
    """Streaming ADDITIVE aggregate state (per-key count + exact sum)
    maintained in the same key-bucketed parquet layout as
    ``foreachbatch_upsert`` — incremental aggregation maintenance
    without a lakehouse dependency. Each bucket swap carries an
    ``_applied_<batch_id>`` marker that travels with the rename, so a
    replayed batch applies to exactly the unswapped buckets
    (``additive_merge``). Local-filesystem targets only; on an object
    store run ``foreachbatch_merge`` with ``additive_merge`` over an
    ``object_state.S3StateTarget``."""
    return foreachbatch_merge(
        stream, partial(additive_merge,
                        target=PosixStateTarget(path, num_buckets),
                        keys=keys, value_col=value_col),
        checkpoint, trigger_available_now)
