"""Keyed-state sinks for the YAML pipeline surface.

Engine extensions beyond the reference's sink set (SURVEY.md §2A K1-K5
are append-only): ``upsert`` keeps the latest row per key and
``agg_state`` an additive per-key (count, exact sum), both in a
key-bucketed parquet target, exposed as declarative sink types so a
pipeline config can keep CDC latest-state or additive per-key
aggregates without writing code.

One commit protocol, two storage implementations: the merges, the
batch-run claim and the foreachBatch wiring are written once in
``streaming/windows.py``, and ``state_target`` picks the storage they
run over — ``PosixStateTarget`` at ``path`` (staged write plus a
two-rename swap per bucket) or, when ``bucketName`` is set,
``object_state.S3StateTarget`` (immutable generations plus a
per-bucket pointer CAS).

``upsert`` props: path (or bucketName/prefix/endpoint/accessKey/
secretKey/region), keys (comma-separated), orderColumn,
checkpointLocation (streaming only), numBuckets (optional).
``agg_state`` props: the same with valueColumn for orderColumn.

Batch mode calls the merge bodies DIRECTLY on the input frame (no
scratch-parquet + readStream round-trip — VERDICT r7 item 2's write
amplification is gone):

* ``upsert``: the keep-latest merge is idempotent, so a plain call
  converges on re-run; no batch id or checkpoint is involved.
* ``agg_state``: the additive merge is NOT idempotent, and a fresh
  per-run streaming checkpoint would replay every run as batch 0 —
  silently dropping increments for previously-touched buckets. Batch
  runs instead claim a MONOTONIC run id (1 + highest applied id,
  persisted in an intent for crash-resume) via ``claim_batch_run`` so
  each run applies exactly once; see its docstring for the
  crash-replay contract and the do-not-mix-with-a-live-stream caveat.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame


def s3_state_target(props: dict):
    """Build the object-store state target from S3-sink-style props
    (``bucketName``/``prefix``, and ``s3_client_kwargs``' ``endpoint``/
    ``accessKey``/``secretKey``/``region`` — the same shape the S3
    source and sink consume); the dedup_state operator and the
    maintenance endpoints build theirs here too."""
    from universal_data_connector_spark.sources.files import s3_client_kwargs
    from universal_data_connector_spark.streaming.object_state import (
        S3StateTarget,
    )

    return S3StateTarget(props["bucketName"],
                         props.get("prefix") or "",
                         num_buckets=int(props.get("numBuckets", 32)),
                         **s3_client_kwargs(props))


def _keys(props: dict) -> list[str]:
    raw = props.get("keys", "")
    keys = [k.strip() for k in str(raw).split(",") if k.strip()]
    if not keys:
        raise ValueError("upsert/agg_state sink requires 'keys'")
    return keys


def state_target(props: dict):
    """The keyed-state target a sink's props name: the object-store
    target when ``bucketName`` is set, else the POSIX target at
    ``path``. The one place an upsert/agg_state sink picks its
    storage; everything after runs the same protocol."""
    if props.get("bucketName"):
        return s3_state_target(props)
    from universal_data_connector_spark.streaming.windows import (
        PosixStateTarget,
    )

    return PosixStateTarget(props["path"],
                            int(props.get("numBuckets", 32)))


def upsert_sink(df: DataFrame, props: dict, streaming: bool = False):
    from universal_data_connector_spark.streaming.windows import (
        foreachbatch_merge,
        keep_latest_merge,
    )

    keys = _keys(props)
    order_col = props.get("orderColumn")
    if not order_col:
        raise ValueError("upsert sink requires 'orderColumn'")
    merge = partial(keep_latest_merge, target=state_target(props),
                    keys=keys, order_col=order_col)
    if streaming:
        return foreachbatch_merge(df, merge, props["checkpointLocation"])
    # batch: one direct, idempotent merge (re-runs pick the same
    # winners — deterministic content tiebreak in _latest_rank)
    merge(df, 0)
    return None


def agg_state_sink(df: DataFrame, props: dict, streaming: bool = False):
    from universal_data_connector_spark.streaming.windows import (
        additive_merge,
        claim_batch_run,
        foreachbatch_merge,
    )

    keys = _keys(props)
    value_col = props.get("valueColumn")
    if not value_col:
        raise ValueError("agg_state sink requires 'valueColumn'")
    target = state_target(props)
    merge = partial(additive_merge, target=target, keys=keys,
                    value_col=value_col)
    if streaming:
        return foreachbatch_merge(df, merge, props["checkpointLocation"])
    # batch: monotonic run id so every run's increments apply exactly
    # once (and a crashed run resumes, not double-applies). Inside a
    # prepared pipeline run the source's input identity travels with
    # the intent, so a resume onto DIFFERENT input (manifest advanced,
    # intent not yet cleared) reclaims fresh instead of skipping the
    # new files' increments (ADVICE r8), and the intent clear is the
    # run's last post-sink step (engine.finalize_batch_sink): clearing
    # here would let a crash between the merge and the source's
    # consumed-input bookkeeping rerun the SAME unrecorded input under
    # a fresh run id — double-applying every increment. Direct callers
    # (no bookkeeping to wait for) finalize immediately.
    from universal_data_connector_spark.engine import _PREPARING

    run = _PREPARING.get()
    identity = run.input_identity if run is not None else None
    merge(df, claim_batch_run(target,
                              fingerprint=identity() if identity else None))
    if run is None:
        target.intent_clear()
    else:
        run.post_sink.append(target.intent_clear)
    return None
