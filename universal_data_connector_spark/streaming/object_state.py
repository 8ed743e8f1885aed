"""Object-store backend for the keyed state sinks (upsert / agg_state).

The POSIX sinks in ``streaming/windows.py`` get their crash safety from
``os.rename`` — which object stores do not have. This module maintains
the SAME state semantics (key-bucketed target, keep-latest upsert,
exactly-once additive aggregates) on S3-compatible storage by using the
lakehouse commit primitive instead: **immutable data generations plus a
per-bucket manifest pointer committed with compare-and-swap** — the
same shape Delta/Iceberg use to commit snapshots on S3, implemented
here dependency-free against two public S3 features (strong
read-after-write consistency; conditional PUT via ``If-None-Match:*``
create and ``If-Match`` ETag CAS).

Layout, all under ``s3://bucket/prefix/``::

    _udc_buckets                  bucket count, create-if-absent
    _udc_batch_intent             batch-run claim (If-None-Match:*)
    kb=<K>/_ptr                   JSON {"applied": id, "objects": [...]}
    kb=<K>/gen-<id>/part-*.parquet  immutable data objects

Commit protocol, per touched bucket and batch id ``g``:

1. upload the bucket's merged state as NEW objects under ``gen-<g>/``
   (never mutate a committed object);
2. CAS the pointer: ``If-Match`` on the ETag read at merge entry (or
   ``If-None-Match:*`` for a bucket's first commit), with the new
   content naming the applied batch id AND the exact object list.

A crash anywhere before step 2 leaves the old pointer — and therefore
the old state — fully intact; the half-uploaded generation is
unreferenced garbage (``vacuum_target`` reclaims it). A replay after a
crash skips buckets whose pointer already carries the batch id (the
applied marker is INSIDE the pointer content, so it is atomic with the
swap by construction) and re-merges the rest from their still-intact
old pointers. Because the pointer lists its objects explicitly, a
replay that repartitions differently can never resurrect a ghost part
file from the crashed attempt. A CONCURRENT second writer loses the
CAS and fails loudly — the same single-writer contract the POSIX
backend enforces with ``O_CREAT|O_EXCL``.

Scale posture: identical to the POSIX backend — per-batch cost is
O(touched buckets), the merge reduce runs in Spark, and the commit
adds ONE small-object GET + PUT per touched bucket (metadata-rate, not
data-rate). Transport (r15, VERDICT r14 item 1): the DATA path runs on
executors — generation objects are PUT from the upload tasks
(``write_objects``, the ``sinks/files.py`` ``foreachPartition``-PUT
posture) and pointed-to history is GET inside an Arrow-batched
``mapInArrow`` (``read_objects``, the ``sources/files.py`` fetch
posture), so no byte of state crosses the driver and no driver-local
scratch directory exists on the merge path. Only the metadata-rate
pieces stay on the driver client: pointer reads, pointer CAS, the
intent probe, and listings. The COMMIT PROTOCOL itself is
transport-independent: with S3A on the classpath the same layout
could stage via ``s3a://`` URIs — nothing in the crash argument
changes (see ``tests/test_s3a_transport.py``).

Reference parity note: the reference's S3 surface
(``factory/sink/S3SinkContext.java:56-103``) is append-only object
PUTs; keyed state on S3 is an engine extension, recorded in SURVEY
§2A alongside the POSIX state sinks.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame

from universal_data_connector_spark.operators.relational import materialize
from universal_data_connector_spark.session import local_frame
from universal_data_connector_spark.streaming.windows import (
    Committed,
    by_bucket,
)

_KB = "udc_kb"                      # same bucket column as the POSIX twin
_META_KEY = "_udc_buckets"
_INTENT_KEY = "_udc_batch_intent"


class CasConflict(ValueError):
    """A conditional PUT lost: another writer committed concurrently.

    Raised instead of retrying because retrying would require re-reading
    state mid-merge; the contract (matching the POSIX backend) is ONE
    writer per target — a lost CAS means that contract was broken."""


def _is_precondition_failed(exc) -> bool:
    code = getattr(exc, "response", {}).get("Error", {}).get("Code", "")
    return code in ("PreconditionFailed", "ConditionalRequestConflict")


def _is_missing(exc) -> bool:
    code = getattr(exc, "response", {}).get("Error", {}).get("Code", "")
    return code in ("NoSuchKey", "404")


def _client_kwargs_of(client) -> dict:
    """Reconstruct boto3 ``client(...)`` kwargs from a live client so
    EXECUTORS can build their own connection to the same endpoint (the
    client object itself is not picklable). Endpoint/region and the
    botocore ``Config`` (addressing style, retries — picklable) come
    from the public ``client.meta``; explicit credentials are
    recovered best-effort — when absent (instance profile, env, shared
    config) each executor resolves the ambient chain independently,
    the same posture as the S3 source's ``mapInPandas`` fetch.

    REFRESHABLE credentials (STS / assumed role) are snapshotted at
    this point in time — the frozen token ships to every task and will
    expire with the session it came from, while the driver's client
    keeps refreshing (r15 review). That is unavoidable for an injected
    client; a long-running pipeline should pass explicit
    ``client_kwargs`` to ``S3StateTarget`` or omit credentials and let
    executors resolve the ambient chain — warned here so the eventual
    ExpiredToken failure is attributable."""
    kw = {}
    try:
        if client.meta.endpoint_url:
            kw["endpoint_url"] = client.meta.endpoint_url
        if client.meta.region_name:
            kw["region_name"] = client.meta.region_name
        if client.meta.config is not None:
            kw["config"] = client.meta.config
        creds = client._request_signer._credentials
        if creds is not None:
            from botocore.credentials import RefreshableCredentials

            if isinstance(creds, RefreshableCredentials):
                import logging

                logging.getLogger(__name__).warning(
                    "S3StateTarget: the injected client uses "
                    "REFRESHABLE credentials; executor tasks get a "
                    "point-in-time snapshot that expires with the "
                    "session. Pass explicit client kwargs, or omit "
                    "credentials so executors resolve the ambient "
                    "provider chain.")
            frozen = creds.get_frozen_credentials()
            kw["aws_access_key_id"] = frozen.access_key
            kw["aws_secret_access_key"] = frozen.secret_key
            if frozen.token:
                kw["aws_session_token"] = frozen.token
    except Exception:  # pragma: no cover - private-API drift fallback
        # ADVICE r15: never degrade silently — without this warning an
        # executor-only auth failure (tasks falling back to the
        # executors' ambient provider chain while the driver's injected
        # client keeps working) is nearly impossible to attribute
        import logging

        logging.getLogger(__name__).warning(
            "S3StateTarget: could not recover endpoint/credentials "
            "from the injected client (botocore private-API drift?); "
            "executor-side GET/PUT tasks will resolve the AMBIENT "
            "credential chain instead. Pass explicit client kwargs to "
            "make executor auth deterministic.", exc_info=True)
    return kw


class S3StateTarget:
    """One keyed-state target at ``s3://bucket/prefix`` plus the boto3
    client to reach it. ``client_kwargs`` mirror the S3 source/sink
    props (``aws_access_key_id`` / ``aws_secret_access_key`` /
    ``endpoint_url`` / ``region_name``); omitted entries fall to the
    default provider chain. The kwargs (never the client) ship to
    executors for the data-plane GET/PUT tasks — when a pre-built
    ``client`` is injected instead, its endpoint/credentials are
    recovered via ``_client_kwargs_of``.

    SECURITY NOTE (ADVICE r15): whatever credentials end up in
    ``client_kwargs`` — passed explicitly or recovered from an
    injected client — are serialized into every task closure shipped
    to executors (long-term secret keys included). On a shared
    cluster, prefer omitting credentials so executors resolve their
    own ambient provider chain (instance profile / env / shared
    config), which ships nothing."""

    def __init__(self, bucket: str, prefix: str, *, client=None,
                 num_buckets: int = 32, **client_kwargs):
        if client is None:
            import boto3

            client = boto3.client("s3", **client_kwargs)
        elif not client_kwargs:
            client_kwargs = _client_kwargs_of(client)
        self.client = client
        self.client_kwargs = client_kwargs
        self.bucket = bucket
        self.prefix = prefix.strip("/")
        self.intent = self._key(_INTENT_KEY)
        self.num_buckets = self._ensure_meta(num_buckets)

    # -- key helpers -----------------------------------------------------
    def _key(self, *parts: str) -> str:
        return "/".join((self.prefix, *parts)) if self.prefix else \
            "/".join(parts)

    def _ptr_key(self, bucket_id: int) -> str:
        return self._key(f"kb={bucket_id}", "_ptr")

    # -- conditional small-object I/O ------------------------------------
    def _get_json(self, key: str):
        """(payload, etag) or (None, None) when the object is absent."""
        try:
            r = self.client.get_object(Bucket=self.bucket, Key=key)
        except Exception as exc:  # botocore ClientError
            if _is_missing(exc):
                return None, None
            raise
        return json.loads(r["Body"].read()), r["ETag"]

    def _put_cas(self, key: str, payload, etag: str | None) -> str | None:
        """Create-if-absent (etag None) or ETag-CAS overwrite. Returns
        the written object's ETag (for follow-up CAS renewals, e.g.
        the store-lease heartbeat)."""
        body = json.dumps(payload).encode()
        cond = ({"IfNoneMatch": "*"} if etag is None
                else {"IfMatch": etag})
        try:
            resp = self.client.put_object(Bucket=self.bucket, Key=key,
                                          Body=body, **cond)
            return resp.get("ETag")
        except Exception as exc:
            if _is_precondition_failed(exc):
                raise CasConflict(
                    f"conditional PUT of {key!r} lost to a concurrent "
                    "writer: one writer per state target (the same "
                    "single-writer contract as the POSIX backend)"
                ) from None
            raise

    def _ensure_meta(self, num_buckets: int) -> int:
        meta_key = self._key(_META_KEY)
        stored, _ = self._get_json(meta_key)
        if stored is not None:
            return int(stored["num_buckets"])
        try:
            self._put_cas(meta_key, {"num_buckets": num_buckets}, None)
            return num_buckets
        except CasConflict:
            # two first-writers raced; the winner's count is the
            # target's count for life (a changed bucket count would
            # scatter existing keys — same rule as the POSIX meta file)
            stored, _ = self._get_json(meta_key)
            return int(stored["num_buckets"])

    # -- pointer + data-plane --------------------------------------------
    def read_pointer(self, bucket_id: int):
        """({"applied": int, "objects": [keys]}, etag) or (None, None)."""
        return self._get_json(self._ptr_key(bucket_id))

    def commit_pointer(self, bucket_id: int, applied: int,
                       objects: list[str], etag: str | None) -> None:
        self._put_cas(self._ptr_key(bucket_id),
                      {"applied": applied, "objects": objects}, etag)

    def list_keys(self, under: str | None = None) -> list[str]:
        """Keys under the target prefix, optionally narrowed to a
        sub-prefix (``under``) so per-bucket listings stay O(bucket),
        not O(store)."""
        base = self._key(under) + "/" if under else (
            self.prefix + "/" if self.prefix else "")
        keys, token = [], None
        while True:
            kw = {"Bucket": self.bucket}
            if base:
                kw["Prefix"] = base
            if token:
                kw["ContinuationToken"] = token
            r = self.client.list_objects_v2(**kw)
            keys += [o["Key"] for o in r.get("Contents", [])]
            if not r.get("IsTruncated"):
                return keys
            token = r["NextContinuationToken"]

    def delete_keys(self, keys: list[str]) -> None:
        for i in range(0, len(keys), 1000):
            self.client.delete_objects(
                Bucket=self.bucket,
                Delete={"Objects": [{"Key": k} for k in keys[i:i + 1000]]})

    # -- keyed-state storage (the commit protocol in streaming/windows) --
    def open(self) -> int:
        """The bucket count (the layout marker was ensured at
        construction)."""
        return self.num_buckets

    def snapshot(self, buckets) -> dict[int, Committed]:
        snap = {}
        for b in buckets:
            ptr, etag = self.read_pointer(b)
            snap[b] = Committed(ptr["applied"] if ptr else -1, (ptr, etag))
        return snap

    def read(self, spark, snap: dict, schema) -> DataFrame | None:
        """The committed objects of ``snap``'s buckets as a frame of
        ``schema`` (the batch's own schema: state and batch share one
        by the unionByName contract), None when none is committed."""
        keyed_objects = _pointer_objects(
            {b: c.ref for b, c in snap.items()})
        if not keyed_objects:
            return None
        return read_objects(spark, self, keyed_objects, schema)

    def commit(self, frame: DataFrame, snap: dict, batch_id: int,
               marker: bool) -> None:
        """Upload ``frame`` as a new generation, then CAS each bucket's
        pointer against the ETag read at merge entry. The pointer always
        records ``batch_id``, so ``marker`` needs no handling here."""
        objects = write_objects(frame, self, list(snap),
                                _gen_key_fmt(self, batch_id))
        for b, c in snap.items():
            self.commit_pointer(b, batch_id, objects[b], c.ref[1])

    def writer_mark(self):
        """Store-carried writer mark (store_lease, r16): a vacuum from
        ANY config/process would otherwise list this merge's fresh,
        not-yet-pointer-referenced generation objects as garbage and
        delete them out from under the pointer commit."""
        from universal_data_connector_spark.store_lease import (
            s3_writer_mark,
        )
        return s3_writer_mark(self)

    def intent_get(self):
        return self._get_json(self.intent)

    def intent_claim(self, payload: dict) -> None:
        self._put_cas(self.intent, payload, None)

    def intent_update(self, payload: dict, etag: str | None) -> None:
        self._put_cas(self.intent, payload, etag)

    def intent_clear(self) -> None:
        self.delete_keys([self.intent])


def read_objects(spark, target: S3StateTarget,
                 keyed_objects: list[tuple[str, int]],
                 schema) -> DataFrame:
    """Distributed read of parquet objects: one Arrow-batched
    ``mapInArrow`` task GETs each object via its own boto3 client and
    yields its record batches — the data never touches the driver (the
    ``sources/files.py`` ``_s3_source_boto3`` posture, Arrow-native so
    decimals/arrays/timestamps survive byte-faithfully).

    ``keyed_objects`` is ``[(object_key, bucket_id), ...]`` (bounded:
    the caller's touched-bucket listings). ``schema`` (DDL string or
    StructType) names the OUTPUT columns; every column except
    ``udc_kb`` is selected BY NAME from the stored file (robust to
    column-order drift across compactions), and ``udc_kb`` — when the
    schema asks for it — is rebuilt from the object's bucket id, the
    executor-side equivalent of the partition-directory column the old
    scratch layout re-derived. Stored Arrow types are cast to the
    declared schema (covers int-width drift and timestamp-tz
    normalization across writer versions).

    The plan is LAZY: the GETs run when the consuming job does, which
    widens the listing->fetch window versus the old eager download. A
    listed object deleted in that window (a compactor racing a reader
    it was never allowed to run beside — maintenance is offline-only,
    now 409-enforced on the control plane) fails the task LOUDLY by
    design: for pointer generations a missing object is corruption,
    and for seen stores skipping it would silently under-filter; a
    loud retry/failure is the only answer that cannot produce a wrong
    result."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_out = to_arrow_schema(schema)
    want_kb = _KB in arrow_out.names
    bucket = target.bucket
    client_kwargs = dict(target.client_kwargs)

    # the local scan already splits into min(objects, defaultParallelism)
    # partitions, so the fetch needs no repartition
    kdf = local_frame(spark, keyed_objects, "key string, udc_kb int")

    def fetch(batches):
        import io

        import boto3
        import pyarrow as pa
        import pyarrow.parquet as pq

        client = boto3.client("s3", **client_kwargs)
        for rb in batches:
            for key, kb in zip(rb.column("key").to_pylist(),
                               rb.column("udc_kb").to_pylist()):
                body = client.get_object(
                    Bucket=bucket, Key=key)["Body"].read()
                tab = pq.read_table(io.BytesIO(body))
                if want_kb:
                    tab = tab.append_column(
                        _KB, pa.array([kb] * len(tab), type=pa.int32()))
                missing = [n for n in arrow_out.names
                           if n not in tab.column_names]
                if missing:
                    raise ValueError(
                        f"stored object {key!r} lacks column(s) "
                        f"{missing} expected by the read schema — a "
                        "state target's schema is fixed at first "
                        "commit; evolved pipelines need a new target "
                        "(or an offline backfill of the old objects)")
                tab = tab.select(arrow_out.names).cast(arrow_out)
                yield from tab.to_batches()

    return kdf.mapInArrow(fetch, schema)


def write_objects(frame: DataFrame, target: S3StateTarget,
                  touched: list[int], key_fmt: str,
                  max_buffer_bytes: int = 128 << 20
                  ) -> dict[int, list[str]]:
    """Distributed write of a ``udc_kb``-carrying frame as immutable
    parquet objects: the frame is hash-repartitioned on the bucket
    column (``windows.by_bucket``: one task owns each bucket, and AQE
    packs a small batch's buckets into few tasks) and each task
    serializes its buckets' rows to parquet in memory and PUTs them
    with its own boto3 client — the ``sinks/files.py``
    ``_s3_put_objects_boto3`` posture, so no byte crosses the driver
    and no local staging directory exists. Returns the per-bucket
    object-key lists for the caller's pointer commits; buckets that
    produced no rows still get an (empty) entry so their pointer can
    record an applied id.

    ``key_fmt`` carries ``{b}`` (bucket id), ``{nonce}`` (per-task
    uuid) and ``{i}`` (per-bucket object counter) placeholders — e.g.
    ``pre/kb={b}/gen-7-ab12cd34/part-{nonce}-{i}.parquet``. The
    per-task nonce keeps every PUT write-once under EVERY call pattern
    (replays, constant-id batch re-merges, task retries, speculative
    attempts): a retried task re-uploads under a fresh nonce and only
    the successful attempt's keys reach the caller — losers are
    unreferenced garbage for ``vacuum_target`` (generation stores) or
    harmless duplicate appends (seen stores). Task memory is bounded:
    buffered batches are flushed to rolled objects once the task's
    total buffer crosses ``max_buffer_bytes``."""
    bucket = target.bucket
    client_kwargs = dict(target.client_kwargs)
    parted = by_bucket(frame)

    def upload(batches):
        import io
        import uuid

        import boto3
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        client = boto3.client("s3", **client_kwargs)
        nonce = uuid.uuid4().hex[:10]
        bufs: dict[int, list] = {}
        buffered = 0
        counters: dict[int, int] = {}
        done: list[tuple[int, str]] = []

        def flush(b: int) -> None:
            nonlocal buffered
            tabs = bufs.pop(b, None)
            if not tabs:
                return
            tab = pa.concat_tables(tabs)
            buffered -= sum(t.nbytes for t in tabs)
            i = counters.get(b, 0)
            counters[b] = i + 1
            key = key_fmt.format(b=b, nonce=nonce, i=i)
            sink = io.BytesIO()
            pq.write_table(tab.drop_columns([_KB]), sink,
                           compression="snappy")
            client.put_object(Bucket=bucket, Key=key,
                              Body=sink.getvalue())
            done.append((b, key))

        for rb in batches:
            tab = pa.Table.from_batches([rb])
            kb_col = tab.column(_KB)
            for b in kb_col.unique().to_pylist():
                part = tab.filter(pc.equal(kb_col, b))
                bufs.setdefault(int(b), []).append(part)
                buffered += part.nbytes
            if buffered > max_buffer_bytes:
                for b in list(bufs):
                    flush(b)
        for b in list(bufs):
            flush(b)
        if done:
            yield pa.record_batch(
                [pa.array([b for b, _ in done], type=pa.int32()),
                 pa.array([k for _, k in done], type=pa.string())],
                names=[_KB, "key"])

    rows = parted.mapInArrow(upload, f"{_KB} int, key string").collect()
    objects: dict[int, list[str]] = {b: [] for b in touched}
    for r in rows:
        objects.setdefault(r[_KB], []).append(r["key"])
    for ks in objects.values():
        ks.sort()
    return objects


def _pointer_objects(pointers: dict) -> list[tuple[str, int]]:
    """Flatten committed pointers into ``read_objects`` input."""
    return [(key, b) for b, (ptr, _etag) in pointers.items()
            if ptr is not None for key in ptr["objects"]]


def key_format(target: S3StateTarget, *parts: str) -> str:
    """Object-key template for ``write_objects``: the target PREFIX is
    brace-escaped (braces are legal S3 key characters — a user prefix
    like ``corpus-{prod}`` must not be read as a placeholder by the
    task-side ``str.format``), so the ``{b}``/``{nonce}``/``{i}``
    placeholders in ``parts`` — which the transport itself supplies —
    are the only ones."""
    prefix = target.prefix.replace("{", "{{").replace("}", "}}")
    return "/".join(([prefix] if prefix else []) + list(parts))


def _gen_key_fmt(target: S3StateTarget, gen_id: int) -> str:
    """Object-key template for one generation upload. The RUN-level
    nonce in the generation directory name keeps a constant-id batch
    re-merge from ever touching the live, pointer-referenced objects
    BEFORE any CAS (readers only ever follow the pointer's explicit
    object list, so names carry no semantics; abandoned nonces are
    unreferenced garbage for ``vacuum_target``); the task-level
    ``{nonce}`` inside the part name isolates task retries."""
    import uuid

    run_nonce = uuid.uuid4().hex[:8]
    return key_format(target, "kb={b}", f"gen-{gen_id}-{run_nonce}",
                      "part-{nonce}-{i}.parquet")


def read_state_s3(spark, target: S3StateTarget, schema: str,
                  eager: bool = False) -> DataFrame:
    """Read the committed state of every bucket (pointer-listed objects
    only — uncommitted generations are invisible by construction) as a
    LAZY frame of exactly ``schema``'s columns: the object GETs run
    executor-side inside the returned plan (``read_objects``), so the
    frame behaves like any other reader — re-fetching per action,
    nothing staged on the driver. NO-STATE-YET reads back as an empty
    frame of the same schema (cold and warm reads now agree column-
    for-column, unlike the old scratch path which appended ``udc_kb``
    only when data existed); include ``udc_kb int`` in ``schema`` to
    get the bucket column.

    LAZY also means the pointer-listed objects are re-GET on every
    action (ADVICE r15 — the pre-r15 scratch transport pinned an eager
    snapshot): a caller that holds the frame across a later merge
    commit plus ``vacuum_target`` would re-evaluate against deleted
    generations (NoSuchKey) or silently see the NEWER state. Pass
    ``eager=True`` to restore the pinned-snapshot behavior (one
    distributed materialization, ``relational.materialize``) when reads
    interleave with merges/vacuum."""
    pointers = {b: target.read_pointer(b)
                for b in range(target.num_buckets)}
    keyed_objects = _pointer_objects(pointers)
    if not keyed_objects:
        return local_frame(spark, [], schema)
    frame = read_objects(spark, target, keyed_objects, schema)
    return materialize(frame) if eager else frame


def vacuum_target(target: S3StateTarget) -> int:
    """Delete data objects no pointer references (crashed-attempt
    generations, superseded generations). Returns the number of
    objects deleted.

    Exclusion is carried BY THE STORE (``store_lease``, r16): the
    exclusive maintenance lease refuses while any merge holds a
    writer mark — a vacuum racing a merge would list the merge's
    fresh, not-yet-pointer-referenced generation as garbage and
    delete it out from under the pointer commit. Raises
    ``StoreLeaseHeld`` on conflict; readers holding a pre-vacuum
    pointer remain the caller's concern (``read_state_s3`` notes).

    A dedup seen store co-located under the same bucket+prefix shares
    the ``kb=<K>/`` namespace but is APPEND-ONLY (no pointer ever
    references its objects) — vacuuming it would delete the whole
    dedup history, so its namespace is excluded
    (``dedup_state.is_seen_object``). The lease/writer-mark control
    objects are likewise excluded (this vacuum holds the one lease
    that exists while it runs)."""
    from universal_data_connector_spark.operators.dedup_state import (
        is_seen_object,
    )
    from universal_data_connector_spark.store_lease import (
        LEASE_NAME,
        WRITERS_DIR,
        s3_maintenance_lease,
    )

    with s3_maintenance_lease(target, op="vacuum"):
        live: set[str] = set()
        for b in range(target.num_buckets):
            ptr, _ = target.read_pointer(b)
            if ptr:
                live.update(ptr["objects"])
        keep_names = {target._key(_META_KEY), target._key(_INTENT_KEY),
                      target._key(LEASE_NAME)}
        writers = target._key(WRITERS_DIR) + "/"
        garbage = [k for k in target.list_keys()
                   if k not in live and not k.endswith("/_ptr")
                   and k not in keep_names and not k.startswith(writers)
                   and not is_seen_object(target, k)]
        if garbage:
            target.delete_keys(garbage)
    return len(garbage)
