"""Incremental-write semantics (SURVEY.md §2.9 T1–T3, §2.1 S15):
idempotent MERGE upsert and per-partition backfill over a parquet lake.

The reference's incremental contract: daily mode re-fetches only rows
with ``updated_time`` above a cutoff (reference
src/main_extractor.py:42-51,358) and re-writes whole dated folders per
backfill day (reference src/main_extractor.py:438-508) — re-running a
day must be idempotent. On Delta these are ``MERGE INTO`` and
``replaceWhere``; this container has no Delta jars, so the same
contracts are carried by an explicit bucketed + versioned layout:

- ``merge_upsert`` = **bucket-scoped MERGE**. The table lives as
  hash-bucket directories (``_mb=N``, N = pmod(xxhash64(key))) under a
  version directory, with a ``_CURRENT`` pointer file naming the live
  version. A merge reads ONLY the buckets that contain update keys
  (partition pruning on ``_mb``), last-wins-dedupes current ∪ updates
  within those buckets, writes them to a NEW version directory,
  hardlinks every untouched bucket across (O(1) per file — no data
  copied, bytes shared with the previous version), and atomically
  repoints ``_CURRENT`` (``os.replace``). Semantics = ``MERGE INTO t
  USING u ON t.id = u.id WHEN MATCHED UPDATE WHEN NOT MATCHED
  INSERT`` with a deterministic recency rule (SURVEY §7 risk register:
  Spark needs an explicit tiebreak where the reference relied on dict
  overwrite order). Cost is O(affected buckets), not O(table) — the
  Delta/Iceberg cost model — and readers resolve the pointer, so they
  see strictly old-version-or-new-version, never a partial or missing
  table. The newest ``RETAIN_VERSIONS`` versions are retained (for
  in-flight readers and ``read_version`` time travel) and everything
  older is GC'd — the snapshot-retention window every real lake tunes
  (Delta ``VERSION AS OF`` + ``VACUUM``); an ordered ``_VERSIONS``
  log records publish order so "N back" is well-defined even when a
  crashed merge leaves an orphaned directory.
- ``read_merged`` = the pointer-resolving reader (a plain partitioned
  lake without a pointer reads as plain parquet).
- ``backfill_partitions`` = dynamic partition overwrite — only the
  partitions present in the incoming frame are replaced, everything
  else untouched: exactly ``replaceWhere`` for the written keys.

**Concurrent writers** (a 100 TB lake has streaming + backfill writers
by construction) are handled with optimistic concurrency, the Delta
commit protocol's shape: every merge records the version it computed
FROM, and the publish — serialized by a per-table commit lock —
CAS-checks ``_CURRENT`` against that base before flipping the pointer.
A writer that lost the race gets ``ConcurrentWriteError`` and re-runs
its merge off the new current (automatic, ``MERGE_MAX_ATTEMPTS``), so
both merges land and neither is silently discarded. The lock is a
host-local kernel lock (``fcntl.flock`` on a persistent per-table
file — crashed holders release automatically, so no break path
exists; valid here because this layout targets a host-local
filesystem); on an object store the same CAS is
the store's conditional-put on the log object. Two conscious
trade-offs of the flock design: (1) the lock file is world-writable
(0o666) so a table shared across OS users works — which also means
any local user can hold the lock and stall that table's commits (a
local DoS, acceptable on single-tenant hosts; multi-tenant
deployments should use a ``ConditionalStore`` backend, where no lock
exists to hold); (2) exclusion assumes nothing unlinks/replaces the
lock file — no code in this release does, but mixed-version
deployments (an old release's unlink-on-release) or out-of-band
tooling can, so the commit re-verifies the held inode at publish
time and fails retryably rather than writing without exclusion. GC distinguishes
logged directories (safe to remove immediately — log appends happen
only inside the critical section) from never-logged ones, which might
be a concurrent writer's merge awaiting publish and are only reclaimed
past ``ORPHAN_GRACE_SECONDS``.

Scale notes: the MERGE shuffle is one hash partition by bucket over
the AFFECTED buckets only — the last-wins window dedupes inside it and
the bucketed write reuses it, so neither adds an exchange. Reads and
merges take the schema from the version's ``_SCHEMA.json``, never from
parquet footers, so building a read submits no Spark job.
``n_buckets`` should scale with table size (buckets ≈ table_bytes /
target_rewrite_bytes) so a daily merge touching k keys rewrites
~k/n_buckets of the table.
A MERGE into a directory that holds data but no ``_CURRENT`` pointer
raises ``ValueError``: a directory without a log is not a table, and
turning one into a table is an explicit re-write into a new path.
"""

from __future__ import annotations

import fcntl
import hashlib
import json
import os
import shutil
import socket
import time
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructType

from ad_data_lake_spark.commit_protocol import (
    COMMIT_KEY,
    CommitState,
    ConcurrentWriteError,
    PreconditionFailed,
    cas_publish,
)
from ad_data_lake_spark.operators.windows import last_wins_dedupe

N_MERGE_BUCKETS = 8
# target rewrite granularity: one bucket ≈ this many (pre-compression)
# bytes, so a merge touching one key rewrites ~256 MB, not the table
MERGE_BUCKET_TARGET_BYTES = 256 << 20
# versions kept on disk (current + RETAIN_VERSIONS-1 priors). The
# reference keeps EVERY dated snapshot folder (src/main_extractor.py:363);
# a real lake bounds that with a retention window — this is that knob.
RETAIN_VERSIONS = 3
_MAX_MERGE_BUCKETS = 1 << 16
_BUCKET = "_mb"
_PTR = "_CURRENT"
_NB = "_BUCKETS"
_LOG = "_VERSIONS"
_SCHEMA_FILE = "_SCHEMA.json"
_LOCK = "_COMMIT.lock"
# Optimistic-concurrency knobs. The commit lock is kernel-owned
# (flock), so crashed holders release automatically and no staleness
# knob exists. The orphan grace window protects a CONCURRENT writer's
# not-yet-published version directory (written before it reaches the
# commit lock) from being GC'd as a crashed merge's leftover:
# never-logged v-* dirs are only removed once older than the grace
# window. Logged-but-unpointed tails carry no such risk (the log is
# only appended inside the commit critical section, so a logged
# orphan's writer is dead by construction) and GC immediately.
ORPHAN_GRACE_SECONDS = 600.0
MERGE_MAX_ATTEMPTS = 5
_UNSET = object()


# ConcurrentWriteError is defined by the store-agnostic protocol
# module and re-exported here (its historical home) — the file-backed
# table and an object-store table raise the SAME class.


def _parse_lock_token(raw: str) -> tuple[str, int]:
    """(host, pid) from a ``host:pid:uuid`` lock token; ('', 0) for
    anything unparseable. Diagnostic only — the flock-based lock never
    makes control-flow decisions from file content."""
    parts = raw.split(":")
    if len(parts) != 3:
        return "", 0
    try:
        return parts[0], int(parts[1])
    except ValueError:
        return "", 0


class _HeldLock:
    """Handle yielded by :func:`_commit_lock`: carries the held fd so
    critical-section code can re-verify, at commit time, that the path
    still names the inode it locked. The design invariant is that
    nothing ever unlinks or replaces the lock file — but that invariant
    is held by THIS release's code, not by the kernel: a process still
    running an older release (whose release path unlinked the lock) or
    out-of-band tooling can replace the file mid-hold, after the
    acquisition-time inode check passed, and the next acquirer would
    then lock a fresh inode and run concurrently. ``verify`` turns that
    silent exclusion loss into a retryable precondition failure."""

    def __init__(self, fd: int, lock_path: str):
        self._fd = fd
        self._lock_path = lock_path

    def verify(self) -> None:
        try:
            ok = os.stat(self._lock_path).st_ino == os.fstat(self._fd).st_ino
        except FileNotFoundError:
            ok = False
        if not ok:
            raise PreconditionFailed(
                f"{self._lock_path}: lock file was replaced or unlinked "
                "while held — exclusion may be lost; abandoning this "
                "commit attempt (retry re-acquires on the new inode)"
            )


@contextmanager
def _commit_lock(target_path: str, timeout: float = 30.0):
    """Host-local mutual exclusion for the commit critical section
    (CAS check + log append + pointer flip), via ``fcntl.flock`` on a
    persistent per-table lock file. Yields a :class:`_HeldLock` whose
    ``verify()`` re-checks, at commit time, that the locked inode is
    still the one the path names (see that class for the mixed-version
    / out-of-band-tooling hazard it defends against; no code in THIS
    release ever unlinks the file).

    The kernel owns the lock, which is what makes this correct with NO
    break path at all (Delta's commit protocol has none either):

    - **crash safety**: a holder's death closes its fd and the kernel
      releases the lock — there is no such thing as a stale lock, so
      there is no staleness judgment, and no judgment means no
      judge-then-break TOCTOU. (The previous O_EXCL-file design broke
      'stale' locks by path operations; a path rename/unlink cannot be
      conditioned on WHICH lock is present, so under churn a breaker
      could claim a FRESH holder's lock — caught by the 4-process churn
      test losing a counter increment, the classic lost update.)
    - **threads and processes alike**: each acquisition opens its own
      file description, and flock serializes per description, so two
      threads of one process exclude each other exactly like two
      processes do.
    - **host-local by design**: this adapter targets a host-local
      filesystem (module docstring); flock's cross-host behavior on
      network filesystems is mount-dependent, which is one more reason
      a multi-host lake should hand ``cas_publish`` an object-store
      ``ConditionalStore`` (server-side conditional-put, no locks
      anywhere) instead of sharing this directory.

    The lock FILE persists (release closes the fd but never unlinks),
    so every acquirer locks the same inode; the post-acquire inode
    check below defends against out-of-band deletion of the lock file
    (if the path was replaced while we waited, locking the orphaned
    old inode excludes nobody — reopen and retry). The holder token
    written into the file is diagnostic only — it names the current
    holder in timeout errors; no control flow reads it."""
    lock_path = os.path.join(target_path, _LOCK)
    token = f"{socket.gethostname()}:{os.getpid()}:{uuid.uuid4().hex}"
    deadline = time.monotonic() + timeout
    while True:
        # world-writable lock file: it persists across writers, and a
        # table shared by several OS users must let each open it for
        # writing (flock itself ignores open mode; write access is
        # only for the diagnostic holder stamp). If another user's
        # umask already made it unwritable to us, fall back to a
        # read-only description — locking still works, stamping skips.
        can_stamp = True
        try:
            fd = os.open(lock_path, os.O_CREAT | os.O_RDWR, 0o666)
        except PermissionError:
            fd = os.open(lock_path, os.O_RDONLY)
            can_stamp = False
        acquired = False
        try:
            while True:
                try:
                    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                    break
                except (BlockingIOError, PermissionError):
                    if time.monotonic() > deadline:
                        try:
                            with open(lock_path) as f:
                                held = f.read().strip()
                        except OSError:
                            held = "?"
                        host, pid = _parse_lock_token(held)
                        who = f"{host} pid {pid}" if pid else held
                        raise TimeoutError(
                            f"{target_path}: commit lock held by {who!r} "
                            f"for longer than {timeout}s"
                        )
                    time.sleep(0.02)
            try:
                acquired = os.stat(lock_path).st_ino == os.fstat(fd).st_ino
            except FileNotFoundError:
                acquired = False  # path replaced/unlinked while we waited
        finally:
            if not acquired:
                os.close(fd)
        if acquired:
            break
    try:
        if can_stamp:
            try:
                os.fchmod(fd, 0o666)  # undo a restrictive creation umask
            except OSError:
                pass  # not the owner: someone else already created it
            os.ftruncate(fd, 0)
            os.write(fd, f"{token}\n".encode())
        yield _HeldLock(fd, lock_path)
    finally:
        os.close(fd)  # closes the description -> kernel releases the lock


def buckets_for_bytes(
    nbytes: int,
    target_bytes: int = MERGE_BUCKET_TARGET_BYTES,
    min_buckets: int = N_MERGE_BUCKETS,
) -> int:
    """Bucket count for a table of ``nbytes``: enough buckets that each
    holds ≈ ``target_bytes``, rounded UP to a power of two (stable
    doubling as tables grow), floored at the fixture default and capped
    at 2^16 (a 16 PB table at the default target — past that, raise
    ``target_bytes`` rather than multiplying directories)."""
    if nbytes <= 0:
        return min_buckets
    want = -(-nbytes // target_bytes)
    return min(_MAX_MERGE_BUCKETS, max(min_buckets, 1 << (want - 1).bit_length()))


def _estimated_plan_bytes(df: DataFrame) -> int:
    """Catalyst's sizeInBytes for the frame — file-size-derived for
    scans, a (possibly inflated) estimate otherwise. Inflation only
    OVERSIZES the bucket count, which costs directories, not
    correctness; the power-of-two rounding keeps it tame."""
    try:
        return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except Exception:
        return 0


def _stored_buckets(target_path: str) -> int | None:
    try:
        with open(os.path.join(target_path, _NB)) as f:
            return int(f.read().strip())
    except (OSError, ValueError):
        return None


def _bucket_expr(key: str, n_buckets: int):
    """Deterministic bucket id for a merge key. Cast-to-string first so
    the bucket of a key never depends on its physical type; xxhash64 is
    stable across sessions/versions (recomputes agree at any time)."""
    return F.pmod(F.xxhash64(F.col(key).cast("string")), F.lit(n_buckets)).cast("int")


def _current_version(target_path: str) -> str | None:
    try:
        with open(os.path.join(target_path, _PTR)) as f:
            return f.read().strip() or None
    except FileNotFoundError:
        return None


def _version_history(target_path: str) -> list[str]:
    """Ordered publish history (oldest first) from the ``_VERSIONS``
    log. A pre-log (legacy) table reconstructs a best-effort history
    from the directory listing — under the old 1-deep retention at
    most one non-current dir exists, so the order is unambiguous."""
    try:
        with open(os.path.join(target_path, _LOG)) as f:
            return [line.strip() for line in f if line.strip()]
    except FileNotFoundError:
        current = _current_version(target_path)
        if current is None:
            return []
        priors = sorted(
            d
            for d in os.listdir(target_path)
            if d.startswith("v-") and d != current
        )
        return priors + [current]


def _published_history(target_path: str, current: str | None) -> list[str]:
    """The version log truncated at the ``_CURRENT`` pointer. A merge
    that crashed between the log append and the pointer flip leaves a
    never-published tail in ``_VERSIONS``; every consumer that reasons
    about "prior versions" (time travel, vacuum, the next publish)
    must ignore that tail — it was never current, so it is not a
    readable prior, just an orphan directory awaiting GC. With NO
    pointer at all (the FIRST commit crashed inside that window) the
    entire log is such a tail: nothing was ever readable, so the
    published history is empty (mirrors ``CommitState.published``)."""
    if current is None:
        return []
    history = _version_history(target_path)
    if current in history:
        history = history[: history.index(current) + 1]
    return history


def _write_atomic(target_path: str, name: str, content: str) -> None:
    tmp = os.path.join(target_path, f".{name}.tmp-{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as f:
        f.write(content)
    os.replace(tmp, os.path.join(target_path, name))


def _save_schema(version_dir: str, schema: StructType) -> None:
    """Persist the logical schema next to the data. It is the version's
    schema of record (see :func:`_load_schema`), which also lets an
    all-tombstone version (zero part files) read back as an EMPTY
    table with the right columns."""
    os.makedirs(version_dir, exist_ok=True)
    with open(os.path.join(version_dir, _SCHEMA_FILE), "w") as f:
        f.write(schema.json())


def _load_schema(version_dir: str) -> StructType:
    """The version's table schema, with the bucket column appended.
    ``_SCHEMA.json`` is the schema of record (Delta keeps it in the log
    for the same reason): readers pass it to ``spark.read.schema`` and
    never infer it from parquet footers, which costs a Spark job per
    read when footers are merged and misses evolved columns when they
    are not."""
    with open(os.path.join(version_dir, _SCHEMA_FILE)) as f:
        schema = StructType.fromJson(json.load(f))
    return schema.add(_BUCKET, IntegerType())


def _read_version_dir(spark: SparkSession, version_dir: str) -> DataFrame:
    """Read one version directory with its persisted schema. After a
    schema-evolving merge the hardlinked untouched buckets still hold
    the old column set; reading them with the evolved schema surfaces
    the new columns as nulls there (exactly Delta's read behavior for
    files predating an ADD COLUMN). A version with no bucket
    directories (every key tombstoned) reads as an empty frame with
    the same columns: the schema needs no data file."""
    schema = _load_schema(version_dir)
    return spark.read.schema(schema).parquet(version_dir).drop(_BUCKET)


def read_merged(spark: SparkSession, target_path: str) -> DataFrame:
    """Resolve the ``_CURRENT`` pointer and read the live version.
    Readers never observe a mid-merge state: the pointer flips
    atomically (``os.replace``) from one complete version directory to
    another. A plain partitioned lake (no pointer) reads as plain
    parquet."""
    version = _current_version(target_path)
    if version is None:
        return spark.read.parquet(target_path)
    return _read_version_dir(spark, os.path.join(target_path, version))


def _link_tree(src: str, dst: str) -> None:
    """Hardlink a bucket directory into the new version (fall back to
    copy on filesystems without link support). Linked files share
    bytes with — and are trivially byte-identical to — the previous
    version's files."""
    for root, _dirs, files in os.walk(src):
        rel = os.path.relpath(root, src)
        tgt = dst if rel == "." else os.path.join(dst, rel)
        os.makedirs(tgt, exist_ok=True)
        for f in files:
            try:
                os.link(os.path.join(root, f), os.path.join(tgt, f))
            except OSError:
                shutil.copy2(os.path.join(root, f), os.path.join(tgt, f))


def _doomed_versions(target_path: str, keep: set[str], logged: set[str]) -> list[str]:
    """Version directories outside the retention set, eligible for
    removal. Two classes, per the concurrency contract:

    - **logged** dirs (in ``_VERSIONS`` at any point — superseded
      published versions and crashed merges' unpointed tails) are
      eligible immediately: log appends happen only inside the commit
      critical section, so a logged-but-unretained dir's writer is
      finished or dead, never in flight;
    - **never-logged** dirs are either a crashed merge that died before
      commit OR a concurrent writer's version still awaiting its
      publish — indistinguishable by name, so they are eligible only
      once older than ``ORPHAN_GRACE_SECONDS`` (a commit follows its
      write within seconds; ten minutes is a dead writer).

    Selection uses the kept/logged sets the commit itself returned (a
    consistent snapshot of the log/pointer state at commit time); the
    actual ``rmtree`` runs after the lock is released and re-checks
    the LIVE log first — see :func:`_remove_versions`. Deleting
    outside the lock is safe because the pointer has already flipped,
    a doomed dir can never re-enter any later publish's retention set
    (the log only ever appends NEW version names), and concurrent
    removers of the same dir are idempotent (``ignore_errors``).
    Keeping rmtree out of the critical section keeps commits at a few
    milliseconds, so a publish never stalls waiters behind a large
    directory removal, no matter how big the superseded versions are."""
    doomed = []
    now = time.time()
    for d in os.listdir(target_path):
        if not d.startswith("v-") or d in keep:
            continue
        if d not in logged:
            try:
                age = now - os.stat(os.path.join(target_path, d)).st_mtime
            except OSError:
                continue
            if age < ORPHAN_GRACE_SECONDS:
                continue
        doomed.append(d)
    return sorted(doomed)


def _remove_versions(target_path: str, doomed: list[str]) -> list[str]:
    """rmtree the doomed version dirs — call AFTER the commit lock is
    released (see :func:`_doomed_versions` for why that is safe).

    The live log/pointer is re-read PER DIRECTORY, immediately before
    its rmtree, and anything it names is spared: the doomed list was
    selected from a snapshot, and a publish can land between selection
    and removal. Without this recheck, a remover stalled past the
    orphan grace window could delete a directory that a concurrent
    writer published as CURRENT in the meantime (version names are
    never reused — the log only ever appends fresh uuid-suffixed
    names — so a spared name can never become doomed-but-live again).
    Re-reading per directory (two small file reads each; doomed lists
    are at most a handful of names) narrows the residual exposure from
    the full multi-directory removal pass to the instants between one
    recheck and its own rmtree — a writer stalled past the grace
    window publishing its never-logged version in exactly that sliver
    is the one case left, and the grace window (minutes, vs a
    write-to-publish gap of seconds) is the real defense against it,
    same as before deletion moved out of the lock."""
    removed = []
    for d in doomed:
        live = set(_version_history(target_path))
        current = _current_version(target_path)
        if current is not None:
            live.add(current)
        if d in live:
            continue
        shutil.rmtree(os.path.join(target_path, d), ignore_errors=True)
        removed.append(d)
    return removed


class _FileCommitStore:
    """:class:`~ad_data_lake_spark.commit_protocol.ConditionalStore`
    over the table directory's ``_CURRENT``/``_VERSIONS``/``_BUCKETS``
    files. ``get`` composes them into the protocol's single commit
    object (etag = content hash); ``put_if`` re-composes UNDER the
    per-table commit lock, verifies the precondition, and decomposes
    the new state back to the files in the crash-safe order (buckets →
    log → pointer). The lock is this filesystem's stand-in for the
    conditional-put a real object store provides server-side — the
    publish logic above this adapter (``cas_publish``) is identical
    for both, which is the point: swapping the backend swaps the
    durability story, not the protocol.

    A get() can run concurrently with a put_if's decomposed writes
    only by skipping the lock — it doesn't: both take the lock, so
    composed reads are never torn and etags always correspond to a
    real committed state."""

    def __init__(self, target_path: str):
        self.target_path = target_path

    def _compose(self) -> tuple[bytes, str] | None:
        current = _current_version(self.target_path)
        versions = _version_history(self.target_path)
        if current is None and not versions:
            return None  # fresh table: no commit object yet
        state = CommitState(
            tuple(versions), current, _stored_buckets(self.target_path)
        )
        data = state.to_bytes()
        return data, hashlib.sha256(data).hexdigest()

    def get(self, key: str) -> tuple[bytes, str] | None:
        assert key == COMMIT_KEY
        with _commit_lock(self.target_path):
            return self._compose()

    def put_if(
        self,
        key: str,
        data: bytes,
        *,
        if_match: str | None = None,
        if_none_match: bool = False,
    ) -> str:
        assert key == COMMIT_KEY
        with _commit_lock(self.target_path) as held:
            cur = self._compose()
            if if_none_match and cur is not None:
                raise PreconditionFailed(f"{self.target_path}: already committed")
            if if_match is not None and (cur is None or cur[1] != if_match):
                raise PreconditionFailed(f"{self.target_path}: etag mismatch")
            # commit-time inode re-verify: the acquisition check covers
            # the WAIT; this covers the HOLD (out-of-band replacement
            # of the lock file would silently void exclusion — fail the
            # publish as a retryable precondition instead of writing)
            held.verify()
            _project_state(self.target_path, CommitState.from_bytes(data))
            return hashlib.sha256(data).hexdigest()


def _project_state(target_path: str, state: "CommitState") -> None:
    """Decompose a CommitState to the table's file layout (_BUCKETS
    sidecar -> _VERSIONS log -> _CURRENT pointer, in that crash-safe
    order) — the ONE projection writer every commit backend shares
    (file, sqlite, http), so the layout can never diverge per backend.
    Caller provides whatever serialization its arbiter requires."""
    if (
        state.n_buckets is not None
        and _stored_buckets(target_path) != state.n_buckets
    ):
        _write_atomic(target_path, _NB, str(state.n_buckets))
    _write_atomic(target_path, _LOG, "\n".join(state.versions) + "\n")
    if state.current is not None:
        _write_atomic(target_path, _PTR, state.current)


def _commit_store(target_path: str):
    """The commit arbiter for this table: the sqlite-backed store when
    the table carries its marker database (``_commit.sqlite``, planted
    at table creation — see ``sqlite_store.SqliteTableCommitStore``),
    the HTTP/S3-wire store when it carries the ``_commit.http`` marker
    (see ``http_store.HttpTableCommitStore``), else the flock-emulated
    file store. Per-table and layout-bound: the marker travels with the
    directory, so every writer on every process picks the same arbiter
    with no configuration to drift."""
    from ad_data_lake_spark import http_store, sqlite_store

    if os.path.exists(os.path.join(target_path, sqlite_store.TABLE_COMMIT_DB)):
        return sqlite_store.SqliteTableCommitStore(target_path)
    if os.path.exists(os.path.join(target_path, http_store.HTTP_COMMIT_MARKER)):
        return http_store.HttpTableCommitStore(target_path)
    return _FileCommitStore(target_path)


def _publish(
    target_path: str,
    new_version: str,
    retain: int = RETAIN_VERSIONS,
    base_version: object = _UNSET,
    n_buckets: int | None = None,
) -> None:
    """Commit ``new_version``: append it to the ordered version log,
    atomically repoint ``_CURRENT``, and GC versions past the retention
    window (the newest ``retain`` versions — current plus ``retain-1``
    priors — stay readable via ``read_version``).

    **Optimistic concurrency (the Delta commit protocol's CAS):** the
    commit runs through the store-agnostic protocol
    (:func:`~ad_data_lake_spark.commit_protocol.cas_publish`) against
    this table's :class:`_FileCommitStore`. When ``base_version`` is
    given, the publish first re-checks that the current pointer still
    equals the version this merge was computed FROM — if another
    writer published in between, committing would silently discard
    that writer's merge (lost update), so this raises
    :class:`ConcurrentWriteError` instead and the caller recomputes
    off the new current. Two concurrent merges therefore serialize:
    one commits, the other retries — no version is ever silently
    lost. The same publish code runs unchanged over an object store's
    conditional-put (see commit_protocol's backend mapping); only the
    store adapter differs.

    Write order inside the adapter's critical section is
    buckets-sidecar → log → pointer, so a crash at any boundary
    leaves the table consistent: an unpointed log tail is just an
    orphaned directory a later publish GCs, never a dangling pointer.
    The history this publish extends is truncated at the CURRENT
    pointer first, so a prior crash's never-published tail is dropped
    from the log (and its directory GC'd below) instead of surviving
    as a readable 'prior' ahead of the version it never superseded.
    The ``rmtree`` of doomed versions runs AFTER the commit — it is
    the only unbounded-cost step, and keeping it out of the critical
    section keeps commits at a few metadata writes (so waiters are
    never starved behind a large GC)."""
    result = cas_publish(
        _commit_store(target_path),
        new_version,
        base_version=base_version,
        retain=retain,
        n_buckets=n_buckets,
    )
    doomed = _doomed_versions(
        target_path, set(result.kept), set(result.logged)
    )
    _remove_versions(target_path, doomed)


def _apply_bucketed(
    spark: SparkSession,
    target_path: str,
    batch: DataFrame,
    key: str,
    order_col: str,
    tiebreak: str,
    n_buckets: int | None,
    delete_col: str | None,
) -> None:
    """Shared bucket-scoped write core for MERGE and CDC-apply, with
    optimistic-concurrency retry: each attempt computes the merged
    state from the version ``_CURRENT`` points at, and the publish
    CAS-checks that the pointer hasn't advanced since (see
    :func:`_publish`). A lost race raises ``ConcurrentWriteError``
    internally and the attempt re-runs off the new current — the batch
    is re-applied, which the last-wins recency rule makes correct and
    idempotent — so two concurrent merges both land, serialized."""
    for attempt in range(MERGE_MAX_ATTEMPTS):
        try:
            return _apply_bucketed_once(
                spark, target_path, batch, key, order_col, tiebreak,
                n_buckets, delete_col,
            )
        except ConcurrentWriteError:
            if attempt == MERGE_MAX_ATTEMPTS - 1:
                raise


def _apply_bucketed_once(
    spark: SparkSession,
    target_path: str,
    batch: DataFrame,
    key: str,
    order_col: str,
    tiebreak: str,
    n_buckets: int | None,
    delete_col: str | None,
) -> None:
    """One merge attempt: resolve the bucket count (stored layout wins;
    first write sizes from the batch), last-wins-dedupe current ∪ batch
    within the TOUCHED buckets only, optionally drop tombstoned keys
    (``delete_col``), write a new version, hardlink untouched buckets,
    publish (CAS against the base version read here)."""

    from ad_data_lake_spark.http_store import HTTP_COMMIT_MARKER
    from ad_data_lake_spark.sqlite_store import TABLE_COMMIT_DB

    prev_version = _current_version(target_path)
    has_foreign_content = prev_version is None and os.path.isdir(target_path) and any(
        # commit metadata (the lock file, a pre-planted sqlite or http
        # arbiter marker and their sidecars) is NOT table data — a
        # fresh versioned table whose arbiter was planted before its
        # first merge must take the versioned path below, not the
        # rejection
        not (
            d == _LOCK
            or d.startswith(TABLE_COMMIT_DB)
            or d.startswith(HTTP_COMMIT_MARKER)
        )
        for d in os.listdir(target_path)
    )
    if has_foreign_content:
        # a directory without a _CURRENT pointer is not a table: turning
        # it into one is an explicit re-write (Delta's CONVERT TO DELTA),
        # never a silent second write path
        raise ValueError(
            f"{target_path} is not a versioned (bucketed) table; convert it "
            f"into a new path with merge_upsert(spark, new_path, "
            f"spark.read.parquet({target_path!r}), ...)"
        )

    stored = _stored_buckets(target_path)
    if prev_version is not None:
        # layout-bound: a pre-knob table stored nothing and was always
        # written with the fixture default
        n_buckets = stored if stored is not None else N_MERGE_BUCKETS
    elif n_buckets is None:
        n_buckets = buckets_for_bytes(_estimated_plan_bytes(batch))

    batch_b = batch.withColumn(_BUCKET, _bucket_expr(key, n_buckets))
    new_version = f"v-{uuid.uuid4().hex[:8]}"
    new_dir = os.path.join(target_path, new_version)

    if prev_version is None:
        # first write: every bucket materializes
        source = batch_b
    else:
        cur_dir = os.path.join(target_path, prev_version)
        # the touched-bucket set is bounded by n_buckets, never by data
        # volume — a cheap partial-aggregate job over the (small)
        # batch side, collected so the planner can PRUNE the target
        # scan to exactly those _mb= directories
        touched = {r[0] for r in batch_b.select(_BUCKET).distinct().collect()}
        touched_dirs = [
            os.path.join(cur_dir, f"{_BUCKET}={b}")
            for b in sorted(touched)
            if os.path.isdir(os.path.join(cur_dir, f"{_BUCKET}={b}"))
        ]
        # the persisted schema is the table's schema in every branch:
        # after a schema-evolving merge the version holds mixed footers
        # (rewritten buckets carry evolved columns, hardlinked ones
        # don't), and the new version's _SCHEMA.json must keep every
        # column the hardlinked buckets may still hold
        schema = _load_schema(cur_dir)
        if touched_dirs:
            affected = (
                spark.read.schema(schema)
                .option("basePath", cur_dir)
                .parquet(*touched_dirs)
            )
        else:
            affected = spark.createDataFrame([], schema)
        if delete_col is not None:
            affected = affected.withColumn(delete_col, F.lit(False))
        # allowMissingColumns = schema evolution: the batch may ADD
        # columns (old rows read as null) and rewritten buckets may
        # carry columns a given batch doesn't know about
        source = affected.unionByName(batch_b, allowMissingColumns=True)
    # ONE exchange: hash by bucket, then dedupe within it. _mb is a
    # function of the key, so every key's rows already share a
    # partition; the window's sort orders rows by _mb first, which is
    # also the order partitionBy(_mb) writes in, so the write adds
    # neither a shuffle nor a sort
    deduped = last_wins_dedupe(
        source.repartition(_BUCKET), [_BUCKET, key], order_col, tiebreak
    )
    if delete_col is not None:
        deduped = deduped.where(~F.col(delete_col)).drop(delete_col)
    deduped.write.partitionBy(_BUCKET).parquet(new_dir)
    if prev_version is not None:
        for d in os.listdir(cur_dir):
            if d.startswith(f"{_BUCKET}=") and int(d.split("=", 1)[1]) not in touched:
                _link_tree(os.path.join(cur_dir, d), os.path.join(new_dir, d))
    _save_schema(new_dir, deduped.drop(_BUCKET).schema)
    # the _NB sidecar is written INSIDE the commit critical section
    # (after the CAS passes) so a losing concurrent first-write can
    # never stamp its bucket count over the winner's layout
    try:
        _publish(
            target_path, new_version, base_version=prev_version, n_buckets=n_buckets
        )
    except ConcurrentWriteError:
        # this attempt's version dir is ours alone — reclaim it now
        # rather than leaving it for the age-gated orphan GC
        shutil.rmtree(new_dir, ignore_errors=True)
        raise


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    key: str,
    order_col: str,
    tiebreak: str,
    n_buckets: int | None = None,
) -> None:
    """Idempotent bucket-scoped upsert: rows in ``updates`` win over
    the current table when newer by (order_col, tiebreak); unseen keys
    insert. Applying the same updates twice yields an identical table.
    Only buckets containing update keys are rewritten; every other
    bucket's files carry over by hardlink, untouched.

    ``n_buckets=None`` (default) resolves the bucket count: an existing
    table's stored count always wins (the bucket function is part of
    the layout — changing it would scatter keys across old buckets), a
    first write sizes from the incoming frame via ``buckets_for_bytes``
    so the count GROWS with data instead of pinning the fixture's 8.
    The resolved count is persisted next to ``_CURRENT``.

    A ``target_path`` that holds data but no ``_CURRENT`` pointer (a
    plain parquet directory) raises ``ValueError`` and is left as it
    is; convert it by merging its rows into a new path."""
    _apply_bucketed(
        spark, target_path, updates, key, order_col, tiebreak, n_buckets, None
    )


def backfill_partitions(
    df_slice: DataFrame,
    target_path: str,
    partition_cols: tuple[str, ...] = ("snapshot_date",),
) -> None:
    """T2: per-day (per-partition) backfill. Dynamic partition
    overwrite replaces only the partitions present in ``df_slice`` —
    the ``replaceWhere``-style idempotent re-run of one day. The
    overwrite mode is passed as a writer option so the session conf is
    never mutated."""
    (
        df_slice.repartition(*partition_cols)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(target_path)
    )


DELETE_COL = "_deleted"


def cdc_apply(
    spark: SparkSession,
    target_path: str,
    changes: DataFrame,
    key: str,
    order_col: str,
    tiebreak: str,
    n_buckets: int | None = None,
    delete_col: str = DELETE_COL,
) -> None:
    """Apply a CDC change stream (upserts + DELETE tombstones) to the
    bucketed table: per key the LATEST change wins (same (order_col,
    tiebreak) recency rule as ``merge_upsert``); if that winner is a
    tombstone the key is REMOVED from the table, otherwise it upserts.
    Idempotent like MERGE — replaying the same change batch leaves the
    table byte-identical — which is what makes an at-least-once CDC
    feed (Debezium-style) safe to apply.

    Built ON the bucket machinery, not beside it (``_apply_bucketed``):
    current rows enter the dedupe carrying ``delete_col=false``, so one
    last-wins window + one tombstone filter computes the final state of
    the AFFECTED buckets only; untouched buckets hardlink over exactly
    as in ``merge_upsert``. A tombstone for an absent key is a no-op
    (the filter drops it), matching MERGE's WHEN-NOT-MATCHED-AND-DELETE
    semantics."""
    _apply_bucketed(
        spark, target_path, changes, key, order_col, tiebreak, n_buckets, delete_col
    )


def read_version(
    spark: SparkSession, target_path: str, steps_back: int = 0
) -> DataFrame:
    """Time travel: read the table as of ``steps_back`` merges ago
    (0 = current) — ``VERSION AS OF`` on the versioned layout. The
    version is resolved from the ordered ``_VERSIONS`` log relative to
    the ``_CURRENT`` pointer (never from directory-listing order, which
    a crashed merge's orphan dir would scramble), so "previous" is
    always the version the last publish actually superseded. Depth is
    bounded by the ``RETAIN_VERSIONS`` retention window; past it the
    version is GC'd and this raises — the reference instead retains
    every dated snapshot folder forever (src/main_extractor.py:363),
    which is this layout with retention = ∞."""
    current = _current_version(target_path)
    if current is None:
        raise ValueError(f"{target_path} is not a versioned (bucketed) table")
    if steps_back < 0:
        raise ValueError(f"steps_back must be >= 0, got {steps_back}")
    if steps_back == 0:
        return _read_version_dir(spark, os.path.join(target_path, current))
    # truncated-at-current history: a crashed merge's unpointed log
    # tail is never resolvable as a prior version
    history = _published_history(target_path, current)
    try:
        idx = history.index(current) - steps_back
    except ValueError:
        raise ValueError(f"{target_path}: version log does not list {current}")
    if idx < 0:
        raise ValueError(
            f"{target_path} retains no version {steps_back} back "
            f"(history depth {history.index(current) + 1})"
        )
    vdir = os.path.join(target_path, history[idx])
    if not os.path.isdir(vdir):
        raise ValueError(f"{target_path}: version {history[idx]} was GC'd")
    return _read_version_dir(spark, vdir)


def read_previous(spark: SparkSession, target_path: str) -> DataFrame:
    """The table as of just before the last merge — the rollback/audit
    read; sugar for ``read_version(..., steps_back=1)``."""
    return read_version(spark, target_path, steps_back=1)


def vacuum(target_path: str, retain: int = 1) -> list[str]:
    """Explicit retention tightening — the ``VACUUM`` analog: keep only
    the newest ``retain`` versions (the current version is always
    kept), truncate the ``_VERSIONS`` log to match, delete the rest.
    Returns the removed version names. Complements the automatic
    per-publish window: a pipeline that just finished an audited
    backfill calls this to reclaim the space early instead of waiting
    ``RETAIN_VERSIONS`` more merges.

    The log rewrite and GC selection run under the commit lock (a
    concurrent publish CASes against the log); the directory removal
    itself runs after release (see :func:`_doomed_versions`).
    Never-logged version directories — possibly a concurrent writer's
    merge awaiting publish — are only removed past the orphan grace
    window; logged tails GC immediately."""
    store = _commit_store(target_path)
    for _ in range(MERGE_MAX_ATTEMPTS):
        got = store.get(COMMIT_KEY)
        if got is None:
            raise ValueError(f"{target_path} is not a versioned (bucketed) table")
        state = CommitState.from_bytes(got[0])
        if state.current is None:
            raise ValueError(f"{target_path} is not a versioned (bucketed) table")
        # Truncate at the pointer BEFORE applying the retention window:
        # a crashed merge's unpointed log tail must be GC'd as the
        # orphan it is, never retained ahead of current as a 'prior'.
        history = state.published()
        kept = history[-max(1, retain):]
        if state.current not in kept:
            kept = kept + [state.current]
        new_state = CommitState(tuple(kept), state.current, state.n_buckets)
        try:
            store.put_if(COMMIT_KEY, new_state.to_bytes(), if_match=got[1])
        except PreconditionFailed:
            continue  # a publish landed mid-vacuum: re-read, re-derive
        doomed = _doomed_versions(target_path, set(kept), set(state.versions))
        return _remove_versions(target_path, doomed)
    raise ConcurrentWriteError(
        f"{target_path}: vacuum lost {MERGE_MAX_ATTEMPTS} publish races"
    )


def lake_stats(target_path: str) -> dict:
    """Table-inspection utility (DESCRIBE DETAIL analog): version
    history, live-version file/byte/bucket counts, and how many bytes
    the live version SHARES with prior versions via hardlinks (the
    observable form of the O(affected-buckets) merge cost). Pure
    driver-side directory walk — no Spark job."""
    current = _current_version(target_path)
    if current is None:
        n_files = n_bytes = 0
        for root, _dirs, files in os.walk(target_path):
            for f in files:
                if f.endswith(".parquet"):
                    n_files += 1
                    n_bytes += os.path.getsize(os.path.join(root, f))
        return {
            "versioned": False,
            "n_files": n_files,
            "n_bytes": n_bytes,
        }
    history = _version_history(target_path)
    vdir = os.path.join(target_path, current)
    n_files = n_bytes = shared_bytes = 0
    buckets = set()
    for root, _dirs, files in os.walk(vdir):
        b = os.path.basename(root)
        if b.startswith(f"{_BUCKET}="):
            buckets.add(b)
        for f in files:
            if not f.endswith(".parquet"):
                continue
            st = os.stat(os.path.join(root, f))
            n_files += 1
            n_bytes += st.st_size
            if st.st_nlink > 1:  # hardlinked into other versions
                shared_bytes += st.st_size
    return {
        "versioned": True,
        "current_version": current,
        "n_versions": len(history),
        "version_history": history,
        "n_buckets": _stored_buckets(target_path),
        "n_bucket_dirs": len(buckets),
        "n_files": n_files,
        "n_bytes": n_bytes,
        "shared_bytes": shared_bytes,
    }
