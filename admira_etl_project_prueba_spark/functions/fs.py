"""Hadoop-FileSystem helpers for store maintenance ops.

Everything goes through the session's Hadoop FS (not ``os.path``) so the
same code path works for local directories and HDFS/S3A URIs — the
distinction matters exactly for the index/store maintenance ops that run
against a cluster filesystem at scale.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from pyspark.sql import SparkSession


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath, jvm


def path_exists(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` exists on the session's filesystem.

    Maintenance ops use this to distinguish GENUINELY ABSENT (legacy
    store, first run) from a FAILING READ (permissions, corrupt footer,
    transient IO).  A bare ``except Exception`` around a read conflates
    the two and silently skips validation in exactly the failure cases
    it exists for — only a confirmed-missing path may take the legacy
    branch; every other error must propagate.
    """
    fs, jpath, _ = _fs_and_path(spark, path)
    return bool(fs.exists(jpath))


def path_mtime(spark: SparkSession, path: str) -> int:
    """Modification time (ms since epoch) of ``path``, or -1 when absent —
    ONE metadata RPC, no data read.

    Used as a cache-invalidation key for store directories that are
    replaced by RENAME (:func:`commit_version`): the renamed-in version
    directory is a new filesystem object carrying its own mtime, so a
    changed value means a new version was committed since the cache was
    filled — including by a DIFFERENT process, which in-process
    invalidation can never see."""
    fs, jpath, _ = _fs_and_path(spark, path)
    if not fs.exists(jpath):
        return -1
    return int(fs.getFileStatus(jpath).getModificationTime())


def list_child_names(spark: SparkSession, path: str) -> list[str]:
    """Basenames of ``path``'s direct children (one listing RPC), or []
    when absent.  The Hadoop-FS replacement for ``os.listdir`` so store
    code that enumerates partition directories (``date=...``) works on
    HDFS/S3A URIs, not just the local filesystem."""
    fs, jpath, _ = _fs_and_path(spark, path)
    if not fs.exists(jpath):
        return []
    return [st.getPath().getName() for st in fs.listStatus(jpath)]


def dir_nonempty(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` exists and has at least one non-hidden child —
    the "store has been written" probe (`_SUCCESS`/`.crc` markers alone
    don't count as data)."""
    return any(
        not n.startswith(("_", ".")) for n in list_child_names(spark, path)
    )


def count_files(spark: SparkSession, path: str, suffix: str = ".parquet") -> int:
    """Recursive count of data files under ``path`` (compaction's
    before/after metric).  Uses the FileSystem's recursive iterator —
    one listing stream, no per-directory Python round trips."""
    fs, jpath, _ = _fs_and_path(spark, path)
    if not fs.exists(jpath):
        return 0
    it, n = fs.listFiles(jpath, True), 0
    while it.hasNext():
        if it.next().getPath().getName().endswith(suffix):
            n += 1
    return n


def is_file_not_found(exc: Exception) -> bool:
    """True when a Spark job died because a scanned file vanished
    mid-job — the signature of a dynamic-partition-overwrite replay
    deleting files a concurrent maintenance fold has pinned and is
    reading.  Folds over deterministic content retry on this (a fresh
    pin sees the replayed, identical partition); any other failure
    propagates."""
    s = str(exc)
    return (
        "FileNotFoundException" in s
        or "FILE_NOT_EXIST" in s
        or "PATH_NOT_FOUND" in s
        or "does not exist" in s
    )


def write_text(spark: SparkSession, path: str, text: str) -> None:
    """Write a small text file (manifests, sidecars) through the
    session's Hadoop FS — works on HDFS/S3A URIs where a local
    ``open()`` cannot.  Overwrites; driver-sized content only."""
    fs, jpath, _ = _fs_and_path(spark, path)
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def read_text(spark: SparkSession, path: str) -> str:
    """Read a small text file through the session's Hadoop FS (the
    :func:`write_text` counterpart)."""
    fs, jpath, jvm = _fs_and_path(spark, path)
    stream = fs.open(jpath)
    try:
        out = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, out, 65536, False)
        return bytes(out.toByteArray()).decode("utf-8")
    finally:
        stream.close()


# ---------------------------------------------------------------------------
# Versioned store layout (reader-side snapshot isolation)
# ---------------------------------------------------------------------------
#
# Every store rewrite commits a version.  Replacing a store in place (or
# by a rename pair) is atomic at best for NEW readers: a scan that LISTED
# files before the replacement can lose them mid-read (FileNotFound on
# the removed originals).  The versioned layout removes that window: the
# store root holds immutable version directories
#
#   root/
#     v00000001/   <- complete, never modified after commit
#     v00000002/   <- current (the highest committed name)
#
# and "current" is simply the HIGHEST committed version name.  A rewrite
# builds the next version in full under a temp name inside the root,
# then COMMITS it with one atomic rename to its final vNNNNNNNN name —
# the version is visible only when complete, so there is no torn-pointer
# state a mutable pointer file would need healing for (the directory
# listing IS the pointer, and rename makes flipping it atomic on both
# the local FS and HDFS).  Readers resolve the newest version once at
# scan start and keep reading that directory; a concurrent commit never
# touches it.  GC (same lease as the rewrite) keeps the newest ``keep``
# versions (default 2: current + previous), so a reader that resolved
# just before a flip still completes against the previous version; only
# a reader older than ``keep-1`` further flips can lose files — the
# documented grace window, tunable via ``keep``.

_VERSION_WIDTH = 8

#: GC depth when no per-store override is registered: current + previous,
#: the minimum that gives in-flight readers one flip of grace.
DEFAULT_GC_KEEP = 2

#: per-store GC-depth overrides (normalized root -> keep), consulted by
#: :func:`commit_version` when the caller passes ``keep=None``.  Process-
#: local BY DESIGN: the retention window is an operator knob of the job
#: that owns the store's maintenance lease, not store state — hot stores
#: with long-running readers register a deeper window once at startup
#: (``set_gc_keep(path, 3)``) and every commit in the process honors it,
#: without threading a parameter through all eight store writers.
_GC_KEEP: dict[str, int] = {}


def set_gc_keep(root: str, keep: int | None) -> None:
    """Register (or with ``None`` clear) a per-store GC depth: every
    subsequent :func:`commit_version` on ``root`` in this process keeps
    the newest ``keep`` versions instead of :data:`DEFAULT_GC_KEEP`.
    Readers older than ``keep-1`` flips can lose files — size it to the
    store's longest expected reader, floor 1 (current only)."""
    key = root.rstrip("/")
    if keep is None:
        _GC_KEEP.pop(key, None)
    else:
        _GC_KEEP[key] = max(1, int(keep))


def gc_keep(root: str) -> int:
    """The GC depth :func:`commit_version` will use for ``root``."""
    return _GC_KEEP.get(root.rstrip("/"), DEFAULT_GC_KEEP)


def _is_version_name(name: str) -> bool:
    return (
        len(name) == _VERSION_WIDTH + 1
        and name[0] == "v"
        and name[1:].isdigit()
    )


def list_versions(spark: SparkSession, root: str) -> list[str]:
    """Committed version names under ``root``, oldest first ([] when the
    root is absent or holds no versions yet)."""
    return sorted(
        n for n in list_child_names(spark, root) if _is_version_name(n)
    )


def latest_version(spark: SparkSession, root: str) -> str | None:
    """The current version name (highest committed), or None."""
    versions = list_versions(spark, root)
    return versions[-1] if versions else None


def version_scratch(root: str) -> str:
    """Scratch location for a store's next version payload — INSIDE the
    store root (commit is a same-directory rename, atomic on local FS
    and HDFS) but not version-named, so readers never resolve it."""
    import time as _time

    return f"{root.rstrip('/')}/__building.{_time.monotonic_ns()}"


def clean_version_scratch(spark: SparkSession, root: str) -> None:
    """Delete orphaned ``__building.*`` scratch dirs left by a writer
    that crashed before its commit rename.  CALLER HOLDS the store
    lease, so no live writer's scratch can be swept; committed versions
    are never touched.  Crash recovery for the versioned layout is JUST
    this sweep — an uncommitted scratch dir is invisible to readers."""
    fs, jroot, jvm = _fs_and_path(spark, root)
    for name in list_child_names(spark, root):
        if name.startswith("__building."):
            fs.delete(
                jvm.org.apache.hadoop.fs.Path(root.rstrip("/") + "/" + name),
                True,
            )


def resolve_store_root(
    spark: SparkSession, path: str, rebuild: str | None = None
) -> str:
    """The directory holding a store's CURRENT payload: the newest
    committed ``path/vNNNNNNNN``, resolved ONCE at scan start so the
    reader is snapshot-isolated from every later rewrite.  Every store
    reader and writer resolves through here.

    An absent store (or one whose first write has not committed yet:
    only ``__building.*`` scratch) resolves to ``path`` itself, so the
    store reads as not written.  A root holding payload but no version
    is a flat store from the old layout and raises ``ValueError``.  The
    fact, whole-payload and delta stores keep the flat layout byte for
    byte inside each version, so the error names that migration: move
    the root's children into ``path/v00000001``.  Index stores are
    derived data whose flat layout differed; they pass ``rebuild`` (the
    writer call), and the error says to delete the root and rebuild."""
    root = path.rstrip("/")
    v = latest_version(spark, root)
    if v is not None:
        return f"{root}/{v}"
    if dir_nonempty(spark, root):
        fix = (
            f"Delete it and rebuild with {rebuild}"
            if rebuild is not None
            else f"Migrate it by moving every child of {root} into "
            f"{root}/v{1:0{_VERSION_WIDTH}d}"
        )
        raise ValueError(
            f"{root} holds no committed version: a store in the old flat "
            f"layout. {fix}"
        )
    return root


def fold_whole_store(
    spark: SparkSession,
    path: str,
    build_merged,
    coalesce1: bool = True,
) -> None:
    """Leased read-modify-write for a store whose fold REWRITES the whole
    payload (LM counts, histograms, LSH signatures — all model-sized):
    ``build_merged(prev_frame_or_None) -> DataFrame`` receives the
    current store (None when confirmed absent) and returns the full next
    payload.

    Every fold — the first write included — builds the next payload
    under ``__building.*`` scratch and commits it as the next
    ``vNNNNNNNN`` with ONE rename: readers that resolved the previous
    version keep a complete snapshot, at no extra cost for this store
    class since the fold rewrites the payload anyway.  A flat root from
    the old layout raises :func:`resolve_store_root`'s ``ValueError``
    before anything is written."""
    with maintenance_lease(spark, path):
        root = resolve_store_root(spark, path)
        prev = spark.read.parquet(root) if dir_nonempty(spark, root) else None
        merged = build_merged(prev)
        out = merged.coalesce(1) if coalesce1 else merged
        clean_version_scratch(spark, path)
        tmp = version_scratch(path)
        out.write.mode("overwrite").parquet(tmp)
        commit_version(spark, path, tmp)


def copy_tree(spark: SparkSession, src: str, dst: str) -> None:
    """Byte-copy ``src`` (file or directory, recursive) to ``dst`` via
    Hadoop ``FileUtil.copy`` — no parquet decode/re-encode, file layout
    preserved exactly.  Versioned-store APPEND-merges use this to seed
    the next version with the current version's files before appending
    the batch: immutability of committed versions means a merge cannot
    write inside the live version, and a byte copy is the cheapest way
    to carry it forward (index-sized I/O, zero CPU decode, file counts
    unchanged so compaction triggers still mean what they say).
    Driver-side recursion over the listing — fine for index stores,
    whose file fan-out is bounded by compaction."""
    fs, jsrc, jvm = _fs_and_path(spark, src)
    conf = spark._jsc.hadoopConfiguration()
    Path = jvm.org.apache.hadoop.fs.Path
    FileUtil = jvm.org.apache.hadoop.fs.FileUtil

    def rec(js, jd):
        if fs.getFileStatus(js).isDirectory():
            fs.mkdirs(jd)
            for child in fs.listStatus(js):
                rec(child.getPath(), Path(jd, child.getPath().getName()))
        elif not FileUtil.copy(fs, js, fs, jd, False, conf):
            raise IOError(f"copy_tree: {js} -> {jd} failed")

    rec(jsrc, Path(dst))


def commit_version(
    spark: SparkSession, root: str, tmp: str, keep: int | None = None
) -> str:
    """Atomically commit ``tmp`` (a fully-written version payload) as
    ``root``'s next version, then GC all but the newest ``keep``
    versions (``None`` → the store's registered :func:`set_gc_keep`
    override, else :data:`DEFAULT_GC_KEEP`).  Returns the committed
    version name.

    CALLER HOLDS the store's maintenance lease — the lease serializes
    writers (two concurrent commits could both compute the same next
    name); readers need no lock at all, which is the point.
    """
    if keep is None:
        keep = gc_keep(root)
    fs, jroot, jvm = _fs_and_path(spark, root)
    current = latest_version(spark, root)
    nxt = (int(current[1:]) + 1) if current else 1
    name = f"v{nxt:0{_VERSION_WIDTH}d}"
    jdst = jvm.org.apache.hadoop.fs.Path(root.rstrip("/") + "/" + name)
    jtmp = jvm.org.apache.hadoop.fs.Path(tmp)
    if not fs.rename(jtmp, jdst):
        raise IOError(f"commit_version: rename {tmp} -> {jdst} failed")
    for old in list_versions(spark, root)[: -max(1, int(keep))]:
        fs.delete(
            jvm.org.apache.hadoop.fs.Path(root.rstrip("/") + "/" + old), True
        )
    return name


# ---------------------------------------------------------------------------
# Single-writer maintenance lease
# ---------------------------------------------------------------------------
#
# Two PROCESSES running compact/retrain/merge-folds on the same store can
# both compute the same next version name, sweep each other's live
# ``__building.*`` scratch, or lose one side of a read-modify-write — the
# in-process service lock cannot see a second worker.  The lease is a
# filesystem-native mutex: an ATOMIC exclusive file create on a sidecar
# `<store>__lease` path — ``os.open(O_CREAT|O_EXCL)`` for local paths
# (Hadoop's RawLocalFileSystem ``create(overwrite=false)`` is
# check-then-create, NOT exclusive — two racing writers both won it in
# the concurrency test), ``FileSystem.createNewFile`` on HDFS (atomic at
# the namenode); object stores need their conditional-put equivalent.
# A holder that crashes leaves the lease file behind; takeover is
# mtime-based — a lease older than ``stale_ms`` is presumed dead,
# CLAIMED BY RENAME (atomic, exactly one taker wins; a bare delete would
# let a slow taker delete a successor's fresh lease), then the winner
# deletes the claim and everyone joins the exclusive-create race.
#
# Scope rule: ONE lease per store, keyed on the store's primary path.

#: presume a lease holder dead after this long without finishing.  Sized
#: for maintenance ops (index-sized rewrites), not corpus scans; pass a
#: larger value explicitly for rewrites expected to exceed it.
LEASE_STALE_MS = 60 * 60 * 1000


def _lease_path(dst: str) -> str:
    return dst.rstrip("/") + "__lease"


def _local_lease_file(dst: str) -> str | None:
    """The lease file as an OS path when ``dst`` is on the local
    filesystem, else None.  The split matters for ATOMICITY: Hadoop's
    ``RawLocalFileSystem.create(f, overwrite=False)`` is check-then-create
    (two racing writers can BOTH win — observed in the concurrency test),
    while ``os.open(O_CREAT|O_EXCL)`` is an atomic syscall; on HDFS the
    namenode makes ``createNewFile`` atomic server-side, so each scheme
    gets the primitive that is actually exclusive there."""
    p = _lease_path(dst)
    if "://" not in p:
        return p
    if p.startswith("file:"):
        return "/" + p[len("file:") :].lstrip("/")
    return None


def _new_token() -> str:
    import os
    import uuid

    return f"{os.getpid()}.{uuid.uuid4().hex}"


def try_acquire_lease(
    spark: SparkSession, dst: str, stale_ms: int = LEASE_STALE_MS
) -> str | None:
    """One non-blocking attempt to take ``dst``'s maintenance lease.
    Returns an OWNER TOKEN (truthy) on success — pass it to
    :func:`release_lease` so release is ownership-verified — or None
    when another writer holds the lease.

    The token (written into the lease file) is what makes release safe:
    a holder that ran past ``stale_ms`` and was legitimately taken over
    must NOT delete its successor's lease on exit; the token compare
    turns that into a no-op.  Takeover itself is claim-by-rename with a
    POST-CLAIM staleness re-check: two pollers racing at the staleness
    boundary would otherwise let the loser rename away the winner's
    FRESH lease (observed hazard); re-stating the CLAIMED file detects
    the theft and restores it via link/rename-if-absent (no clobber of
    a third writer's create).
    """
    import os

    token = _new_token()
    local = _local_lease_file(dst)
    if local is not None:
        try:
            age_ms = int(time.time() * 1000) - int(
                os.stat(local).st_mtime * 1000
            )
            if age_ms <= int(stale_ms):
                return None
            # claim the (apparently) stale lease by atomic rename —
            # exactly one taker wins; losers throw and join the create race
            claim = f"{local}.stale.{os.getpid()}.{time.monotonic_ns()}"
            os.rename(local, claim)
            # re-check on the CLAIMED file: between our stat and rename a
            # competing taker may have completed takeover and created a
            # FRESH lease — which we just stole.  Restore it atomically
            # (link fails on an existing path, so a third writer's new
            # lease is never clobbered) and report contention.
            claim_age = int(time.time() * 1000) - int(
                os.stat(claim).st_mtime * 1000
            )
            if claim_age <= int(stale_ms):
                # restore the stolen fresh lease.  os.link cannot clobber,
                # so a THIRD writer's brand-new lease is never overwritten
                # — but then the claim must NOT be silently deleted (that
                # would destroy the victim's lease content and leave two
                # processes believing they hold).  Retry briefly (the
                # third writer may release), then leave the claim file on
                # disk for the victim's heartbeat/verify to detect, and
                # warn.
                restored = False
                for _ in range(10):
                    try:
                        os.link(claim, local)
                        restored = True
                        break
                    except FileExistsError:
                        time.sleep(0.05)
                if restored:
                    os.remove(claim)
                else:
                    import warnings

                    warnings.warn(
                        f"lease restore failed: a newer lease exists at "
                        f"{local}; stolen lease preserved at {claim} "
                        f"(victim should verify ownership before swaps)",
                        RuntimeWarning,
                        stacklevel=2,
                    )
                return None
            os.remove(claim)
        except FileNotFoundError:
            pass
        try:
            fd = os.open(local, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return None  # concurrent create won the race
        except FileNotFoundError:
            # first-ever write to this store: the parent directory does
            # not exist yet (the parquet write used to create it).  Make
            # the parents and retry the exclusive create once.
            os.makedirs(os.path.dirname(local) or "/", exist_ok=True)
            try:
                fd = os.open(local, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                return None
        with os.fdopen(fd, "w") as fh:
            fh.write(token)
        return token
    fs, _, jvm = _fs_and_path(spark, dst)
    jlease = jvm.org.apache.hadoop.fs.Path(_lease_path(dst))
    if fs.exists(jlease):
        try:
            age = int(time.time() * 1000) - int(
                fs.getFileStatus(jlease).getModificationTime()
            )
        except Exception:
            return None  # vanished between exists and stat: holder active
        if age <= int(stale_ms):
            return None
        # same claim-by-rename + post-claim re-check as the local branch
        # (HDFS rename is atomic and fails onto an existing destination,
        # which is exactly the no-clobber restore we need)
        jclaim = jvm.org.apache.hadoop.fs.Path(
            f"{_lease_path(dst)}.stale.{time.monotonic_ns()}"
        )
        if fs.rename(jlease, jclaim):
            try:
                claim_age = int(time.time() * 1000) - int(
                    fs.getFileStatus(jclaim).getModificationTime()
                )
            except Exception:
                claim_age = None
            if claim_age is not None and claim_age <= int(stale_ms):
                # HDFS rename fails onto an existing destination — the
                # no-clobber restore.  If a third writer's lease already
                # landed, retry briefly, then PRESERVE the claim (never
                # silently destroy the victim's lease content) and warn.
                restored = False
                for _ in range(10):
                    if fs.rename(jclaim, jlease):
                        restored = True
                        break
                    time.sleep(0.05)
                if restored:
                    fs.delete(jclaim, False)  # no-op: claim was renamed
                else:
                    import warnings

                    warnings.warn(
                        f"lease restore failed: a newer lease exists at "
                        f"{jlease}; stolen lease preserved at {jclaim} "
                        f"(victim should verify ownership before swaps)",
                        RuntimeWarning,
                        stacklevel=2,
                    )
                return None
            fs.delete(jclaim, False)
    try:
        # exclusive create (atomic at the namenode), token as content
        out = fs.create(jlease, False)
        try:
            out.write(bytearray(token.encode("utf-8")))
        finally:
            out.close()
        return token
    except Exception as exc:
        # only CONTENTION (the lease already exists) means "another
        # writer won"; genuine IO failures (permissions, connectivity,
        # safe-mode) must propagate — otherwise maintenance_lease polls
        # the full timeout and raises a misleading TimeoutError.
        if _is_already_exists(exc):
            return None
        raise


def _is_already_exists(exc: Exception) -> bool:
    """True when a Py4J error from ``fs.create(path, overwrite=False)``
    means the path ALREADY EXISTS (lease contention) rather than a
    genuine IO failure.  Checks the Java exception class chain for the
    already-exists family (`FileAlreadyExistsException` in both
    ``org.apache.hadoop.fs`` and ``java.nio``, HDFS's
    ``AlreadyBeingCreatedException``)."""
    java_exc = getattr(exc, "java_exception", None)
    while java_exc is not None:
        try:
            cls = java_exc.getClass().getName()
        except Exception:
            break
        if "AlreadyExists" in cls or "AlreadyBeingCreated" in cls:
            return True
        try:
            java_exc = java_exc.getCause()
        except Exception:
            break
    # message fallback: some FileSystem impls raise plain IOException
    # with an "already exists" message (e.g. ChecksumFileSystem wrappers)
    return "already exists" in str(exc).lower()


def release_lease(
    spark: SparkSession, dst: str, token: str | None = None
) -> None:
    """Release ``dst``'s lease.  With ``token`` (the value
    :func:`try_acquire_lease` returned) the delete is OWNERSHIP-VERIFIED:
    if the lease was taken over while we ran (we exceeded ``stale_ms``),
    the content no longer matches and the successor's lease is left
    alone.  Without a token the delete is unconditional — the operator
    escape hatch for manually clearing a wedged lease."""
    import os

    local = _local_lease_file(dst)
    if local is not None:
        try:
            if token is not None:
                with open(local) as fh:
                    if fh.read() != token:
                        return  # taken over: not ours to delete
            os.remove(local)
        except FileNotFoundError:
            pass
        return
    fs, _, jvm = _fs_and_path(spark, dst)
    jlease = jvm.org.apache.hadoop.fs.Path(_lease_path(dst))
    if token is not None:
        try:
            if read_text(spark, _lease_path(dst)) != token:
                return
        except Exception:
            return  # gone or unreadable: nothing of ours to delete
    fs.delete(jlease, False)


def lease_owned(spark: SparkSession, dst: str, token: str) -> bool:
    """True iff ``dst``'s lease file exists AND its content is ``token``
    — the holder-side ownership probe.  A holder that overran
    ``stale_ms`` and was taken over sees False here; a rewrite can call
    this immediately before its :func:`commit_version` to abort rather
    than interleave commits with the successor."""
    import os

    local = _local_lease_file(dst)
    if local is not None:
        try:
            with open(local) as fh:
                return fh.read() == token
        except FileNotFoundError:
            return False
    try:
        return read_text(spark, _lease_path(dst)) == token
    except Exception:
        return False


def touch_lease(spark: SparkSession, dst: str, token: str) -> bool:
    """Heartbeat: refresh the lease file's mtime iff we still own it
    (content == ``token``).  Returns True on a successful touch, False
    when the lease was taken over (or vanished) — the holder should then
    treat itself as fenced and abort before its next commit.  Called
    periodically by :func:`maintenance_lease`'s heartbeat thread so a
    legitimate holder whose rewrite runs past ``stale_ms`` is never
    presumed dead while it is demonstrably alive."""
    import os

    if not lease_owned(spark, dst, token):
        return False
    local = _local_lease_file(dst)
    if local is not None:
        try:
            os.utime(local, None)
            return True
        except FileNotFoundError:
            return False
    fs, _, jvm = _fs_and_path(spark, dst)
    jlease = jvm.org.apache.hadoop.fs.Path(_lease_path(dst))
    try:
        now = int(time.time() * 1000)
        fs.setTimes(jlease, now, now)
        return True
    except Exception:
        return False


def lease_held(spark: SparkSession, dst: str) -> bool:
    """True when SOMEONE currently holds ``dst``'s maintenance lease —
    one metadata RPC, no ownership check.  Monitoring surface only (the
    health endpoint shows an operator that maintenance is mid-flight);
    never use as an acquire fast-path (check-then-act races — acquire
    through :func:`try_acquire_lease`)."""
    import os

    local = _local_lease_file(dst)
    if local is not None:
        return os.path.exists(local)
    fs, _, jvm = _fs_and_path(spark, dst)
    return bool(fs.exists(jvm.org.apache.hadoop.fs.Path(_lease_path(dst))))


@contextmanager
def maintenance_lease(
    spark: SparkSession,
    dst: str,
    timeout_s: float = 300.0,
    poll_s: float = 0.1,
    stale_ms: int = LEASE_STALE_MS,
):
    """Hold ``dst``'s single-writer lease for the duration of a
    store rewrite (build / compact / retrain / merge-fold).  Blocks up to
    ``timeout_s`` for a competing writer to finish — the "loser waits"
    contract — then raises TimeoutError rather than proceeding unlocked.
    Release is token-verified (see :func:`release_lease`), so a holder
    that overran ``stale_ms`` and was taken over exits without touching
    its successor's lease.

    While held, a daemon HEARTBEAT thread refreshes the lease's mtime
    every ``stale_ms/4`` (token-verified :func:`touch_lease`), so a
    legitimate holder whose rewrite outruns ``stale_ms`` keeps looking
    alive to staleness pollers and is never taken over mid-rewrite — the
    interleaving the lease exists to prevent.  The yielded handle's
    ``.owned()`` lets a body re-verify ownership immediately before its
    commit rename (defense against the narrow steal window).
    """
    import threading

    deadline = time.monotonic() + float(timeout_s)
    token = try_acquire_lease(spark, dst, stale_ms)
    while token is None:
        if time.monotonic() >= deadline:
            raise TimeoutError(
                f"maintenance_lease: {_lease_path(dst)} held past {timeout_s}s"
            )
        time.sleep(poll_s)
        token = try_acquire_lease(spark, dst, stale_ms)

    stop = threading.Event()

    def _beat():
        # refresh well inside the staleness bound; stop touching the
        # moment ownership is lost (we were taken over) — the main body
        # discovers that via handle.owned() / token-verified release
        interval = max(0.5, (int(stale_ms) / 1000.0) / 4.0)
        while not stop.wait(interval):
            if not touch_lease(spark, dst, token):
                return

    beater = threading.Thread(target=_beat, name="lease-heartbeat", daemon=True)
    beater.start()

    class _Handle:
        token_ = token

        @staticmethod
        def owned() -> bool:
            return lease_owned(spark, dst, token)

    try:
        yield _Handle
    finally:
        stop.set()
        beater.join(timeout=5.0)
        release_lease(spark, dst, token)
