"""Filesystem probes that work on ANY Hadoop-supported URI, a table
read that runs no schema-inference job, and the one path by which a
table directory gets replaced.

Probes. ``os.path.exists`` silently answers False for s3://, hdfs://,
abfs:// paths, which would turn MERGE upserts into initial overwrites
and resume anti-joins into full recomputes with no error.
``fs_exists`` / ``table_exists`` go through the session's Hadoop
FileSystem API instead, so they resolve any configured scheme.

Read. ``read_table`` opens a committed table without a schema
inference job. A bare ``spark.read.parquet(path)`` submits one Spark
job only to read a footer, yet Spark already wrote the table's exact
row schema into every footer, under the key
``org.apache.spark.sql.parquet.row.metadata``. For a flat local table
the driver reads it from the first part file with pyarrow and hands
it to ``spark.read.schema``: the files describe themselves, so the
read plans with no job. Any other table (URI scheme, partition
directories, no part file, or parquet some other writer produced) is
read the plain way. The MERGE (current state and returned frame), the
incremental rollup's state read, ``read_stage_table`` and the
translation sweep read through it.

Publish. Every writer that rewrites or deletes a table in place (MERGE,
quality-gated load, compaction, audit retrofit, partition retention)
does it the same way:

    with table_write_lock(path, "op"):   # covers read through publish
        current = read_table(spark, path)
        with staging(path) as tmp:        # deleted unless published
            new_state.write.parquet(tmp)
            swap_in(spark, tmp, path)     # rename swap + refreshByPath

The lock covers the read of the current state, not just the rename:
the lost update happens when two writers read the same state. It runs
``require_local`` first, because the swap is a local-filesystem
rename. The reference gets the same guarantee from one PostgreSQL
transaction (ETL.py:620-626); on remote object stores a transactional
table format (Delta/Iceberg MERGE, optimistic commits) replaces the
lock and the swap.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _scheme(path: str) -> str:
    head, sep, _ = path.partition("://")
    return head if sep else ""


def fs_exists(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` exists, resolved through Hadoop's FileSystem
    for the path's scheme (local, HDFS, s3a, ... — anything the
    session's Hadoop conf can load)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


def table_exists(spark: SparkSession, path: str) -> bool:
    """True iff a COMMITTED parquet table lives at ``path`` — the
    job-commit marker ``_SUCCESS`` is probed, not the bare directory,
    so a half-written (crashed) output does not count as present."""
    return fs_exists(spark, path.rstrip("/") + "/_SUCCESS")


#: The footer key under which Spark stores a parquet file's row
#: schema as JSON.
_SPARK_ROW_SCHEMA = b"org.apache.spark.sql.parquet.row.metadata"


def _footer_schema(path: str) -> StructType | None:
    """The Spark row schema in the footer of the first part file of
    the committed, flat, local table at ``path``; None when ``path``
    is anything else or the footer carries no Spark schema."""
    if _scheme(path) or not os.path.exists(os.path.join(path, "_SUCCESS")):
        return None
    entries = sorted(os.listdir(path))
    if any(
        os.path.isdir(os.path.join(path, e))
        for e in entries
        if not e.startswith(("_", "."))
    ):
        return None  # partition directories: Spark discovers them
    parts = [e for e in entries if e.startswith("part-") and e.endswith(".parquet")]
    if not parts:
        return None
    import pyarrow.parquet as pq

    meta = pq.read_metadata(os.path.join(path, parts[0])).metadata or {}
    raw = meta.get(_SPARK_ROW_SCHEMA)
    return None if raw is None else StructType.fromJson(json.loads(raw))


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema taken from the
    table's own footer when ``_footer_schema`` finds one, so no
    inference job runs. Same schema and rows either way."""
    schema = _footer_schema(path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def require_local(path: str, op: str) -> None:
    """Raise for ANY URI scheme — including ``file://`` — before an
    os.rename-based publish can touch it. The publishers operate on
    the raw string with os.path/os.rename/shutil, which cannot
    resolve URIs (``os.path.exists('file:///x')`` is False even when
    /x exists), so a ``file://`` spelling would silently skip the
    backup branch and fail mid-swap; callers pass a plain local path
    instead. Loud-and-early beats the silent alternative: the rename
    would raise FileNotFoundError only AFTER the staging write burned
    a full pass over the data."""
    if _scheme(path):
        hint = (
            "pass a plain local path (no file:// prefix)"
            if _scheme(path) == "file"
            else "on remote storage use a transactional table format "
            "(Delta/Iceberg MERGE) instead"
        )
        raise ValueError(
            f"{op} publishes via local-filesystem rename and cannot target "
            f"{path!r}; {hint}"
        )


class ConcurrentWriteError(RuntimeError):
    """Another writer holds the table's write lock. Two interleaved
    read-rewrite-swap cycles would silently drop one side's rows
    (lost update), so the second writer fails LOUDLY instead."""


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


#: A lock directory with no readable owner.json is normally a writer
#: crashed between mkdir and the metadata rename — an instant-wide
#: window — so it may only be broken once older than this.
_ORPHAN_LOCK_SECONDS = 300.0


def _break_stale_lock(lock_dir: str, expected: dict | None) -> bool:
    """Atomically break a lock OBSERVED stale, verifying after the
    rename that the directory captured is the same stale lock that was
    observed — not a fresh LIVE lock a faster breaker re-created in
    between. Winning the rename alone is not enough: breaker A may
    observe dead owner P, breaker B breaks P's lock and re-acquires,
    and A's rename would then capture B's live lock (two writers in
    the critical section — the exact lost update this lock prevents).

    ``expected`` is the owner dict read before deciding to break, or
    None for the metadata-less-orphan case. After the rename the
    tombstone's owner.json must match ``expected`` (pid AND ts — ts is
    the per-acquisition nonce, so a recycled pid cannot alias); for
    the orphan case the tombstone must still be metadata-less AND
    still older than the orphan threshold (dir mtime survives rename).
    On mismatch the directory is renamed back and the lock reported
    contended. Returns True only when the observed stale lock was
    removed."""
    tombstone = f"{lock_dir}.stale.{uuid.uuid4().hex}"
    try:
        os.rename(lock_dir, tombstone)
    except OSError:  # lost the breaker race: lock is contended
        return False
    got: dict | None
    try:
        with open(os.path.join(tombstone, "owner.json")) as f:
            got = json.load(f)
    except (OSError, ValueError):
        got = None
    if expected is None:
        try:
            age = time.time() - os.stat(tombstone).st_mtime
        except OSError:
            age = 0.0
        same = got is None and age >= _ORPHAN_LOCK_SECONDS
    else:
        same = (
            got is not None
            and got.get("pid") == expected.get("pid")
            and got.get("ts") == expected.get("ts")
        )
    if not same:
        # captured someone else's LIVE lock: put it back and report
        # contention. If an acquirer mkdir'd lock_dir in the gap the
        # put-back fails; dropping the tombstone then releases the
        # stolen owner's lock early — the narrowest remaining window,
        # and strictly better than keeping a lock nobody can release.
        try:
            os.rename(tombstone, lock_dir)
        except OSError:
            shutil.rmtree(tombstone, ignore_errors=True)
        return False
    shutil.rmtree(tombstone, ignore_errors=True)
    return True


@contextmanager
def table_write_lock(path: str, op: str = "table_write_lock") -> Iterator[None]:
    """Advisory single-writer lock for a read-rewrite-swap cycle on
    the table at ``path``: an atomically-created ``{path}__lock``
    directory holding the owner's pid and acquisition time. ``path``
    must be a plain local path (``require_local``; ``op`` names the
    caller in that error). A concurrent writer raises
    ConcurrentWriteError. A lock whose owner process is dead on this
    host is broken automatically (see _break_stale_lock); one with no
    readable owner.json (a crash between mkdir and the atomic
    metadata rename) counts as held until it is
    ``_ORPHAN_LOCK_SECONDS`` old."""
    require_local(path, op)
    lock_dir = f"{path}__lock"
    meta = os.path.join(lock_dir, "owner.json")

    def _acquire():
        parent = os.path.dirname(os.path.abspath(path))
        os.makedirs(parent, exist_ok=True)
        os.mkdir(lock_dir)  # atomic: exactly one creator wins
        tmp = os.path.join(lock_dir, f".owner.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            json.dump({"pid": os.getpid(), "ts": time.time()}, f)
        os.replace(tmp, meta)  # publish ownership atomically

    try:
        _acquire()
    except FileExistsError:
        owner_alive, owner, info = True, "<unreadable>", None
        try:
            with open(meta) as f:
                info = json.load(f)
            owner = f"pid {info.get('pid')} since {info.get('ts')}"
            owner_alive = _pid_alive(int(info["pid"]))
        except (OSError, ValueError, KeyError, TypeError):
            # no readable owner: ownerless crash artifact, breakable
            # only once old enough that no live acquirer can still be
            # inside the mkdir->rename window
            info = None
            try:
                age = time.time() - os.stat(lock_dir).st_mtime
                owner_alive = age < _ORPHAN_LOCK_SECONDS
                owner = f"<no metadata, {age:.0f}s old>"
            except OSError:
                owner_alive = True  # vanished mid-probe: contended
        if owner_alive:
            raise ConcurrentWriteError(
                f"table {path!r} is locked by another writer ({owner}); "
                "concurrent rewrites of one table path would lose "
                "updates — serialize the writers or move the table to "
                "a format with optimistic commits (Delta/Iceberg)"
            )
        if not _break_stale_lock(lock_dir, info):
            raise ConcurrentWriteError(
                f"table {path!r}: lost the race to break a stale lock "
                "— another writer is active"
            )
        try:
            _acquire()  # a racing breaker may still beat us
        except FileExistsError:
            raise ConcurrentWriteError(
                f"table {path!r}: lost the race to re-acquire a stale "
                "lock — another writer is active"
            ) from None
    try:
        yield
    finally:
        shutil.rmtree(lock_dir, ignore_errors=True)


@contextmanager
def staging(path: str) -> Iterator[str]:
    """A fresh, not-yet-existing sibling directory of ``path`` to
    write the new state into. Whatever is left of it on exit is
    deleted: after ``swap_in`` nothing is (or, for a per-partition
    publish, only the emptied root), and on any exit that did not
    publish — a failed write, a failed gate — the whole staged
    output goes."""
    tmp = f"{path}__staging_{uuid.uuid4().hex[:8]}"
    try:
        yield tmp
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def swap_in(spark: SparkSession, staged: str, target: str) -> None:
    """Publish the directory ``staged`` as ``target``: the old
    ``target`` (if any) is renamed aside, ``staged`` renamed in, the
    aside copy deleted, and Spark's cached listings of ``target``
    refreshed. Each rename is atomic: a reader finds the old
    directory, the new one or (between the renames) none, never a
    half-written one. The caller holds ``table_write_lock`` (or is
    the path's only writer)."""
    aside = f"{target}__old_{uuid.uuid4().hex[:8]}"
    if os.path.exists(target):
        os.rename(target, aside)
    else:
        os.makedirs(os.path.dirname(os.path.abspath(target)), exist_ok=True)
    os.rename(staged, target)
    shutil.rmtree(aside, ignore_errors=True)
    spark.catalog.refreshByPath(target)
