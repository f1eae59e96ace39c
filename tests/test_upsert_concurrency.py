"""Single-writer contract of the upsert sink: a second concurrent
writer must fail LOUDLY (ConcurrentWriteError), never silently
interleave read-merge-swap cycles; a crashed writer's stale lock must
break automatically."""

from __future__ import annotations

import json
import os

import pytest

from product_etl_spark.fs import ConcurrentWriteError, table_write_lock
from product_etl_spark.operators.upsert import upsert_parquet


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, v string")


def test_second_writer_fails_loudly(spark, tmp_path):
    path = str(tmp_path / "tbl")
    upsert_parquet(spark, _df(spark, [(1, "a")]), path, ["k"])
    # writer A holds the lock mid-cycle; writer B's merge must raise
    with table_write_lock(path):
        with pytest.raises(ConcurrentWriteError, match="locked by another"):
            upsert_parquet(spark, _df(spark, [(2, "b")]), path, ["k"])
    # table state is writer A's era, untouched by the failed writer
    assert [r["k"] for r in spark.read.parquet(path).collect()] == [1]


def test_interleaved_upserts_serialize_not_lose(spark, tmp_path):
    """The failure the lock exists for: writer B starting after A has
    read but before A swapped would resurrect pre-A state and drop
    A's rows. With the lock, B fails while A is in flight; retried
    after A completes, both updates survive."""
    path = str(tmp_path / "tbl")
    upsert_parquet(spark, _df(spark, [(1, "a")]), path, ["k"])
    with table_write_lock(path):  # simulate A mid-merge
        with pytest.raises(ConcurrentWriteError):
            upsert_parquet(spark, _df(spark, [(2, "b")]), path, ["k"])
    # B retries after A's cycle finished
    upsert_parquet(spark, _df(spark, [(2, "b")]), path, ["k"])
    got = sorted(r["k"] for r in spark.read.parquet(path).collect())
    assert got == [1, 2]


def test_stale_lock_of_dead_writer_is_broken(spark, tmp_path):
    path = str(tmp_path / "tbl")
    upsert_parquet(spark, _df(spark, [(1, "a")]), path, ["k"])
    lock_dir = f"{path}__lock"
    os.mkdir(lock_dir)
    # a pid that cannot exist on linux (> pid_max default)
    with open(os.path.join(lock_dir, "owner.json"), "w") as f:
        json.dump({"pid": 2**22 + 12345, "ts": 0}, f)
    upsert_parquet(spark, _df(spark, [(2, "b")]), path, ["k"])
    got = sorted(r["k"] for r in spark.read.parquet(path).collect())
    assert got == [1, 2]
    assert not os.path.exists(lock_dir)  # released after the cycle


def test_unreadable_lock_is_assumed_held(spark, tmp_path):
    path = str(tmp_path / "tbl")
    os.mkdir(f"{path}__lock")  # no owner.json at all
    with pytest.raises(ConcurrentWriteError):
        upsert_parquet(spark, _df(spark, [(1, "a")]), path, ["k"])


def test_lock_released_on_failure(spark, tmp_path):
    path = str(tmp_path / "tbl")
    with pytest.raises(Exception):
        # duplicate column names -> the merge raises inside the lock
        upsert_parquet(
            spark,
            spark.createDataFrame([(1, 1)], "k int, k int"),
            path,
            ["k"],
        )
    assert not os.path.exists(f"{path}__lock")
    # and the table is writable afterwards
    upsert_parquet(spark, _df(spark, [(1, "a")]), path, ["k"])


def test_orphan_metadata_less_lock_breaks_after_age(spark, tmp_path):
    """A writer crashing between mkdir and the owner.json rename
    leaves a metadata-less lock. Fresh -> assumed held (a live
    acquirer may be inside that instant-wide window); older than
    _ORPHAN_LOCK_SECONDS -> breakable."""
    from product_etl_spark import fs as U

    path = str(tmp_path / "tbl")
    lock_dir = f"{path}__lock"
    os.mkdir(lock_dir)  # no owner.json
    old = 1_000_000.0
    os.utime(lock_dir, (old, old))  # backdate far past the threshold
    upsert_parquet(spark, _df(spark, [(1, "a")]), path, ["k"])
    assert [r["k"] for r in spark.read.parquet(path).collect()] == [1]
    assert not os.path.exists(lock_dir)


def test_stale_break_is_atomic_loser_reports_contended(
    spark, tmp_path, monkeypatch
):
    """Two writers that both observe a dead owner race to BREAK the
    stale lock. The break is an os.rename to a unique tombstone, so
    exactly one wins; the loser (rename raises) must treat the lock
    as contended and raise — never rmtree the winner's fresh lock
    (the old rmtree-then-mkdir shape handed the lock to both)."""
    from product_etl_spark import fs as U

    path = str(tmp_path / "tbl")
    lock_dir = f"{path}__lock"
    os.mkdir(lock_dir)
    with open(os.path.join(lock_dir, "owner.json"), "w") as f:
        json.dump({"pid": 2**22 + 12345, "ts": 0}, f)  # dead owner

    real_rename = os.rename

    def lose_the_race(src, dst):
        if src == lock_dir:  # the other breaker renamed it first
            raise FileNotFoundError(src)
        return real_rename(src, dst)

    monkeypatch.setattr(U.os, "rename", lose_the_race)
    with pytest.raises(ConcurrentWriteError, match="break a stale lock"):
        upsert_parquet(spark, _df(spark, [(2, "b")]), path, ["k"])
    # the winner's lock dir was NOT touched by the loser
    assert os.path.exists(lock_dir)


def test_owner_metadata_published_at_acquisition(tmp_path):
    """owner.json must exist the moment the lock is held (temp-write +
    atomic rename inside _acquire), not only after later code runs —
    otherwise a crash leaves an ownerless forever-held lock."""
    path = str(tmp_path / "tbl")
    with table_write_lock(path):
        meta = os.path.join(f"{path}__lock", "owner.json")
        with open(meta) as f:
            assert json.load(f)["pid"] == os.getpid()


def test_break_verifies_owner_never_steals_fresh_live_lock(tmp_path):
    """The ABA race the rename alone cannot stop: breaker A observes
    dead owner P, breaker B (same observation) breaks P's lock and
    RE-ACQUIRES — a fresh LIVE lock now stands at lock_dir. A's
    rename would still succeed against it. The post-rename owner
    check (pid+ts must match the observed stale owner) must rename
    the captured live lock BACK and report contention, leaving B's
    lock intact."""
    from product_etl_spark import fs as U

    lock_dir = str(tmp_path / "tbl__lock")
    dead = {"pid": 2**22 + 12345, "ts": 0.0}
    # B already broke the dead lock and re-acquired: live lock stands
    os.mkdir(lock_dir)
    live = {"pid": os.getpid(), "ts": 123.456}
    with open(os.path.join(lock_dir, "owner.json"), "w") as f:
        json.dump(live, f)
    # A, acting on its STALE observation of `dead`, tries to break
    assert U._break_stale_lock(lock_dir, dead) is False
    # B's live lock survived, byte-identical
    with open(os.path.join(lock_dir, "owner.json")) as f:
        assert json.load(f) == live
    # no tombstone litter
    assert os.listdir(tmp_path) == ["tbl__lock"]


def test_break_succeeds_when_observed_owner_still_stands(tmp_path):
    from product_etl_spark import fs as U

    lock_dir = str(tmp_path / "tbl__lock")
    dead = {"pid": 2**22 + 12345, "ts": 0.0}
    os.mkdir(lock_dir)
    with open(os.path.join(lock_dir, "owner.json"), "w") as f:
        json.dump(dead, f)
    assert U._break_stale_lock(lock_dir, dead) is True
    assert not os.path.exists(lock_dir)


def test_orphan_break_rejects_fresh_metadata_less_lock(tmp_path):
    """Orphan (metadata-less) break path: after the rename the
    tombstone must STILL be metadata-less and older than the orphan
    threshold — a fresh acquirer inside its mkdir->rename window is
    metadata-less too, and must not be swallowed by a breaker whose
    'old orphan' observation is outdated."""
    from product_etl_spark import fs as U

    # fresh metadata-less dir (a live acquirer mid-window): rejected
    lock_dir = str(tmp_path / "a__lock")
    os.mkdir(lock_dir)
    assert U._break_stale_lock(lock_dir, None) is False
    assert os.path.exists(lock_dir)

    # genuinely old orphan: broken
    lock_dir2 = str(tmp_path / "b__lock")
    os.mkdir(lock_dir2)
    os.utime(lock_dir2, (1_000_000.0, 1_000_000.0))
    assert U._break_stale_lock(lock_dir2, None) is True
    assert not os.path.exists(lock_dir2)
