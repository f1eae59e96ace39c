"""Parquet table maintenance: small-file compaction and partition
retention.

Long-running ingest (streaming micro-batches, incremental MERGE
appends, per-batch dirs) accretes many small files per partition —
and small files are the classic Spark scan killer: each costs a task,
a footer read, and scheduler overhead, so a 128 MB partition split
over 2000 files scans orders of magnitude slower than over 2.
Retention is the other half of table maintenance: expired partitions
should disappear by DIRECTORY, without reading a byte of data.

Both operate on hive-partitioned local parquet layouts, under the
table write lock, and compaction publishes through ``fs.swap_in`` (on
object stores a transactional format's OPTIMIZE / retention job
replaces these, as with the MERGE writers).

Reference parity: the reference runs manual cleanup SQL over its
warehouse (maintenance scripts); these are the file-layout analogs a
parquet warehouse needs instead.
"""

from __future__ import annotations

import math
import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import SparkSession

from product_etl_spark.fs import require_local, staging, swap_in, table_write_lock


@dataclass
class PartitionStat:
    dir: str            # absolute path of the leaf partition dir
    rel: str            # partition-relative path ("dt=2026-01-01")
    n_files: int
    total_bytes: int


def _leaf_partition_dirs(path: str) -> list[str]:
    """Leaf partition dirs (deepest `col=value` level); the bare
    table root when unpartitioned."""
    leaves = []
    for cur, dirs, _files in os.walk(path):
        has_part_children = any("=" in d for d in dirs)
        if "=" in os.path.basename(cur) and not has_part_children:
            leaves.append(cur)
    return leaves or [path]


def partition_file_stats(path: str) -> list[PartitionStat]:
    """Per-leaf-partition parquet file counts and byte totals —
    driver-side metadata listing only, no data read."""
    require_local(path, "partition_file_stats")
    out = []
    for leaf in _leaf_partition_dirs(path):
        files = [
            os.path.join(leaf, f)
            for f in os.listdir(leaf)
            if f.endswith(".parquet")
        ]
        if files:
            out.append(
                PartitionStat(
                    dir=leaf,
                    rel=os.path.relpath(leaf, path),
                    n_files=len(files),
                    total_bytes=sum(os.path.getsize(f) for f in files),
                )
            )
    return sorted(out, key=lambda s: s.rel)


def compact_partitions(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    min_files: int = 2,
) -> list[PartitionStat]:
    """Rewrite every leaf partition holding >= ``min_files`` files
    into ceil(bytes / target_bytes) files; returns the stats of the
    partitions that were compacted.

    Scale shape: selection is a metadata listing (no data read);
    only SELECTED partitions are read and rewritten, each as its own
    job — untouched partitions are never listed by Spark, never read,
    never rewritten. Each partition is swapped in on its own; a crash
    mid-loop leaves some partitions compacted and some not, and the
    next run converges — compaction is idempotent. Parquet-size note:
    ``target_bytes`` is compared against on-disk (encoded) bytes, so
    output files land near the target without decode-size guesswork.
    """
    with table_write_lock(path, "compact_partitions"):
        todo = [
            s
            for s in partition_file_stats(path)
            if s.n_files >= min_files
        ]
        for s in todo:
            n_out = max(1, math.ceil(s.total_bytes / target_bytes))
            with staging(s.dir) as staged:
                (
                    spark.read.parquet(s.dir)
                    .repartition(n_out)
                    .write.mode("error")
                    .parquet(staged)
                )
                swap_in(spark, staged, s.dir)
        spark.catalog.refreshByPath(path)
    return todo


def expire_partitions(
    path: str,
    partition_col: str,
    keep: Callable[[str], bool],
) -> list[str]:
    """Delete every ``partition_col=value`` directory whose value
    fails ``keep(value)``; returns the removed relative dirs.

    Pure directory surgery — zero bytes of data are read, which is
    the point of partitioning by the retention column in the first
    place (``keep=lambda v: v >= cutoff_date`` for dt partitions).
    Values arrive as the RAW directory strings, hive-unescaped only
    for '=' splitting — compare strings, not parsed dates, unless
    the caller parses explicitly."""
    removed = []
    prefix = f"{partition_col}="
    with table_write_lock(path, "expire_partitions"):
        for cur, dirs, _files in os.walk(path):
            for d in list(dirs):
                if d.startswith(prefix) and not keep(d[len(prefix):]):
                    shutil.rmtree(os.path.join(cur, d), ignore_errors=True)
                    removed.append(
                        os.path.relpath(os.path.join(cur, d), path)
                    )
                    dirs.remove(d)
    return sorted(removed)
