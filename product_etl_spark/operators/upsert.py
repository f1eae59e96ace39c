"""Idempotent MERGE-by-natural-key writer on plain Parquet.

The reference upserts row-at-a-time: SELECT by natural key, then
INSERT or UPDATE (utils/importer/ETL.py:171-203 collections by
master_code, :559-595 products by sku), with ON CONFLICT DO NOTHING
for idempotent inserts (utils/custom_attributes_parser.py:65-72) and
ON CONFLICT DO UPDATE for overwrites
(utils/details_translator/db_orchestrator.py:331-361).

Spark-first realization without Delta (not available in this
container; the same API maps 1:1 onto ``MERGE INTO`` where Delta /
Iceberg is present — noted per method):

- new table state = updates ∪ (current ⟕anti updates), published
  through ``fs`` (staged write, rename swap, table lock); task-retry
  safe because ids are deterministic (ids.py).
- ``mode='insert_only'`` reproduces ON CONFLICT DO NOTHING: existing
  keys win; only genuinely new keys are appended.
- audit timestamps (created_on/modified_on) follow the reference's
  trigger semantics (utils/importer/add_timestamps.py:62-126):
  created_on is preserved from the current row on update, modified_on
  is refreshed only for rows actually written.

At 100 TB the swap rewrites only the partitions containing updated
keys when the table is partitioned (``partition_cols``): the current
side is pruned to touched partitions before the merge and only those
partition directories are swapped. Contract: a key's partition values
must be stable across updates (true for all our tables — partitions
derive from the natural key); a moved key would leave its old row
behind in the old partition.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from product_etl_spark.fs import staging, swap_in, table_exists, table_write_lock


def _with_audit(updates: DataFrame, current: DataFrame | None, keys: list[str]):
    """Apply created_on/modified_on trigger semantics
    (add_timestamps.py:62-126): keep created_on of existing rows;
    modified_on refreshes ONLY when the row's payload actually changed
    (null-safe struct compare against the current row) — so a rerun
    over identical input is byte-identical, audit columns included."""
    now = F.current_timestamp()
    payload = [c for c in updates.columns if c not in ("created_on", "modified_on")]
    upd = updates
    if "created_on" not in upd.columns:
        upd = upd.withColumn("created_on", now)
    upd = upd.withColumn("modified_on", now)
    if current is not None and "created_on" in current.columns:
        detect_change = "modified_on" in current.columns and all(
            c in current.columns for c in payload
        )
        old_cols = [*keys, F.col("created_on").alias("_old_created_on")]
        if detect_change:
            old_cols += [
                F.struct(*[F.col(c) for c in payload]).alias("_old_payload"),
                F.col("modified_on").alias("_old_modified_on"),
            ]
        old = current.select(*old_cols)
        upd = upd.join(old, on=keys, how="left").withColumn(
            "created_on", F.coalesce("_old_created_on", "created_on")
        )
        if detect_change:
            unchanged = F.struct(*[F.col(c) for c in payload]).eqNullSafe(
                F.col("_old_payload")
            )
            upd = upd.withColumn(
                "modified_on",
                F.when(unchanged, F.col("_old_modified_on")).otherwise(
                    F.col("modified_on")
                ),
            ).drop("_old_payload", "_old_modified_on")
        upd = upd.drop("_old_created_on")
    return upd


def upsert_parquet(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    keys: list[str],
    mode: str = "upsert",
    partition_cols: list[str] | None = None,
    audit: bool = True,
) -> DataFrame:
    """MERGE ``updates`` into the parquet table at ``path`` keyed on
    ``keys``; returns the new table state (lazily re-read).

    mode='upsert'       — whenMatchedUpdate + whenNotMatchedInsert
    mode='insert_only'  — whenNotMatchedInsert only (ON CONFLICT DO
                          NOTHING: existing rows win)

    Contract: the returned DataFrame reads the post-merge state; any
    handle obtained *before* a later merge goes stale (the swap
    replaces the directory) and must be re-read.

    Concurrency: the whole read-merge-swap cycle runs under
    ``fs.table_write_lock``; a second concurrent writer of the same
    path raises ConcurrentWriteError. Concurrent merges to *different*
    tables are safe and used by run_ingest.

    ``updates`` must be unique per key; we enforce with
    ``dropDuplicates(keys)`` (deterministic inputs make the kept row
    deterministic — ids are uuid5, and callers pre-aggregate).
    """
    with table_write_lock(path, "upsert_parquet"):
        return _merge_and_publish(
            spark, updates, path, keys, mode, partition_cols, audit
        )


def _merge_and_publish(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    keys: list[str],
    mode: str,
    partition_cols: list[str] | None,
    audit: bool,
) -> DataFrame:
    """The read-merge-swap cycle, called under table_write_lock."""
    current = None
    if table_exists(spark, path):
        current = spark.read.parquet(path)

    # Partition-pruned path: only read/merge/rewrite the partitions
    # the updates actually touch.
    prune = bool(partition_cols) and current is not None
    if prune:
        touched = updates.select(*partition_cols).distinct()
        current = current.join(F.broadcast(touched), partition_cols, "left_semi")

    # Canonical column order, fixed before any join can reorder it:
    # caller's columns first, audit columns last.
    col_order = list(updates.columns)
    if audit:
        col_order += [c for c in ("created_on", "modified_on") if c not in col_order]

    upd = updates.dropDuplicates(keys)
    if audit:
        upd = _with_audit(upd, current, keys)
    upd = upd.select(*col_order)

    if current is None:
        new_state = upd
    elif mode == "insert_only":
        fresh = upd.join(current.select(*keys).distinct(), keys, "left_anti")
        new_state = current.unionByName(fresh, allowMissingColumns=True)
    else:
        kept = current.join(upd.select(*keys).distinct(), keys, "left_anti")
        new_state = kept.unionByName(upd, allowMissingColumns=True)
    # Stable column order across merges (joins move key columns to
    # the front; the table schema must not drift run-to-run).
    order = col_order + [c for c in new_state.columns if c not in col_order]
    new_state = new_state.select(*order)

    # Write-audit-publish: swap the whole directory for unpartitioned
    # tables, only the touched partition directories for the pruned
    # path (untouched partitions are never listed, read or modified).
    # Each partition swap is atomic; a failure mid-loop leaves a mix
    # of old and new partitions that the idempotent rerun converges.
    with staging(path) as staged:
        writer = new_state.write.mode("overwrite")
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.parquet(staged)
        if prune:
            pattern = os.path.join(staged, *(["*=*"] * len(partition_cols)))
            for leaf in glob.glob(pattern):
                rel = os.path.relpath(leaf, staged)
                swap_in(spark, leaf, os.path.join(path, rel))
            # the per-leaf refreshes do not cover listings of the root
            spark.catalog.refreshByPath(path)
        else:
            swap_in(spark, staged, path)
    return spark.read.parquet(path)
