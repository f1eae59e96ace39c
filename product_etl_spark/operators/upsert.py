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

- new table state = one full outer join of the deduplicated updates
  with the current state on the keys, then one projection that picks
  each column from the winning side; published through ``fs`` (staged
  write, rename swap, table lock); task-retry safe because ids are
  deterministic (ids.py).
- ``mode='insert_only'`` reproduces ON CONFLICT DO NOTHING: existing
  keys win; only genuinely new keys are appended.
- audit timestamps (created_on/modified_on) follow the reference's
  trigger semantics (utils/importer/add_timestamps.py:62-126):
  created_on is preserved from the current row on update, modified_on
  is refreshed only for rows actually written. The same projection
  computes them, so the current state is scanned once.

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

from product_etl_spark.fs import (
    read_table,
    staging,
    swap_in,
    table_exists,
    table_write_lock,
)


def _stamped(updates: DataFrame, audit: bool) -> DataFrame:
    """``updates`` with the audit columns of a row written now: its own
    created_on if it has one, else now; modified_on now."""
    if not audit:
        return updates
    now = F.current_timestamp()
    if "created_on" not in updates.columns:
        updates = updates.withColumn("created_on", now)
    return updates.withColumn("modified_on", now)


def _outer_merge(
    upd: DataFrame, current: DataFrame, keys: list[str], mode: str, audit: bool
) -> DataFrame:
    """The new state: a full outer join of ``upd`` (unique per key)
    with ``current`` on ``keys``, projected once. A row comes from the
    update side where that side wins (``upsert``: any update;
    ``insert_only``: an update with no current row), else from the
    current side; a column the winning side lacks is NULL. NULL keys
    never match. Columns: the update side's, then the current-only ones.

    Update rows get the trigger semantics of add_timestamps.py:62-126:
    created_on is kept from the matched current row; modified_on keeps
    the current value when the payload is equal under a null-safe
    struct compare, so a rerun over identical input is byte-identical,
    audit columns included."""
    u_cols, c_cols = upd.columns, current.columns
    # positional renames: both sides share column names
    u = upd.toDF(*[f"_u{i}" for i in range(len(u_cols))]).withColumn("_u", F.lit(True))
    c = current.toDF(*[f"_c{i}" for i in range(len(c_cols))]).withColumn("_c", F.lit(True))
    U = {n: F.col(f"_u{i}") for i, n in enumerate(u_cols)}
    C = {n: F.col(f"_c{i}") for i, n in enumerate(c_cols)}
    on = U[keys[0]] == C[keys[0]]
    for k in keys[1:]:
        on = on & (U[k] == C[k])
    joined = u.join(c, on, "full_outer")
    matched = F.col("_c").isNotNull()
    from_upd = F.col("_u").isNotNull() if mode == "upsert" else ~matched

    if audit:
        # `now` folds to a literal that codegen inlines: this projection
        # compiles new classes on every call, whatever the cache size.
        now = F.current_timestamp()
        created = U.get("created_on", now)
        modified = now
        if "created_on" in c_cols:
            created = F.coalesce(C["created_on"], created)
            payload = [n for n in u_cols if n not in ("created_on", "modified_on")]
            if "modified_on" in c_cols and all(n in c_cols for n in payload):
                unchanged = F.struct(*[U[n].alias(n) for n in payload]).eqNullSafe(
                    F.struct(*[C[n].alias(n) for n in payload])
                )
                modified = F.when(matched & unchanged, C["modified_on"]).otherwise(now)
        U = {**U, "created_on": created, "modified_on": modified}

    def pick(n: str) -> F.Column:
        if n not in C:
            return F.when(from_upd, U[n])
        if n not in U:
            return F.when(~from_upd, C[n])
        return F.when(from_upd, U[n]).otherwise(C[n])

    out_cols = [*U, *(n for n in c_cols if n not in U)]
    return joined.select(*[pick(n).alias(n) for n in out_cols])


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
    current = read_table(spark, path) if table_exists(spark, path) else None

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
    if current is None:
        new_state = _stamped(upd, audit)
    else:
        new_state = _outer_merge(upd, current, keys, mode, audit)
    # Stable column order across merges (the table schema must not
    # drift run-to-run): then the current table's other columns.
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
    return read_table(spark, path)
