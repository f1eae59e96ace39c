"""Maintenance jobs — the reference's repair/cleanup scripts as
distributed one-shot jobs (SURVEY.md §7.3 phase 8).

- ``fix_sku_dot_zero`` + ``sku_repair_mapping`` + ``rekey_children``
  + ``rewrite_image_paths``: the `.0`-suffix repair
  (utils/fix_sku_dot_zero.py:47-77 runs THREE updates: the sku
  column, the child images' collection_sku, and a REPLACE on
  url_local) done right: anchored regex, not a buggy rstrip; because
  our ids are uuid5(sku), repairing a sku CHANGES the id, so the
  repair emits an (old_id, new_id) mapping and every referencing
  table must be re-keyed through ``rekey_children`` (or the
  ``run_sku_repair`` orchestrator, which does all tables at once).
- ``find_orphans`` / ``cleanup_orphans``: orphan detection/removal
  (utils/importer/cleanup_incorrect_products.py:45-51,81-126) —
  anti-joins + filtered overwrite instead of 100-id DELETE batches.
- ``relink_products_by_master_code``: the UPDATE..FROM repair
  (utils/importer/diagnosis_and_fix.sql:38-45) as an update-join.
- ``consistency_report``: DB-vs-filesystem style audit
  (utils/check_sku_status.py:108-141) generalized to
  table-vs-table set comparison.
- ``backfill_missing_children``: placeholder rows for childless
  parents (utils/importer/insert_missing_data.py:16-60) as one
  anti-join + deterministic-id insert_only merge instead of
  LIMIT-5 manual batches of uuid4 inserts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from product_etl_spark import ids
from product_etl_spark.functions.cleaners import strip_sku_dot_zero


def fix_sku_dot_zero(product: DataFrame) -> DataFrame:
    """Repair float-coerced skus: exactly one trailing '.0' removed
    (never the reference's rstrip('.0') over-strip), ids re-derived so
    the deterministic id invariant holds after repair.

    Re-deriving the id ORPHANS child rows keyed on the old id — run
    the full ``run_sku_repair`` (or ``rekey_children`` per table with
    ``sku_repair_mapping``) whenever referencing tables exist.
    """
    fixed_sku = strip_sku_dot_zero(F.col("sku"))
    return product.withColumn("sku", fixed_sku).withColumn(
        "id", ids.uuid5_col(ids.NS_PRODUCT, F.col("sku"))
    )


def sku_repair_mapping(product: DataFrame) -> DataFrame:
    """(old_sku, new_sku, old_id, new_id) for exactly the rows the
    '.0' repair changes — the re-key contract for every referencing
    table. Dimension-sized (corrupted skus only), so downstream
    re-keys broadcast it."""
    fixed = strip_sku_dot_zero(F.col("sku"))
    return (
        product.select(
            F.col("sku").alias("old_sku"),
            fixed.alias("new_sku"),
            F.col("id").alias("old_id"),
            ids.uuid5_col(ids.NS_PRODUCT, fixed).alias("new_id"),
        )
        .filter(F.col("new_sku") != F.col("old_sku"))
        .distinct()
    )


def rekey_children(
    child: DataFrame, mapping: DataFrame, fk_col: str = "product_id"
) -> DataFrame:
    """Re-point ``fk_col`` from old ids to new ids (broadcast update-
    join); rows referencing unrepaired products pass through."""
    m = mapping.select(F.col("old_id").alias(fk_col), "new_id")
    return (
        child.join(F.broadcast(m), fk_col, "left")
        .withColumn(fk_col, F.coalesce("new_id", F.col(fk_col)))
        .drop("new_id")
    )


def rewrite_image_paths(
    images: DataFrame,
    mapping: DataFrame,
    sku_col: str = "collection_sku",
    url_col: str = "url_local",
) -> DataFrame:
    """The reference's image-side repair (fix_sku_dot_zero.py:58-72):
    update the child sku column AND REPLACE the old sku inside the
    local path, one broadcast join."""
    m = mapping.select(F.col("old_sku").alias(sku_col), "new_sku")
    joined = images.join(F.broadcast(m), sku_col, "left")
    return (
        joined.withColumn(
            url_col,
            F.when(
                F.col("new_sku").isNotNull(),
                F.replace(F.col(url_col), F.col(sku_col), F.col("new_sku")),
            ).otherwise(F.col(url_col)),
        )
        .withColumn(sku_col, F.coalesce("new_sku", F.col(sku_col)))
        .drop("new_sku")
    )


def run_sku_repair(
    product: DataFrame,
    children: dict[str, tuple[DataFrame, str]] | None = None,
    images: DataFrame | None = None,
    image_sku_col: str = "collection_sku",
    image_url_col: str = "url_local",
) -> dict[str, DataFrame]:
    """The whole repair as one transaction-shaped unit: returns
    ``{"product": ..., "mapping": ..., <child>: ..., "images": ...}``
    with every referencing table re-keyed. ``children`` maps table
    name -> (frame, fk column)."""
    mapping = sku_repair_mapping(product)
    out: dict[str, DataFrame] = {
        "product": fix_sku_dot_zero(product),
        "mapping": mapping,
    }
    for name, (child, fk) in (children or {}).items():
        out[name] = rekey_children(child, mapping, fk)
    if images is not None:
        out["images"] = rewrite_image_paths(
            images, mapping, image_sku_col, image_url_col
        )
    return out


def find_orphans(child: DataFrame, parent: DataFrame, child_fk: str, parent_key: str) -> DataFrame:
    """Child rows whose FK resolves to no parent (LEFT JOIN..IS NULL
    orphan detection, verify_etl_results.py:114-124)."""
    return child.join(
        parent.select(F.col(parent_key).alias(child_fk)).distinct(),
        child_fk,
        "left_anti",
    )


def cleanup_orphans(
    child: DataFrame, parent: DataFrame, child_fk: str, parent_key: str
) -> DataFrame:
    """Drop orphaned child rows (the distributed form of the batched
    DELETE at cleanup_incorrect_products.py:81-126)."""
    return child.join(
        parent.select(F.col(parent_key).alias(child_fk)).distinct(),
        child_fk,
        "left_semi",
    )


def relink_products_by_master_code(
    product: DataFrame, collection: DataFrame
) -> DataFrame:
    """Re-point product.collection_id at the collection with the same
    master_code (UPDATE..FROM, diagnosis_and_fix.sql:38-45) — an
    update-join: overwrite the FK column from the joined dimension."""
    dim = collection.select(
        "master_code", F.col("id").alias("_correct_collection_id")
    )
    return (
        product.join(F.broadcast(dim), "master_code", "left")
        .withColumn(
            "collection_id",
            F.coalesce("_correct_collection_id", "collection_id"),
        )
        .drop("_correct_collection_id")
    )


def compact_table(
    spark,
    path: str,
    target_file_mb: int = 256,
    sort_cols: list[str] | None = None,
):
    """Small-files compaction + optional layout sort.

    Incremental MERGE runs leave many small files; at 100 TB small
    files dominate scan planning time. Publishes through the ``fs``
    staged swap under the table write lock (object stores use a table
    format's OPTIMIZE instead). Rewrite the table at
    ~``target_file_mb`` per file; ``sort_cols`` clusters rows so
    parquet min/max statistics give data skipping on those columns
    (the poor man's Z-order — effective for one or two correlated
    predicates, which covers the reference's lookup patterns:
    master_code, sku).
    """
    import pathlib

    from product_etl_spark.fs import staging, swap_in, table_write_lock

    with table_write_lock(path, "compact_table"), staging(path) as staged:
        df = spark.read.parquet(path)
        n_bytes = sum(
            f.stat().st_size for f in pathlib.Path(path).rglob("*.parquet")
        )
        n_files = max(1, n_bytes // (target_file_mb * 1024 * 1024))
        out = df.repartition(int(n_files))
        if sort_cols:
            out = out.sortWithinPartitions(*sort_cols)
        out.write.mode("overwrite").parquet(staged)
        swap_in(spark, staged, path)
    return spark.read.parquet(path)


def consistency_report(
    left: DataFrame, right: DataFrame, left_key: str, right_key: str
) -> DataFrame:
    """Two-way set difference summary (check_sku_status.py:113-141:
    db_skus - fs_folders / fs_folders - db_skus) as one row."""
    l_keys = left.select(F.col(left_key).alias("k")).distinct()
    r_keys = right.select(F.col(right_key).alias("k")).distinct()
    only_left = l_keys.join(r_keys, "k", "left_anti").agg(
        F.count(F.lit(1)).alias("only_in_left")
    )
    only_right = r_keys.join(l_keys, "k", "left_anti").agg(
        F.count(F.lit(1)).alias("only_in_right")
    )
    both = l_keys.join(r_keys, "k", "left_semi").agg(
        F.count(F.lit(1)).alias("in_both")
    )
    return both.crossJoin(only_left).crossJoin(only_right)


def add_audit_columns(
    spark,
    path: str,
    backfill=None,
) -> DataFrame:
    """Retrofit ``created_on``/``modified_on`` onto an EXISTING table
    that predates the audit era — the reference's dynamic migration
    (utils/importer/add_timestamp_fields_dynamic.sql:8-126 +
    add_timestamps.py:80-91: ADD COLUMN IF NOT EXISTS ... DEFAULT
    CURRENT_TIMESTAMP per table, plus the modified_on trigger).

    ``backfill`` seeds both columns for pre-existing rows: a timestamp
    literal/string, or None to use the table directory's mtime (the
    best on-disk approximation of "when these rows appeared", and
    deterministic across reruns). Columns already present are left
    untouched (IF NOT EXISTS semantics); the rewrite is published
    like the MERGE writer's. The trigger half needs no retrofit here
    — every subsequent ``upsert_parquet`` refreshes modified_on
    exactly on payload change.
    """
    import os as _os
    from datetime import datetime, timezone

    from product_etl_spark.fs import staging, swap_in, table_write_lock

    with table_write_lock(path, "add_audit_columns"):
        df = spark.read.parquet(path)
        missing = [c for c in ("created_on", "modified_on") if c not in df.columns]
        if not missing:
            return df  # IF NOT EXISTS: nothing to do
        if backfill is None:
            mtime = _os.stat(path).st_mtime
            backfill = datetime.fromtimestamp(mtime, tz=timezone.utc)
        stamp = F.lit(backfill).cast("timestamp")
        for c in missing:
            df = df.withColumn(c, stamp)
        with staging(path) as staged:
            df.write.mode("overwrite").parquet(staged)
            swap_in(spark, staged, path)
    return spark.read.parquet(path)


def add_audit_columns_warehouse(spark, warehouse: str, backfill=None) -> dict:
    """The ALL-tables loop of the reference migration: retrofit every
    table directory under ``warehouse``. Returns {table: row_count}."""
    import os as _os

    out = {}
    for name in sorted(_os.listdir(warehouse)):
        p = _os.path.join(warehouse, name)
        if _os.path.isdir(p) and _os.path.exists(_os.path.join(p, "_SUCCESS")):
            out[name] = add_audit_columns(spark, p, backfill).count()
    return out


def snapshot_table(spark, path: str, tag: str = "backup"):
    """Copy a table directory to a timestamped sibling before a risky
    repair — the reference's documented backup-before-fix procedure
    (SKU_DOT_ZERO_FIX_README.md:52-94) as one call. Returns the
    snapshot path."""
    import shutil
    import time as _time

    from product_etl_spark.fs import require_local

    require_local(path, "snapshot_table")
    snap = f"{path}__{tag}_{int(_time.time())}"
    shutil.copytree(path, snap)
    return snap


def backfill_missing_children(
    spark,
    parents: DataFrame,
    path: str,
    parent_key: str,
    child_fk: str,
    defaults: dict[str, "F.Column"],
    child_keys: list[str] | None = None,
) -> DataFrame:
    """Backfill placeholder child rows for parents that have none —
    the reference's insert_missing_data.py (find collections without
    details_html via LEFT JOIN .. IS NULL, then INSERT sample rows
    with uuid4 ids, LIMIT 5 at a time). Distributed form: one
    anti-join finds ALL childless parents, ``defaults`` maps child
    column -> expression over the parent row (templates reference
    parent columns, e.g. master_code), ids are uuid5 of the parent
    key so the backfill is deterministic, and the insert_only MERGE
    makes re-runs no-ops instead of relying on LIMIT-sized manual
    batches.
    """
    from product_etl_spark.fs import table_exists
    from product_etl_spark.operators.upsert import upsert_parquet

    child_keys = child_keys or [child_fk]
    # NULL-keyed parents never equi-match a child, so without this
    # guard every rerun would append another NULL-keyed placeholder
    parents = parents.filter(F.col(parent_key).isNotNull())
    if table_exists(spark, path):
        children = spark.read.parquet(path)
        childless = parents.join(
            children, parents[parent_key] == children[child_fk], "left_anti"
        )
    else:
        childless = parents
    rows = childless.select(
        F.col(parent_key).alias(child_fk),
        *[expr.alias(name) for name, expr in defaults.items()],
    )
    return upsert_parquet(spark, rows, path, keys=child_keys, mode="insert_only")
