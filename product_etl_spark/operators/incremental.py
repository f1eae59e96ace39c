"""Incremental-processing helpers: the reference's "only unprocessed
rows" idiom as anti-joins.

Every rerunnable stage in the reference selects its driving set by
excluding rows that already have output — LEFT JOIN ... IS NULL
(utils/product_attributes_etl.py:89-105), NOT EXISTS
(utils/universal_translator.py:45-69), NOT IN
(utils/fix_product_attributes_migration.py:37-44), skip-sets
(utils/product_collection_img_array_processor.py:132-138). All of
them are one Spark primitive: ``left_anti``.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession


def only_unprocessed(
    candidates: DataFrame,
    done: DataFrame | None,
    on: list[str] | str,
) -> DataFrame:
    """Rows of ``candidates`` with no match in ``done`` on the key.

    ``done=None`` (stage table doesn't exist yet) passes everything
    through — the first-run case.
    """
    if done is None:
        return candidates
    keys = [on] if isinstance(on, str) else list(on)
    return candidates.join(done.select(*keys).distinct(), on=keys, how="left_anti")


def read_stage_table(spark: SparkSession, path: str) -> DataFrame | None:
    """Read a persisted stage table, or None if it was never written.

    Stage tables are the resumability contract (SURVEY.md §7.1.5):
    each pipeline stage persists its output; reruns anti-join against
    it instead of recomputing — the Spark equivalent of the
    reference's per-stage skip flags + read-back
    (utils/details_translator/db_orchestrator.py:240-258).
    """
    from product_etl_spark.fs import read_table, table_exists

    if not table_exists(spark, path):
        return None
    return read_table(spark, path)
