"""Simple sinks (reference S10/S11).

- ``append_csv``: header-once append CSV (2_ocr_from_images.py:35,64-66).
- ``write_partitioned_by_entity``: one directory per entity
  (3_group...py:41-48 writes one CSV per product_id) — at scale this
  is ``partitionBy``, never a per-entity loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def append_csv(df: DataFrame, path: str) -> None:
    df.write.mode("append").option("header", True).csv(path)


def write_partitioned_by_entity(
    df: DataFrame, path: str, entity_col: str, fmt: str = "parquet"
) -> None:
    (
        df.write.mode("overwrite")
        .partitionBy(entity_col)
        .format(fmt)
        .save(path)
    )
