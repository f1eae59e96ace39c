"""Master/variant split — the reference's two-level product hierarchy.

The reference iterates unique master codes and takes ``iloc[0]`` of
each group as the collection template, remaining rows as variants
(utils/importer/ETL.py:131-140, 486-491). File order is load-bearing,
so the ingest layer captures ``_source_row_idx`` and we window on it:
``row_number() == 1`` -> collection template, ``> 1`` -> variant, with
the variant's position becoming ``in_collection_index``
(product.product_in_collection_Iindex, backup_before_fix.sql:204).

One window over one shuffle on master_code — at 100 TB this
partitions by the grouping key exactly like the downstream joins, so
the exchange is reused.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from product_etl_spark.sources.csv_reader import ROW_IDX


def split_master_variants(
    raw: DataFrame,
    master_code_col: str = "Master Code",
    row_idx_col: str = ROW_IDX,
) -> tuple[DataFrame, DataFrame]:
    """Return (collection_templates, variants).

    Rows with a NULL/blank master code are dropped, as the
    reference's ``dropna().unique()`` does (ETL.py:131).

    Templates keep all raw columns; variants additionally carry
    ``in_collection_index`` (1-based position among the non-template
    rows, matching ``enumerate(..., start=1)`` semantics).
    """
    return split_numbered(number_masters(raw, master_code_col, row_idx_col))


def number_masters(
    raw: DataFrame,
    master_code_col: str = "Master Code",
    row_idx_col: str = ROW_IDX,
) -> DataFrame:
    """The rows with a master code, numbered ``_rn`` in file order
    within their master: the window both halves of the split filter."""
    mc = F.col(master_code_col)
    keyed = raw.filter(mc.isNotNull() & (F.trim(mc) != ""))
    w = Window.partitionBy(master_code_col).orderBy(row_idx_col)
    return keyed.withColumn("_rn", F.row_number().over(w))


def split_numbered(numbered: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(templates, variants) of a ``number_masters`` frame, as two
    filters: a caller that caches ``numbered`` runs the window once."""
    templates = numbered.filter(F.col("_rn") == 1).drop("_rn")
    variants = (
        numbered.filter(F.col("_rn") > 1)
        .withColumn("in_collection_index", (F.col("_rn") - 1).cast("int"))
        .drop("_rn")
    )
    return templates, variants
