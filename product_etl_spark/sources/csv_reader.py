"""Raw product CSV ingest.

The reference reads the scraped export with
``pd.read_csv(RAW_CSV_PATH, sep=';')`` (utils/importer/ETL.py:103)
and lets pandas infer types — which float-coerces numeric SKUs (the
``.0`` corruption, utils/SKU_DOT_ZERO_FIX_README.md). We read
**everything as string** (types are applied later by the mapping
projection) and capture the source row order, because "first row per
master code is the collection template" (ETL.py:131-140) makes file
order load-bearing (SURVEY.md §2.5 W1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Name of the injected ingest-order column.
ROW_IDX = "_source_row_idx"

#: Name of the source-file column ``total_order_row_idx`` orders by.
SOURCE_FILE = "_source_file"


def read_raw_products(
    spark: SparkSession, path: str, sep: str = ";", encoding: str = "UTF-8"
) -> DataFrame:
    """Read a raw export CSV with all-string columns + ``_source_row_idx``.

    The row index comes from the per-file record position
    (monotonically increasing within each file split read in order;
    with a single CSV file, Spark reads line-ordered). For
    multi-file ingest the caller should sort by (input_file_name,
    _source_row_idx).
    """
    df = (
        spark.read.option("sep", sep)
        .option("header", True)
        .option("encoding", encoding)
        .option("inferSchema", False)  # everything arrives as string
        .option("multiLine", True)
        .option("escape", '"')
        .csv(path)
    )
    # monotonically_increasing_id is ordered within a partition and by
    # partition id across partitions, which preserves file order for
    # ordered file formats like CSV.
    return df.withColumn(ROW_IDX, F.monotonically_increasing_id())


def read_raw_products_multi(
    spark: SparkSession, path: str, sep: str = ";", encoding: str = "UTF-8"
) -> DataFrame:
    """Multi-file export ingest with a total row order.

    When an export is split across files, partition-id ordering alone
    is not a contract; this variant totals the order as
    (file name, in-file position) — master/template selection then
    behaves as if the files were concatenated in name order.
    Export conventions must name files sortably (the usual
    date-prefixed drops do).

    Scale shape: no whole-ingest window. In-file position is a window
    partitioned BY FILE (parallel across files); the cross-file part is
    per-file counts -> cumulative offsets (a window over the n_files
    frame — dimension-sized) broadcast back and added.
    """
    df = read_raw_products(spark, path, sep, encoding)
    return total_order_row_idx(df.withColumn(SOURCE_FILE, F.input_file_name()))


def total_order_row_idx(df: DataFrame) -> DataFrame:
    """Re-derive ``ROW_IDX`` as a total (file name, in-file position)
    order for a frame whose existing ``ROW_IDX`` is only
    monotone-within-file (``monotonically_increasing_id`` on an
    ordered file read) and whose ``SOURCE_FILE`` column holds
    ``input_file_name()`` taken at the scan. Also used by
    ``pipelines.ingest.stream_ingest_csv``'s foreachBatch, where one
    micro-batch may contain several files.

    Scale shape: in-file position is a window partitioned by file;
    cross-file offsets come from per-file counts cumulated over the
    n_files frame (dimension-sized) and broadcast back.
    """
    from pyspark.sql import Window

    w_in = Window.partitionBy(SOURCE_FILE).orderBy(ROW_IDX)
    df = df.withColumn("_in_file_rn", F.row_number().over(w_in))
    counts = df.groupBy(SOURCE_FILE).agg(F.count(F.lit(1)).alias("_n"))
    w_files = Window.orderBy(SOURCE_FILE).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        SOURCE_FILE,
        F.coalesce(F.sum("_n").over(w_files), F.lit(0).cast("long")).alias("_offset"),
    )
    return (
        df.join(F.broadcast(offsets), SOURCE_FILE)
        .withColumn(ROW_IDX, F.col("_offset") + F.col("_in_file_rn"))
        .drop(SOURCE_FILE, "_in_file_rn", "_offset")
    )
