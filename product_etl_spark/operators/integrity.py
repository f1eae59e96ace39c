"""Data-integrity checksums: order-independent table/partition
fingerprints for validating copies, migrations, and replicas.

At 100 TB a pipeline cannot diff a copied table row-by-row; the
standard recipe is a per-partition checksum that is (a) insensitive to
row order (XOR/sum of row hashes commutes), (b) computable in one
map-side-combined aggregate per side, and (c) portable across engines
so source and destination systems can each compute their half. Row
hashes here are md5-derived 60-bit ints (functions.text.hash64) —
the same portable-hash contract the dedup family uses — so a DuckDB,
Trino, or Postgres replica can verify a Spark-written table without
running Spark.

Reference parity: the reference has no integrity gate at all — its
ETL re-exports full CSVs and trusts the copy (ETL.py's csv dumps).
This operator is the missing verification step.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from product_etl_spark.functions.text import hash64

#: Column separator for the canonical row rendering. Field values are
#: ESCAPED before joining (backslash doubled, 0x1f -> '\u', NULL ->
#: the lone '\N' marker), so the rendering is injective even against
#: hostile data: no real value can smuggle a separator ("a|b","c" vs
#: "a","b|c") and no real string equals the NULL marker (every
#: backslash in an escaped value is doubled; '\N' has a lone one).
_SEP = "\x1f"


def _rendered_field(c: str) -> Column:
    esc = F.replace(F.col(c).cast("string"), F.lit("\\"), F.lit("\\\\"))
    esc = F.replace(esc, F.lit(_SEP), F.lit("\\u"))
    return F.coalesce(esc, F.lit("\\N"))


def row_fingerprint(cols: list[str]) -> Column:
    """Portable 60-bit row hash over the canonical INJECTIVE rendering
    of ``cols``: each cast to string and escaped (backslash doubled,
    unit separator -> ``\\u``, NULL -> ``\\N``), joined on the unit
    separator, md5-hashed. Engine-portable: any system with md5 +
    REPLACE reproduces it — the q143 DuckDB oracle renders the same
    expression, so source and replica halves stay in lockstep."""
    return hash64(F.concat_ws(_SEP, *[_rendered_field(c) for c in cols]))


def group_checksums(
    df: DataFrame,
    group_cols: list[str],
    value_cols: list[str],
) -> DataFrame:
    """Per-group integrity summary: row count, XOR of row hashes
    (order-independent; any single-row difference flips it), and the
    min/max row hash (cheap extra discriminators — XOR alone is blind
    to an even number of identical-pair swaps).

    Output: group_cols + (n_rows, xor_fp, min_fp, max_fp).

    Scale shape: ONE groupBy with map-side partial aggregation —
    count/xor/min/max all combine associatively, so each partition
    reduces to one row per group before the exchange and the shuffle
    is bounded by the group space, not the table."""
    fp = row_fingerprint(value_cols)
    return df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.bit_xor(fp).alias("xor_fp"),
        F.min(fp).alias("min_fp"),
        F.max(fp).alias("max_fp"),
    )


def table_checksum(df: DataFrame, value_cols: list[str]) -> DataFrame:
    """Whole-table variant: one global row. Same aggregate shape
    (partial combine per partition, single tiny final reduce)."""
    fp = row_fingerprint(value_cols)
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.bit_xor(fp).alias("xor_fp"),
        F.min(fp).alias("min_fp"),
        F.max(fp).alias("max_fp"),
    )
