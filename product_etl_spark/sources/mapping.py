"""Mapping-driven projection: the schema-as-data layer.

The reference's CSV-to-table/column mapping is itself data — a
``map.csv`` loaded into a dict that drives every downstream projection
(utils/importer/ETL.py:91-99; the dict IS the logical plan per
SURVEY.md §3.1). Two header dialects exist in the reference:

* the newer 3-column ``raw_input_field, db_table, field`` (ETL.py:91);
* the older 4-column ``Raw Column, Table, Field, Type`` where ``Type``
  is an optional SQL type defaulting to ``text``
  (utils/importer/importer_etl.py:21-28, automapper.py:17-24).

We load either, normalizing to ``{raw: {table, column, type}}``; the
type drives a ``try_cast`` in ``projection_for_table`` (the P9
type-guard pattern — bad cells become NULL, not job failures).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

#: SQL type name (as written in the mapping's Type column, lowercased)
#: -> Spark cast target. ``None`` = leave as string, no cast.
_SQL_TO_SPARK_TYPE: dict[str, str | None] = {
    "text": None,
    "varchar": None,
    "char": None,
    "json": None,
    "jsonb": None,
    "int": "int",
    "integer": "int",
    "serial": "int",
    "smallint": "short",
    "bigint": "long",
    "bigserial": "long",
    "numeric": "decimal(38,12)",
    "decimal": "decimal(38,12)",
    "real": "float",
    "float": "float",
    "double": "double",
    "double precision": "double",
    "boolean": "boolean",
    "bool": "boolean",
    "date": "date",
    "timestamp": "timestamp",
    "timestamptz": "timestamp",
}


def _spark_type_for(sql_type: str) -> str | None:
    # strip precision suffixes: numeric(10,2) -> numeric
    base = sql_type.lower().split("(")[0].strip()
    return _SQL_TO_SPARK_TYPE.get(base)


def load_mapping(spark: SparkSession, path: str) -> dict[str, dict[str, str]]:
    """map.csv -> {raw: {"table": ..., "column": ..., "type": ...}}.

    Accepts both reference dialects (header-sniffed). Rows with an
    empty ``field`` keep the empty string, as the reference does
    (ETL.py:98) — those columns route to translation sidecars whose
    field_name is derived from the raw column. ``type`` defaults to
    ``text`` exactly like importer_etl.py:27's ``if 'Type' in row``
    fallback.
    """
    df = spark.read.option("header", True).csv(path)
    cols = set(df.columns)
    if {"raw_input_field", "db_table", "field"} <= cols:
        sel = df.select(
            F.col("raw_input_field").alias("raw"),
            F.col("db_table").alias("table"),
            F.col("field").alias("column"),
            (
                F.col("Type") if "Type" in cols else F.lit(None)
            ).alias("type"),
        )
    elif {"Raw Column", "Table", "Field"} <= cols:
        sel = df.select(
            F.col("`Raw Column`").alias("raw"),
            F.col("Table").alias("table"),
            F.col("Field").alias("column"),
            (
                F.col("Type") if "Type" in cols else F.lit(None)
            ).alias("type"),
        )
    else:
        raise ValueError(
            f"unrecognized mapping header {sorted(cols)}: expected "
            "raw_input_field/db_table/field or Raw Column/Table/Field[/Type]"
        )
    return {
        r["raw"].strip(): {
            "table": (r["table"] or "").strip(),
            "column": (r["column"] or "").strip(),
            "type": (r["type"] or "text").strip() or "text",
        }
        for r in sel.collect()
        if r["raw"]
    }


def projection_for_table(
    mapping: dict[str, dict[str, str]],
    table: str,
    transforms: dict[str, Column] | None = None,
) -> list[Column]:
    """Build the select-list for one target table from the mapping.

    ``transforms`` overrides the plain rename for columns that need
    cleaning (e.g. price comma-normalization, image-array parse) —
    the Spark equivalent of the reference's per-column special cases
    (ETL.py:145-154, 497-505). A non-text ``type`` in the mapping
    applies ``try_cast`` AFTER the transform, mirroring the typed
    insert the reference's Type column feeds (importer_etl.py:28).
    """
    cols: list[Column] = []
    transforms = transforms or {}
    for raw_col, spec in mapping.items():
        if spec["table"] != table or not spec["column"]:
            continue
        dst = spec["column"]
        expr = transforms.get(dst, F.col(raw_col))
        spark_type = _spark_type_for(spec.get("type", "text"))
        if spark_type is not None:
            expr = expr.try_cast(spark_type)
        cols.append(expr.alias(dst))
    return cols


def translation_fields(
    mapping: dict[str, dict[str, str]], table: str
) -> list[tuple[str, str]]:
    """(raw_column, field_name) pairs routed to a translation sidecar
    — mapping rows whose ``field`` is empty (ETL.py:244-251 routes
    'Product Name' into product_collection_translations)."""
    out = []
    for raw_col, spec in mapping.items():
        if spec["table"] == table and not spec["column"]:
            field = raw_col.strip().lower().replace(" ", "_")
            out.append((raw_col, field))
    return out
