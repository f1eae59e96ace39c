"""Flagship warehouse query + name resolution over the ingest fixture."""

from __future__ import annotations

import pytest

from product_etl_spark.pipelines.ingest import run_ingest
from product_etl_spark.plans.warehouse import (
    products_per_collection_with_names,
    resolve_names,
)
from product_etl_spark.sources.csv_reader import read_raw_products


@pytest.fixture(scope="module")
def wh(spark, tmp_path_factory):
    import test_ingest as TI

    d = tmp_path_factory.mktemp("whq")
    csv = d / "raw.csv"
    csv.write_text(TI.HEADER + "\n" + "\n".join(TI.ROWS), encoding="utf-8")
    return run_ingest(spark, read_raw_products(spark, str(csv)), str(d / "wh")).tables


def test_flagship_products_per_collection(wh):
    out = {
        r["master_code"]: r
        for r in products_per_collection_with_names(
            wh["product_collection"], wh["product"], wh["translations"]
        ).collect()
    }
    assert out["963cef"]["n_products"] == 3
    assert out["963cef"]["name"] == "奶油色抱枕套"
    assert out["aa11bb"]["n_products"] == 1  # dup sku upserted to one
    assert out["cc22dd"]["n_products"] == 0  # template-only collection
    assert out["cc22dd"]["name"] == "床头柜"


def test_resolve_names_with_fallback(spark, wh):
    from product_etl_spark.operators.upsert import upsert_parquet  # noqa: F401
    from pyspark.sql import functions as F

    # add one en translation; others must fall back to zh
    en_row = (
        wh["translations"]
        .filter(F.col("value") == "奶油色抱枕套")
        .select(
            F.col("id"),
            "entity_type",
            "entity_id",
            F.lit("en").alias("lang_code"),
            "field_name",
            F.lit("Cream pillow cover").alias("value"),
            "created_on",
            "modified_on",
        )
    )
    translations = wh["translations"].unionByName(en_row)
    resolved = resolve_names(
        wh["product_collection"], translations, "product_collection", "en"
    )
    by_code = {r["master_code"]: r["name"] for r in resolved.collect()}
    assert by_code["963cef"] == "Cream pillow cover"  # en hit
    assert by_code["aa11bb"] == "地毯A"  # zh fallback

