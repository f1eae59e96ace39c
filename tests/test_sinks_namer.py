"""Sinks, namer stage, introspection, binaryFile scan tests."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from product_etl_spark.operators.sinks import (
    append_csv,
    write_partitioned_by_entity,
)
from product_etl_spark.pipelines.namer import run_namer
from product_etl_spark.sources.introspection import (
    collect_fields,
    collect_keys,
    discover_translatable_fields,
)


def test_namer_incremental(spark, tmp_path):
    stage = str(tmp_path / "names")
    rows = spark.createDataFrame(
        [("e1", "吧椅", "963cef", "风格:侘寂风"), ("e2", "地毯", "aa11bb", "")],
        "entity_id string, category string, collection string, attrs string",
    )

    def kernel(cat, coll, attrs):
        return (f"name-{cat}-{coll}", f"SKU-{coll.upper()}")

    out = {r["entity_id"]: r for r in run_namer(spark, rows, stage, kernel).collect()}
    assert out["e1"]["generated_name"] == "name-吧椅-963cef"
    assert out["e1"]["generated_sku"] == "SKU-963CEF"

    # rerun with a kernel that would change results: insert-only keeps originals
    def kernel2(cat, coll, attrs):
        return ("CHANGED", "CHANGED")

    out2 = {r["entity_id"]: r for r in run_namer(spark, rows, stage, kernel2).collect()}
    assert out2["e1"]["generated_name"] == "name-吧椅-963cef"


def test_partitioned_sink_and_binaryfile_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [("p1", "a"), ("p1", "b"), ("p2", "c")], "product_id string, v string"
    )
    path = str(tmp_path / "by_entity")
    write_partitioned_by_entity(df, path, "product_id")
    assert os.path.isdir(os.path.join(path, "product_id=p1"))
    back = spark.read.parquet(path)
    assert back.count() == 3
    # partition pruning: reading one entity touches one directory
    one = back.filter(F.col("product_id") == "p1")
    assert one.count() == 2

    # S7: binaryFile scan over a directory of files
    img_dir = tmp_path / "imgs"
    img_dir.mkdir()
    (img_dir / "a.jpg").write_bytes(b"\xff\xd8fakejpeg")
    (img_dir / "b.png").write_bytes(b"\x89PNGfake")
    (img_dir / "skip.txt").write_bytes(b"nope")
    scanned = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.{jpg,png}")
        .load(str(img_dir))
    )
    got = {os.path.basename(r["path"]): bytes(r["content"]) for r in scanned.collect()}
    assert set(got) == {"a.jpg", "b.png"}


def test_append_csv_header_roundtrip(spark, tmp_path):
    path = str(tmp_path / "ocr_csv")
    df = spark.createDataFrame([("p1", 1, "t")], "product_id string, idx int, text string")
    append_csv(df, path)
    append_csv(df, path)
    back = spark.read.option("header", True).csv(path)
    assert back.count() == 2


def test_introspection(spark):
    fields = collect_fields(spark)
    assert fields.filter(
        (F.col("table_name") == "product") & (F.col("column_name") == "sku")
    ).count() == 1
    keys = {
        (r["table_name"], r["key_column"])
        for r in collect_keys(spark).collect()
    }
    assert ("product_collection", "master_code") in keys
    df = spark.createDataFrame(
        [("i", "c", "v", 1)], "id string, master_code string, name string, n int"
    )
    assert discover_translatable_fields(df) == ["name"]


