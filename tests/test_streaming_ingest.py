"""Streaming product ingest: drop CSV files, drain with availableNow,
warehouse tables merge incrementally and exactly-once."""

from __future__ import annotations

from product_etl_spark.pipelines.ingest import stream_ingest_csv

HEADER_COLS = ["Master Code", "SKU Code", "Product Name", "Price", "Inventory"]
HEADER = ";".join(HEADER_COLS)


def _drop_file(path, name, rows):
    (path / name).write_text(HEADER + "\n" + "\n".join(rows), encoding="utf-8")


def _drain(spark, src, wh, ckpt):
    q = stream_ingest_csv(spark, str(src), str(wh), str(ckpt), HEADER_COLS)
    q.awaitTermination()


def test_incremental_file_ingest(spark, tmp_path):
    src = tmp_path / "incoming"
    src.mkdir()
    wh = tmp_path / "wh"
    ckpt = tmp_path / "ckpt"

    _drop_file(src, "batch1.csv", [
        "m1;s1;沙发;100;5",
        "m1;s2;;120;3",
    ])
    _drain(spark, src, wh, ckpt)
    coll = spark.read.parquet(str(wh / "product_collection"))
    prod = spark.read.parquet(str(wh / "product"))
    assert coll.count() == 1 and prod.count() == 1

    # drain again with nothing new: no change (checkpointed file log)
    _drain(spark, src, wh, ckpt)
    assert spark.read.parquet(str(wh / "product")).count() == 1

    # new export arrives: new collection merged, old untouched
    _drop_file(src, "batch2.csv", [
        "m2;s3;地毯;50;9",
        "m2;s4;;60;2",
        "m1;s1;沙发;100;7",  # replay of m1 template (inventory changed)
    ])
    _drain(spark, src, wh, ckpt)
    coll2 = {r["master_code"]: r for r in spark.read.parquet(str(wh / "product_collection")).collect()}
    assert set(coll2) == {"m1", "m2"}
    assert coll2["m1"]["inventory"] == 7  # upsert refreshed the replayed row
    prods = {r["sku"] for r in spark.read.parquet(str(wh / "product")).collect()}
    assert prods == {"s2", "s4"}


def test_multi_file_batch_orders_by_file_name(spark, tmp_path):
    """One availableNow micro-batch holding TWO files: template
    selection must follow (file name, in-file position) order — not
    partition layout — so checkpoint replays MERGE identical values."""
    src = tmp_path / "incoming2"
    src.mkdir()
    wh = tmp_path / "wh2"
    ckpt = tmp_path / "ckpt2"

    # file 01 holds the m9 template row; file 02 only variants. If the
    # batch were ordered by partition layout, 02's row could win.
    _drop_file(src, "export_01.csv", ["m9;tpl-sku;模板;10;1"])
    _drop_file(src, "export_02.csv", ["m9;var-sku;;20;2"])
    _drain(spark, src, wh, ckpt)

    coll = spark.read.parquet(str(wh / "product_collection")).collect()
    assert len(coll) == 1 and coll[0]["inventory"] == 1  # template = file 01 row
    prods = {r["sku"] for r in spark.read.parquet(str(wh / "product")).collect()}
    assert prods == {"var-sku"}


def test_max_files_per_trigger_per_file_import_semantics(spark, tmp_path):
    """maxFilesPerTrigger=1 drains the backlog as one micro-batch PER
    FILE — each file is then an independent import, exactly the
    reference's one-workbook-at-a-time semantics: every file's first
    row per master upserts the collection, so the LAST-processed
    file's template wins. (Unbounded availableNow instead treats the
    whole backlog as one consolidated export in file-name order —
    the `test_multi_file_batch_orders_by_file_name` contract.) The
    file source picks up files in modification-time order, pinned
    here with utime."""
    import os

    src = tmp_path / "incoming3"
    src.mkdir()
    wh = tmp_path / "wh3"
    ckpt = tmp_path / "ckpt3"

    _drop_file(src, "export_01.csv", ["m9;tpl-sku;模板;10;1"])
    _drop_file(src, "export_02.csv", ["m9;var-sku;;20;2", "m9;var2-sku;;30;4"])
    os.utime(src / "export_01.csv", (1_000_000, 1_000_000))
    os.utime(src / "export_02.csv", (2_000_000, 2_000_000))
    q = stream_ingest_csv(
        spark, str(src), str(wh), str(ckpt), HEADER_COLS,
        max_files_per_trigger=1,
    )
    q.awaitTermination()

    # file 02 imported second: its first m9 row (var-sku, inv 2) is
    # the final collection template; its second row is the variant.
    coll = spark.read.parquet(str(wh / "product_collection")).collect()
    assert len(coll) == 1
    assert coll[0]["sku"] == "var-sku" and coll[0]["inventory"] == 2
    prods = {r["sku"] for r in spark.read.parquet(str(wh / "product")).collect()}
    assert prods == {"var2-sku"}
