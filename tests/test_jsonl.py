"""JSONL source/sink with corrupt-record quarantine
(sources/jsonl.py)."""

from __future__ import annotations

import gzip
import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from product_etl_spark.sources.jsonl import CORRUPT, read_jsonl, write_jsonl

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("meta", T.StructType([T.StructField("lang", T.StringType())])),
    ]
)


@pytest.fixture()
def shard(tmp_path):
    p = tmp_path / "shard.jsonl"
    lines = [
        json.dumps({"doc_id": 1, "text": "hello", "meta": {"lang": "en"}}),
        "",  # blank — skipped, not quarantined
        json.dumps({"doc_id": 2, "text": "welt", "meta": {"lang": "de"}}),
        '{"doc_id": 3, "text": "truncated',  # malformed
        "not json at all",
    ]
    p.write_text("\n".join(lines) + "\n")
    return str(p)


def test_split_good_and_quarantine(spark, shard):
    good, bad = read_jsonl(spark, shard, SCHEMA)
    assert good.columns == ["doc_id", "text", "meta"]
    rows = {r["doc_id"]: r for r in good.collect()}
    assert set(rows) == {1, 2}
    assert rows[2]["meta"]["lang"] == "de"
    bad_rows = bad.collect()
    assert sorted(r["line"] for r in bad_rows) == [
        "not json at all",
        '{"doc_id": 3, "text": "truncated',
    ]
    assert all(r["input_file"].endswith("shard.jsonl") for r in bad_rows)


def test_one_scan_no_shuffle(spark, shard):
    """Both halves are map-only projections of a single text scan —
    no Exchange, no cache requirement."""
    good, bad = read_jsonl(spark, shard, SCHEMA)
    for df in (good, bad):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "InMemoryTableScan" not in plan


def test_reserved_corrupt_field_rejected(spark, shard):
    clashing = T.StructType([T.StructField(CORRUPT, T.StringType())])
    with pytest.raises(ValueError, match=CORRUPT):
        read_jsonl(spark, shard, clashing)


def test_roundtrip_and_shard_cap(spark, tmp_path):
    df = spark.range(10).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("t"), F.col("id").cast("string")).alias("text"),
    )
    out = str(tmp_path / "out")
    write_jsonl(df.coalesce(1), out, max_records_per_file=4)
    files = [f for f in os.listdir(out) if f.endswith(".json")]
    assert len(files) >= 3  # 10 records / cap 4 -> >= 3 shards
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    back, bad = read_jsonl(spark, out, schema)
    assert bad.count() == 0
    assert sorted(r["doc_id"] for r in back.collect()) == list(range(10))


def test_gzip_sink(spark, tmp_path):
    df = spark.range(3).select(F.col("id").alias("doc_id"))
    out = str(tmp_path / "gz")
    write_jsonl(df.coalesce(1), out, compression="gzip")
    gz = [f for f in os.listdir(out) if f.endswith(".json.gz")]
    assert gz
    with gzip.open(os.path.join(out, gz[0]), "rt") as f:
        assert json.loads(f.readline())["doc_id"] in {0, 1, 2}
