"""``fs.read_table``: a table the engine wrote opens with the schema
from its own parquet footer, so no schema-inference job runs, and it
reads exactly what ``spark.read.parquet`` reads. Anything else falls
back to the plain read."""

from __future__ import annotations

import datetime as dt
import decimal
import os

import pytest

from product_etl_spark.fs import _footer_schema, read_table

ALL_TYPES = (
    "b boolean, i8 tinyint, i16 smallint, i32 int, i64 bigint, f32 float, "
    "f64 double, dec decimal(38,18), s string, bin binary, d date, "
    "ts timestamp, ntz timestamp_ntz, arr array<struct<x: int, y: string>>, "
    "m map<string, array<int>>, st struct<a: double, b: struct<c: string>>"
)
ALL_TYPES_ROWS = [
    (
        True, 1, 2, 3, 4, 1.5, 2.5, decimal.Decimal("1.000000000000000001"), "s",
        b"\x00\x01", dt.date(2024, 1, 2), dt.datetime(2024, 1, 2, 3, 4, 5),
        dt.datetime(2024, 1, 2, 3, 4, 5), [(1, "a"), (2, None)], {"k": [1, 2]},
        (0.5, ("c",)),
    ),
    tuple([None] * 16),
]


def _rows(df):
    return sorted(repr(tuple(r)) for r in df.collect())


def _same_as_plain(spark, path):
    got, plain = read_table(spark, path), spark.read.parquet(path)
    assert got.schema == plain.schema
    assert _rows(got) == _rows(plain)
    return got


def _jobs_during(spark, fn):
    sc = spark.sparkContext
    group = f"read_table-{os.urandom(4).hex()}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("kind", ["flat", "empty", "all_types"])
def test_footer_schema_read_matches_plain_read(spark, tmp_path, kind):
    path = str(tmp_path / kind)
    if kind == "all_types":
        df = spark.createDataFrame(ALL_TYPES_ROWS, ALL_TYPES)
    else:
        df = spark.range(50).selectExpr("id", "cast(id % 7 as int) as k", "uuid() as u")
        if kind == "empty":
            df = df.limit(0)
    df.repartition(3).write.parquet(path)
    assert _footer_schema(path) is not None
    got = _same_as_plain(spark, path)
    assert got.count() == df.count()


def test_footer_schema_read_submits_no_job(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame(ALL_TYPES_ROWS, ALL_TYPES).write.parquet(path)
    assert _jobs_during(spark, lambda: read_table(spark, path)) == []
    # the plain read runs a footer-inference job: what read_table saves
    assert len(_jobs_during(spark, lambda: spark.read.parquet(path))) == 1


def test_falls_back_for_partitioned_table(spark, tmp_path):
    path = str(tmp_path / "p")
    spark.range(20).selectExpr("id", "cast(id % 3 as string) as part").write.partitionBy(
        "part"
    ).parquet(path)
    assert _footer_schema(path) is None
    got = _same_as_plain(spark, path)
    assert "part" in got.columns


def test_falls_back_for_foreign_parquet(spark, tmp_path):
    """Parquet some other writer produced has no Spark row schema in
    its footer; Spark's own inference (and its conversion rules) read it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "foreign"
    path.mkdir()
    table = pa.table({"k": pa.array([1, 2], pa.int32()), "s": ["a", None]})
    pq.write_table(table, str(path / "part-00000.parquet"))
    (path / "_SUCCESS").write_bytes(b"")
    assert _footer_schema(str(path)) is None
    _same_as_plain(spark, str(path))


def test_falls_back_for_uri_and_uncommitted_paths(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(5).write.parquet(path)
    uri = "file://" + path
    assert _footer_schema(uri) is None
    assert _rows(read_table(spark, uri)) == _rows(spark.read.parquet(path))
    os.remove(os.path.join(path, "_SUCCESS"))
    assert _footer_schema(path) is None
    _same_as_plain(spark, path)
