"""The one table-publish path (product_etl_spark/fs.py): a failed
rewrite leaves no staging directory beside the table, every
rewriter refuses to run while another writer holds the table lock,
and no module outside fs.py renames table directories by hand."""

from __future__ import annotations

import ast
import os
import pathlib

import pytest
from pyspark.sql import functions as F

from product_etl_spark.fs import ConcurrentWriteError, table_write_lock
from product_etl_spark.operators.table_maintenance import (
    compact_partitions,
    expire_partitions,
)
from product_etl_spark.operators.upsert import upsert_parquet
from product_etl_spark.pipelines.maintenance import add_audit_columns, compact_table

ROOT = pathlib.Path(__file__).resolve().parent.parent


def _fail_publish(monkeypatch, path):
    """Make the publish fail after the staged write succeeded: the
    rename that moves the old table aside raises."""
    real_rename = os.rename

    def rename(src, dst):
        if src == path:
            raise PermissionError(f"cannot move {src!r} aside")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", rename)


def _table(spark, path):
    spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y")], "k int, v string, dt string"
    ).write.partitionBy("dt").parquet(path)


def _rows(spark, path):
    return sorted(
        tuple(r) for r in spark.read.parquet(path).select("k", "v").collect()
    )


@pytest.mark.parametrize("failure", ["write", "publish"])
def test_failed_upsert_leaves_no_staging(spark, tmp_path, monkeypatch, failure):
    path = str(tmp_path / "t")
    upsert_parquet(
        spark, spark.createDataFrame([(1, "a")], "k int, v string"), path, ["k"]
    )
    upd = spark.createDataFrame([(2, "b"), (3, "c")], "k int, v string")
    if failure == "write":  # one row fails inside the Spark write job
        upd = upd.withColumn(
            "v",
            F.when(F.col("k") == 3, F.raise_error(F.lit("boom"))).otherwise(F.col("v")),
        )
    else:
        _fail_publish(monkeypatch, path)
    with pytest.raises(Exception, match="boom|aside"):
        upsert_parquet(spark, upd, path, ["k"])
    monkeypatch.undo()
    assert os.listdir(tmp_path) == ["t"]
    assert _rows(spark, path) == [(1, "a")]


@pytest.mark.parametrize("failure", ["write", "publish"])
def test_failed_compact_table_leaves_no_staging(spark, tmp_path, monkeypatch, failure):
    wh = tmp_path / "wh"
    path = str(wh / "t")
    spark.createDataFrame([(1,)], "k int").coalesce(1).write.parquet(path)
    if failure == "write":
        # a second file whose `k` has another type: the schema comes
        # from one footer, and the rewrite fails while scanning
        other = str(tmp_path / "other")
        spark.createDataFrame([("x",)], "k string").coalesce(1).write.parquet(other)
        [f] = [f for f in os.listdir(other) if f.endswith(".parquet")]
        os.rename(os.path.join(other, f), os.path.join(path, "part-9-other.parquet"))
    else:
        _fail_publish(monkeypatch, path)
    with pytest.raises(Exception):
        compact_table(spark, path)
    monkeypatch.undo()
    assert os.listdir(wh) == ["t"]
    n_files = 2 if failure == "write" else 1
    assert len([f for f in os.listdir(path) if f.endswith(".parquet")]) == n_files


@pytest.mark.parametrize(
    "rewrite",
    [
        lambda spark, path: compact_table(spark, path),
        lambda spark, path: add_audit_columns(spark, path),
        lambda spark, path: compact_partitions(spark, path, min_files=1),
        lambda spark, path: expire_partitions(path, "dt", keep=lambda v: False),
    ],
    ids=["compact_table", "add_audit_columns", "compact_partitions", "expire_partitions"],
)
def test_rewriters_respect_table_lock(spark, tmp_path, rewrite):
    path = str(tmp_path / "t")
    _table(spark, path)
    before = sorted(os.listdir(path))
    with table_write_lock(path):  # another writer holds the table
        with pytest.raises(ConcurrentWriteError):
            rewrite(spark, path)
    assert sorted(os.listdir(path)) == before
    assert _rows(spark, path) == [(1, "a"), (2, "b")]


_RENAME_ALLOWED = {("fs.py", None)}


def _renames(tree):
    """(top-level function or None, line) of every os.rename /
    os.replace call in a module, however ``os`` was imported."""
    os_names = {"os"}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            os_names |= {a.asname or a.name for a in node.names if a.name == "os"}
        if isinstance(node, ast.ImportFrom) and node.module == "os":
            bad = [a.name for a in node.names if a.name in ("rename", "replace")]
            assert not bad, f"line {node.lineno}: from os import {bad}"
    for top in tree.body:
        owner = top.name if isinstance(top, ast.FunctionDef) else None
        for node in ast.walk(top):
            if (
                isinstance(node, ast.Attribute)
                and node.attr in ("rename", "replace")
                and isinstance(node.value, ast.Name)
                and node.value.id in os_names
            ):
                yield owner, node.lineno


def test_table_directories_are_renamed_only_in_fs():
    pkg = ROOT / "product_etl_spark"
    stray = []
    for p in sorted(pkg.rglob("*.py")):
        rel = p.relative_to(pkg).as_posix()
        tree = ast.parse(p.read_text(encoding="utf-8"))
        for owner, line in _renames(tree):
            if (rel, None) in _RENAME_ALLOWED or (rel, owner) in _RENAME_ALLOWED:
                continue
            stray.append(f"{rel}:{line} ({owner or 'module level'})")
    assert not stray, (
        "publish through fs.staging/fs.swap_in instead of renaming "
        "by hand:\n" + "\n".join(stray)
    )
