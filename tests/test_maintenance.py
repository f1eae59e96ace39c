"""Maintenance-job + verification-suite tests, including running the
full warehouse audit over the ingest fixture output."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from product_etl_spark import ids
from product_etl_spark.pipelines.maintenance import (
    cleanup_orphans,
    consistency_report,
    find_orphans,
    fix_sku_dot_zero,
    relink_products_by_master_code,
)
from product_etl_spark.pipelines.verification import (
    Inheritance,
    NoOrphans,
    UniqueKey,
    assert_all,
    run_checks,
    run_warehouse_checks,
    warehouse_checks,
)


def _products(spark):
    rows = [
        ("x", "748846541635.0", "m1", "c-bad"),
        ("x", "100.0", "m1", "c1"),
        ("x", "100", "m2", "c2"),
        ("x", "1.00", "m2", None),
    ]
    return spark.createDataFrame(
        rows, "id string, sku string, master_code string, collection_id string"
    )


def test_fix_sku_dot_zero_anchored(spark):
    fixed = {r["sku"] for r in fix_sku_dot_zero(_products(spark)).collect()}
    # "100.0" -> "100" (collides with existing "100": both now valid rows,
    # dedup is the upsert writer's job); "1.00" untouched
    assert fixed == {"748846541635", "100", "1.00"}
    # ids re-derived deterministically from the fixed sku
    row = (
        fix_sku_dot_zero(_products(spark))
        .filter(F.col("sku") == "748846541635")
        .collect()[0]
    )
    assert row["id"] == str(uuid.uuid5(ids.NS_PRODUCT, "748846541635"))


def test_find_and_cleanup_orphans(spark):
    child = spark.createDataFrame(
        [("a", "p1"), ("b", "p2"), ("c", "p_missing")], "id string, fk string"
    )
    parent = spark.createDataFrame([("p1",), ("p2",)], "pk string")
    orphans = find_orphans(child, parent, "fk", "pk").collect()
    assert [r["id"] for r in orphans] == ["c"]
    kept = sorted(r["id"] for r in cleanup_orphans(child, parent, "fk", "pk").collect())
    assert kept == ["a", "b"]


def test_relink_by_master_code(spark):
    product = _products(spark)
    collection = spark.createDataFrame(
        [("c1", "m1"), ("c2", "m2")], "id string, master_code string"
    )
    fixed = relink_products_by_master_code(product, collection).collect()
    by_sku = {r["sku"]: r["collection_id"] for r in fixed}
    assert by_sku["748846541635.0"] == "c1"  # repaired from c-bad
    assert by_sku["1.00"] == "c2"  # null FK repaired too


def test_consistency_report(spark):
    left = spark.createDataFrame([("a",), ("b",), ("c",)], "k1 string")
    right = spark.createDataFrame([("b",), ("c",), ("d",)], "k2 string")
    row = consistency_report(left, right, "k1", "k2").collect()[0]
    assert (row["in_both"], row["only_in_left"], row["only_in_right"]) == (2, 1, 1)


def test_checks_catch_violations(spark):
    def alone(check):
        return run_checks([check])[0]

    df = spark.createDataFrame([("a", 1), ("a", 2)], "k string, v int")
    assert not alone(UniqueKey("t", df, ("k",))).ok
    # NULL keys group together, as under distinct(): two NULLs collide
    nulls = spark.createDataFrame(
        [(None, 1), (None, 2), ("b", 3)], "k string, v int"
    )
    dup_null = alone(UniqueKey("t", nulls, ("k",)))
    assert not dup_null.ok and dup_null.details == "3 rows / 2 distinct"
    child = spark.createDataFrame([("x", "missing")], "id string, fk string")
    parent = spark.createDataFrame([("other",)], "pk string")
    assert not alone(NoOrphans("t", child, parent, "fk", "pk")).ok
    p = spark.createDataFrame([("p1", "c1", "http://wrong")], "id string, collection_id string, url string")
    c = spark.createDataFrame([("c1", "http://right")], "id string, url string")
    assert not alone(Inheritance(p, c)).ok


def test_composite_key_null_patterns(spark):
    """A composite key's NULL pattern is part of the key: (NULL,'x'),
    ('x',NULL), ('','x') and (NULL,NULL) are four keys, each NULL
    pattern groups with itself, as under ``distinct()``. Integral
    columns join string ones in the same key tuple."""
    df = spark.createDataFrame(
        [
            (None, "x", 1), ("x", None, 1), ("", "x", 1), (None, None, 1),
            (None, "x", 1), (None, None, 1), (None, None, 2),
        ],
        "a string, b string, n int",
    )
    assert df.select("a", "b").distinct().count() == 4
    got = run_checks([UniqueKey("t", df, ("a", "b")), UniqueKey("t", df, ("a", "b", "n"))])
    assert [(r.name, r.ok, r.details) for r in got] == [
        ("unique:t(a,b)", False, "7 rows / 4 distinct"),
        ("unique:t(a,b,n)", False, "7 rows / 5 distinct"),
    ]
    # a NULL FK is skipped, not an orphan; a NULL PK matches nothing
    child = spark.createDataFrame([(None,), ("p1",), ("p2",)], "fk string")
    parent = spark.createDataFrame([("p1",), (None,)], "pk string")
    orphans = run_checks([NoOrphans("t", child, parent, "fk", "pk")])[0]
    assert (orphans.ok, orphans.details) == (False, "1 orphans")


def test_key_checks_reject_non_injective_types(spark):
    """Keys are compared as strings, which is exact only for string
    and integral columns of one type: anything else raises."""
    floats = spark.createDataFrame([(1.0,), (1.0,)], "k double")
    with pytest.raises(TypeError, match="double"):
        run_checks([UniqueKey("t", floats, ("k",))])
    child = spark.createDataFrame([(1,)], "fk int")
    parent = spark.createDataFrame([("1",)], "pk string")
    with pytest.raises(TypeError, match="key types differ"):
        run_checks([NoOrphans("t", child, parent, "fk", "pk")])


def test_warehouse_checks_names_order_and_details(spark):
    """The one-plan audit reports every check, in order, with the
    same name, verdict and details text as each check run alone."""
    product = spark.createDataFrame(
        [
            ("p1", "s1", "c1", "http://a"),
            ("p2", "s1", "c9", None),
            ("p3", "s3", "c2", "http://x"),
        ],
        "id string, sku string, collection_id string, url string",
    )
    collection = spark.createDataFrame(
        [("c1", "m1", "http://a"), ("c2", "m2", "http://b"), ("c3", None, None)],
        "id string, master_code string, url string",
    )
    links = spark.createDataFrame(
        [("p1", "v1"), ("p9", "v1")], "product_id string, value_id string"
    )
    tables = {
        "product_collection": collection,
        "product": product,
        "product_attribute_product": links,
    }
    got = [(r.name, r.ok, r.details) for r in run_warehouse_checks(tables)]
    assert got == [
        ("unique:product_collection(master_code)", True, "3 rows / 3 distinct"),
        ("unique:product(sku)", False, "3 rows / 2 distinct"),
        ("unique:product_attribute_product(product_id,value_id)", True, "2 rows / 2 distinct"),
        ("no_orphans:product->collection", False, "1 orphans"),
        ("product_url_inheritance", False, "1 mismatched"),
        ("no_orphans:attr_link->product", False, "1 orphans"),
    ]
    alone = [run_checks([check])[0] for check in warehouse_checks(tables)]
    assert got == [(r.name, r.ok, r.details) for r in alone]
    assert run_warehouse_checks({}) == []


#: Spark jobs the full audit of the F1 fixture warehouse submits.
AUDIT_JOBS = 5


def test_warehouse_audit_on_ingest_fixture(spark, tmp_path):
    # full-circle: ingest the F1 fixture, then the audit must pass
    import test_ingest as TI
    from product_etl_spark.pipelines.ingest import run_ingest
    from product_etl_spark.sources.csv_reader import read_raw_products

    csv = tmp_path / "raw.csv"
    csv.write_text(TI.HEADER + "\n" + "\n".join(TI.ROWS), encoding="utf-8")
    result = run_ingest(
        spark, read_raw_products(spark, str(csv)), str(tmp_path / "wh")
    )
    before = TI._job_ids(spark)
    results = run_warehouse_checks(result.tables)
    jobs = len(TI._job_ids(spark) - before)
    assert_all(results)
    assert len(results) > 15
    # One plan for all 16 checks (16 plans took 36 jobs)
    assert jobs <= AUDIT_JOBS, f"audit submitted {jobs} jobs, gate is {AUDIT_JOBS}"


def test_compact_table(spark, tmp_path):
    from product_etl_spark.pipelines.maintenance import compact_table
    import pathlib

    path = str(tmp_path / "t")
    spark.range(10000).selectExpr("id", "id % 100 as k").repartition(20).write.parquet(path)
    n_before = len(list(pathlib.Path(path).glob("*.parquet")))
    assert n_before >= 20
    out = compact_table(spark, path, target_file_mb=256, sort_cols=["k"])
    n_after = len(list(pathlib.Path(path).glob("*.parquet")))
    assert n_after < n_before
    assert out.count() == 10000


def test_upsert_schema_evolution(spark, tmp_path):
    from product_etl_spark.operators.upsert import upsert_parquet

    path = str(tmp_path / "evolve")
    v1 = spark.createDataFrame([("a", 1)], "k string, x int")
    upsert_parquet(spark, v1, path, keys=["k"])
    # new column arrives: old rows get NULL, new rows carry it
    v2 = spark.createDataFrame([("b", 2, "extra")], "k string, x int, y string")
    out = upsert_parquet(spark, v2, path, keys=["k"])
    rows = {r["k"]: r for r in out.collect()}
    assert rows["a"]["x"] == 1 and rows["a"]["y"] is None
    assert rows["b"]["y"] == "extra"


def test_upsert_partitioned_write_prunes(spark, tmp_path):
    import pathlib

    from pyspark.sql import functions as F
    from product_etl_spark.operators.upsert import upsert_parquet

    path = str(tmp_path / "bykey")
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 5).cast("string").alias("part")
    )
    out = upsert_parquet(spark, df, path, keys=["k"], partition_cols=["part"])
    assert out.count() == 100
    # hive-style layout exists and the filtered scan prunes to it
    dirs = {p.name for p in pathlib.Path(path).iterdir() if p.is_dir()}
    assert "part=3" in dirs
    scan = spark.read.parquet(path).filter(F.col("part") == "3")
    scan.collect()
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(part" in plan


def test_seeded_lang_table(spark, tmp_path):
    from product_etl_spark.pipelines.ingest import seed_lang_table

    wh = str(tmp_path / "wh")
    langs = seed_lang_table(spark, wh)
    codes = sorted(r["lang_code"] for r in langs.collect())
    assert codes == ["en", "ru", "th", "zh"]
    snapshot = sorted(map(str, langs.select("id", "lang_code").collect()))
    # idempotent + ids stable (collect from the fresh handle: merge
    # swaps the directory, so pre-merge handles must be re-read)
    again = seed_lang_table(spark, wh)
    assert sorted(map(str, again.select("id", "lang_code").collect())) == snapshot
    # ids are uuid5 of the code; four rows in one part file
    assert {r["lang_code"]: r["id"] for r in again.collect()} == {
        c: str(uuid.uuid5(ids.NS_LANG, c)) for c in codes
    }
    import pathlib

    parts = list(pathlib.Path(wh, "lang").glob("part-*.parquet"))
    assert len(parts) == 1
    assert spark.read.parquet(str(parts[0])).count() == 4


def test_snapshot_table(spark, tmp_path):
    from product_etl_spark.pipelines.maintenance import snapshot_table

    path = str(tmp_path / "t2")
    spark.range(10).write.parquet(path)
    snap = snapshot_table(spark, path, tag="prefix")
    assert spark.read.parquet(snap).count() == 10
    assert spark.read.parquet(path).count() == 10


def test_sku_repair_rekeys_children_and_rewrites_paths(spark):
    """The '.0' repair must not orphan referencing rows: child FKs
    follow the (old_id, new_id) mapping and image paths get the
    reference's REPLACE treatment (fix_sku_dot_zero.py:47-77)."""
    import uuid as _uuid

    from product_etl_spark import ids as _ids
    from product_etl_spark.pipelines.maintenance import (
        find_orphans,
        run_sku_repair,
    )

    def pid(sku):
        return str(_uuid.uuid5(_ids.NS_PRODUCT, sku))

    product = spark.createDataFrame(
        [(pid("A100.0"), "A100.0"), (pid("B200"), "B200")], "id string, sku string"
    )
    attrs = spark.createDataFrame(
        [(pid("A100.0"), "color"), (pid("B200"), "size")],
        "product_id string, key string",
    )
    images = spark.createDataFrame(
        [
            ("A100.0", "pictures/A100.0/img_1.jpg"),
            ("B200", "pictures/B200/img_1.jpg"),
        ],
        "collection_sku string, url_local string",
    )
    out = run_sku_repair(
        product, children={"attrs": (attrs, "product_id")}, images=images
    )
    # mapping covers only the corrupted sku
    m = out["mapping"].collect()
    assert len(m) == 1 and m[0]["old_sku"] == "A100.0" and m[0]["new_sku"] == "A100"
    # product repaired, id re-derived
    prod = {r["sku"]: r["id"] for r in out["product"].collect()}
    assert set(prod) == {"A100", "B200"} and prod["A100"] == pid("A100")
    # children follow: zero orphans after the repair
    assert find_orphans(out["attrs"], out["product"], "product_id", "id").count() == 0
    # untouched FK passes through unchanged
    fk = {r["key"]: r["product_id"] for r in out["attrs"].collect()}
    assert fk["size"] == pid("B200") and fk["color"] == pid("A100")
    # image path REPLACE + sku column update; clean rows untouched
    img = {r["collection_sku"]: r["url_local"] for r in out["images"].collect()}
    assert img["A100"] == "pictures/A100/img_1.jpg"
    assert img["B200"] == "pictures/B200/img_1.jpg"


def test_upsert_pruned_merge_leaves_untouched_partitions_alone(spark, tmp_path):
    """A merge into a partitioned table must neither rewrite nor even
    touch partition directories its updates don't hit (file inodes
    and mtimes unchanged), while merging correctly into touched ones."""
    import pathlib

    from pyspark.sql import functions as F
    from product_etl_spark.operators.upsert import upsert_parquet

    path = str(tmp_path / "pruned")
    base = spark.createDataFrame(
        [(1, "p0", "old1"), (2, "p0", "old2"), (3, "p1", "keep3"), (4, "p2", "keep4")],
        "k long, part string, v string",
    )
    upsert_parquet(spark, base, path, keys=["k"], partition_cols=["part"])

    def files_of(part):
        return {
            (f.name, f.stat().st_ino, f.stat().st_mtime_ns)
            for f in pathlib.Path(path, f"part={part}").glob("*.parquet")
        }

    before_p1, before_p2 = files_of("p1"), files_of("p2")
    upd = spark.createDataFrame(
        [(2, "p0", "NEW2"), (5, "p0", "new5")], "k long, part string, v string"
    )
    out = upsert_parquet(spark, upd, path, keys=["k"], partition_cols=["part"])
    rows = {r["k"]: r["v"] for r in out.collect()}
    assert rows == {1: "old1", 2: "NEW2", 3: "keep3", 4: "keep4", 5: "new5"}
    # untouched partitions: exact same files, byte-for-byte untouched
    assert files_of("p1") == before_p1 and files_of("p2") == before_p2
    # created_on preserved for updated key, modified_on refreshed only
    # for written rows
    audit = {r["k"]: r for r in out.select("k", "created_on", "modified_on").collect()}
    assert audit[3]["modified_on"] == audit[3]["created_on"]


def test_audit_retrofit_on_pre_audit_table(spark, tmp_path):
    """A table written before the audit era gains created_on/modified_on
    with a backfill stamp; a later MERGE updates modified_on ONLY on
    rows whose payload changed (the trigger semantics,
    add_timestamp_fields_dynamic.sql:8-126)."""
    from pyspark.sql import functions as F
    from product_etl_spark.operators.upsert import upsert_parquet
    from product_etl_spark.pipelines.maintenance import (
        add_audit_columns,
        add_audit_columns_warehouse,
    )

    wh = tmp_path / "wh"
    wh.mkdir()
    path = str(wh / "legacy")
    spark.createDataFrame(
        [("a", 1), ("b", 2)], "k string, v int"
    ).write.parquet(path)

    out = add_audit_columns(spark, path, backfill="2020-01-01 00:00:00")
    assert {"created_on", "modified_on"} <= set(out.columns)
    stamps = {r["k"]: r for r in out.collect()}
    assert str(stamps["a"]["created_on"]).startswith("2020-01-01")
    # rerun: IF NOT EXISTS no-op, stamps unchanged
    again = add_audit_columns(spark, path, backfill="2024-06-06 00:00:00")
    assert str(again.filter(F.col("k") == "a").collect()[0]["created_on"]).startswith("2020-01-01")

    # post-retrofit MERGE: changed row refreshes modified_on, unchanged keeps it
    upd = spark.createDataFrame([("a", 99), ("b", 2)], "k string, v int")
    merged = {r["k"]: r for r in upsert_parquet(spark, upd, path, keys=["k"]).collect()}
    assert str(merged["b"]["modified_on"]).startswith("2020-01-01")  # unchanged
    assert not str(merged["a"]["modified_on"]).startswith("2020-01-01")  # changed
    assert str(merged["a"]["created_on"]).startswith("2020-01-01")  # preserved

    # warehouse-wide loop skips nothing and counts rows
    counts = add_audit_columns_warehouse(spark, str(wh))
    assert counts == {"legacy": 2}


def test_backfill_missing_children_deterministic_and_idempotent(spark, tmp_path):
    from pyspark.sql import functions as F
    from product_etl_spark import ids
    from product_etl_spark.pipelines.maintenance import backfill_missing_children

    path = str(tmp_path / "details")
    parents = spark.createDataFrame(
        [("c1", "MC-1"), ("c2", "MC-2"), ("c3", "MC-3")],
        "id string, master_code string",
    )
    # pre-existing child for c1 only
    spark.createDataFrame(
        [("c1", "existing-id", "<h1>real</h1>")],
        "collection_id string, id string, details_html string",
    ).write.parquet(path)
    open(f"{path}/_SUCCESS", "a").close()

    defaults = {
        "id": ids.uuid5_col(ids.NS_PRODUCT, F.col("id")),
        "details_html": F.concat(
            F.lit("<h1>Product Details for "), F.col("master_code"), F.lit("</h1>")
        ),
    }
    out1 = backfill_missing_children(
        spark, parents, path, "id", "collection_id", defaults, ["collection_id"]
    )
    assert out1.count() == 3
    got = {r.collection_id: r.details_html for r in out1.collect()}
    assert got["c1"] == "<h1>real</h1>"  # existing row untouched
    assert got["c2"] == "<h1>Product Details for MC-2</h1>"

    # rerun: no new rows, same ids (uuid5, not uuid4)
    ids_before = {r.collection_id: r.id for r in out1.collect()}
    out2 = backfill_missing_children(
        spark, parents, path, "id", "collection_id", defaults, ["collection_id"]
    )
    assert out2.count() == 3
    assert {r.collection_id: r.id for r in out2.collect()} == ids_before


def test_backfill_skips_null_keyed_parents(spark, tmp_path):
    from pyspark.sql import functions as F
    from product_etl_spark.pipelines.maintenance import backfill_missing_children

    path = str(tmp_path / "nulldetails")
    parents = spark.createDataFrame(
        [("c1", "MC-1"), (None, "MC-NULL")], "id string, master_code string"
    )
    defaults = {"details_html": F.col("master_code")}
    for _ in range(3):  # reruns must not accumulate NULL placeholders
        out = backfill_missing_children(
            spark, parents, path, "id", "collection_id", defaults, ["collection_id"]
        )
    rows = out.collect()
    assert len(rows) == 1 and rows[0].collection_id == "c1"
