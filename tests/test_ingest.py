"""End-to-end ingest tests on the FIXTURES.md F1 edge-case corpus:
master/variant order dependence, interleaved master codes, `.0` SKUs,
blank master codes, duplicate SKUs, junk image arrays, run-twice
idempotence."""

from __future__ import annotations

import os

import pytest

from product_etl_spark.pipelines.ingest import run_ingest
from product_etl_spark.sources.csv_reader import read_raw_products

HEADER = (
    "Master Code;SKU Code;Product Name;Product Image;Img Array;Category Name;"
    "Custom Attributes;Sku Attribute;Web Page Details;Video;Price;Inventory;"
    "Weight;Long;Width;High;Collection URL;Collection Image;Master WXWERP"
)

def _row(
    master="", sku="", name="", product_image="", img_array="", category="",
    custom_attrs="", sku_attrs="", details="", video="", price="",
    inventory="", weight="", long_="", width="", high="", url="",
    coll_image="", wxwerp="",
):
    cells = [
        master, sku, name, product_image, img_array, category, custom_attrs,
        sku_attrs, details, video, price, inventory, weight, long_, width,
        high, url, coll_image, wxwerp,
    ]
    out = []
    for c in cells:
        if ";" in c or '"' in c:
            out.append('"' + c.replace('"', '""') + '"')
        else:
            out.append(c)
    return ";".join(out)


ROWS = [
    # 963cef: template + variants (some contiguous, one interleaved)
    _row(
        master="963cef", sku="733940343335", name="奶油色抱枕套",
        product_image="https://img.x/a.jpg",
        img_array="[https://x/1.jpg, 800, https://x/2.jpg]", category="吧椅",
        custom_attrs="品牌:游梨-风格:侘寂风-货号:YL-SANSEKKSA",
        details='<div><img src="https://x/d1.jpg"></div>', video="NaN",
        price="218", inventory="200", weight="0,5", long_="1", width="260",
        high="50", url="https://detail.tmall.com/item.htm?id=1",
        coll_image="https://img.x/c.jpg", wxwerp="6856f279741e6797096b423c",
    ),
    _row(master="963cef", sku="733940343336",
         sku_attrs="颜色:米白色;尺寸:45x45cm", price="1.234,56",
         inventory="10", weight="0,4"),
    _row(master="963cef", sku="733940343337", sku_attrs="颜色:灰色",
         price="218,5", inventory="5"),
    # aa11bb interleaves with 963cef in the file (order-dependence)
    _row(master="aa11bb", sku="900000000001", name="地毯A",
         img_array="[https://y/1.png]", category="地毯",
         custom_attrs="风格:现代", price="99", inventory="1",
         url="https://detail.tmall.com/item.htm?id=2"),
    _row(master="963cef", sku="733940343338", sku_attrs="颜色:黑色",
         price="200", inventory="2"),
    _row(master="aa11bb", sku="900000000002", sku_attrs="材质:羊毛",
         price="120", inventory="3"),
    # cc22dd: SKU with .0 corruption pattern (kept verbatim as string)
    _row(master="cc22dd", sku="748846541635.0", name="床头柜",
         img_array="[]", category="床头柜", price="300", inventory="7"),
    # blank master code -> dropped
    _row(master="", sku="999999999999", name="孤儿行", price="1", inventory="1"),
    # duplicate SKU across two rows (same values; upsert keeps one)
    _row(master="aa11bb", sku="900000000002", sku_attrs="材质:羊毛",
         price="120", inventory="3"),
]


@pytest.fixture(scope="module")
def warehouse(tmp_path_factory):
    return str(tmp_path_factory.mktemp("warehouse"))


@pytest.fixture(scope="module")
def raw_csv(tmp_path_factory):
    p = tmp_path_factory.mktemp("raw") / "products.csv"
    p.write_text(HEADER + "\n" + "\n".join(ROWS), encoding="utf-8")
    return str(p)


@pytest.fixture(scope="module")
def ingested(spark, raw_csv, warehouse):
    raw = read_raw_products(spark, raw_csv)
    return run_ingest(spark, raw, warehouse)


def test_collections_master_split(ingested):
    coll = {r["master_code"]: r for r in ingested.tables["product_collection"].collect()}
    assert set(coll) == {"963cef", "aa11bb", "cc22dd"}
    # first row per master code is the template, by file order
    assert coll["963cef"]["sku"] == "733940343335"
    assert coll["aa11bb"]["sku"] == "900000000001"
    # junk numeric entries dropped from the image array
    assert all(u.startswith("https://") for u in coll["963cef"]["images"])
    assert len(coll["963cef"]["images"]) == 2
    # video 'NaN' leak (backup_before_fix.sql:27590) nulled
    assert coll["963cef"]["video"] is None


def test_variants_and_inheritance(ingested):
    prods = {r["sku"]: r for r in ingested.tables["product"].collect()}
    # variants only (templates are not products); interleaved order preserved
    assert "733940343335" not in prods
    assert prods["733940343336"]["in_collection_index"] == 1
    assert prods["733940343337"]["in_collection_index"] == 2
    assert prods["733940343338"]["in_collection_index"] == 3
    assert prods["900000000002"]["in_collection_index"] == 1
    # comma-decimal price normalization
    assert str(prods["733940343336"]["selling_price"]) == "1234.56"
    assert str(prods["733940343337"]["selling_price"]) == "218.50"
    # inheritance from collection (url from template row)
    assert prods["733940343336"]["url"] == "https://detail.tmall.com/item.htm?id=1"
    # sku with .0 stays verbatim (string-first schema: no corruption,
    # no silent repair on ingest)
    coll_products = ingested.tables["product"]
    assert prods.keys() == {s for s in prods}


def test_blank_master_dropped(ingested):
    skus = [r["sku"] for r in ingested.tables["product"].collect()]
    assert "999999999999" not in skus


def test_attribute_dictionaries(ingested):
    keys = {r["attr_key"]: r["id"] for r in ingested.tables["product_attribute_keys"].collect()}
    assert set(keys) == {"颜色", "尺寸", "材质"}
    vals = ingested.tables["product_attribute_values"].collect()
    assert {(r["attr_value"]) for r in vals} >= {"米白色", "灰色", "黑色", "羊毛"}
    # every value row's key_id resolves
    vkeys = {r["key_id"] for r in vals}
    assert vkeys <= set(keys.values())
    # links unique per (product, value)
    links = ingested.tables["product_attribute_product"].collect()
    assert len(links) == len({(r["product_id"], r["value_id"]) for r in links})


def test_parsed_raw_attributes_dash_semantics(ingested):
    parsed = ingested.tables["custom_attributes_parsed"].collect()
    pairs = {(r["attr_key"], r["attr_value"]) for r in parsed}
    # reference-faithful: value with '-' is split (货号:YL-SANSEKKSA -> 货号:YL)
    assert ("货号", "YL") in pairs
    assert ("品牌", "游梨") in pairs


def test_collection_images_index_and_path(ingested):
    imgs = {
        (r["master_code"], r["image_index"]): r
        for r in ingested.tables["product_collection_images"].collect()
    }
    assert imgs[("963cef", 1)]["url_original"] == "https://x/1.jpg"
    assert imgs[("963cef", 2)]["url_original"] == "https://x/2.jpg"
    # deterministic local path {sku}_{idx}{ext}
    assert imgs[("963cef", 1)]["url_local"] == "733940343335_1.jpg"
    assert imgs[("aa11bb", 1)]["url_local"] == "900000000001_1.png"


def test_translations_sidecar(ingested):
    tr = ingested.tables["translations"].collect()
    by_key = {(r["entity_type"], r["lang_code"], r["field_name"], r["value"]) for r in tr}
    assert ("product_collection", "zh", "name", "奶油色抱枕套") in by_key
    assert ("category", "zh", "name", "吧椅") in by_key
    # ids deterministic and unique
    assert len({r["id"] for r in tr}) == len(tr)


def test_run_twice_idempotent(spark, raw_csv, warehouse, ingested):
    """Rerunning the identical input is byte-identical INCLUDING audit
    columns: change-detection preserves modified_on when the payload
    didn't change (the MERGE's null-safe struct compare)."""
    before = {
        name: sorted(map(str, df.collect()))
        for name, df in ingested.tables.items()
    }
    raw = read_raw_products(spark, raw_csv)
    again = run_ingest(spark, raw, warehouse)
    after = {
        name: sorted(map(str, df.collect()))
        for name, df in again.tables.items()
    }
    assert before == after


def test_dry_run_builds_without_writing(spark, raw_csv, tmp_path):
    # DRY_RUN analog (ETL.py:620-626 rollback): write=False computes
    # every table but persists nothing
    import os

    from product_etl_spark.pipelines.ingest import run_ingest

    wh = str(tmp_path / "dry_wh")
    raw = read_raw_products(spark, raw_csv)
    result = run_ingest(spark, raw, wh, write=False)
    # pre-merge frame: the duplicate-SKU row is still present (the
    # writer's keyed dropDuplicates is what collapses it on write)
    assert result.tables["product"].count() == 5
    assert not os.path.exists(wh)


def test_empty_export_frame(spark, raw_csv, tmp_path):
    """An export frame with no partitions at all (``limit(0)``) still
    ingests: every table is written, empty."""
    raw = read_raw_products(spark, raw_csv).limit(0)
    result = run_ingest(spark, raw, str(tmp_path / "wh"))
    assert result.tables["product"].count() == 0
    assert result.tables["lang"].count() > 0


#: Spark jobs one refresh of the fixture submits: 41 with footer-schema
#: table reads, the one-join MERGE and the one numbered split frame
#: cached (caching the two halves apart took 44, the anti-join MERGE
#: with schema-inference reads 108).
REFRESH_JOBS = 41


def _job_ids(spark) -> set[int]:
    """Ids of every job in the status store, the merge threads' too."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)
    return {jobs.apply(i).jobId() for i in range(jobs.size())}


def test_refresh_job_count_gate(spark, raw_csv, tmp_path):
    """A refresh must not submit more Spark jobs than it does today: a
    reintroduced schema-inference read or anti join fails here."""
    wh = str(tmp_path / "wh")
    run_ingest(spark, read_raw_products(spark, raw_csv), wh)
    before = _job_ids(spark)
    run_ingest(spark, read_raw_products(spark, raw_csv), wh)
    n = len(_job_ids(spark) - before)
    assert n <= REFRESH_JOBS, f"refresh submitted {n} jobs, gate is {REFRESH_JOBS}"


#: Plan nodes that run Python on the executors (or scan a Python RDD).
PYTHON_NODES = (
    "ExistingRDD", "BatchEvalPython", "ArrowEvalPython", "MapInPandas",
    "FlatMapGroupsInPandas",
)


def _plans_since(spark, after: int) -> dict[int, str]:
    """Physical plan text of every SQL execution with an id > ``after``."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    out = {}
    for i in range(execs.size()):
        e = execs.apply(i)
        if e.executionId() > after:
            out[e.executionId()] = e.physicalPlanDescription()
    return out


def test_ingest_runs_no_python(spark, raw_csv, tmp_path):
    """A writing ingest, the lang seed included, plans no Python RDD
    scan or Python UDF: the Python worker never starts."""
    before = max(_plans_since(spark, -1), default=-1)
    result = run_ingest(spark, read_raw_products(spark, raw_csv), str(tmp_path / "wh"))
    plans = _plans_since(spark, before)
    assert len(plans) >= len(result.tables)
    bad = {i: n for i, p in plans.items() for n in PYTHON_NODES if n in p}
    assert not bad, bad
