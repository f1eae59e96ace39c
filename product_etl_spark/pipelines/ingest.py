"""Bulk product ingest — the reference's ``ETL.main()``
(utils/importer/ETL.py:86-630, lifecycle trace SURVEY.md §3.1)
re-expressed as ~6 declarative DataFrame jobs.

Where the reference runs one giant per-row loop with O(10) SQL
round-trips per product (ETL.py:134-618), this pipeline is:

1. window-split master/variant (operators/split.py),
2. mapping projection + cleaner expressions per target table,
3. deterministic uuid5 ids (no get-or-create read-backs),
4. dimension build via distinct (categories, attribute dictionaries),
5. explode for one-to-many children (images, parsed attributes),
6. idempotent MERGE writes per output table (operators/upsert.py).

Run twice => byte-identical tables, audit timestamps included —
modified_on refreshes only on payload change (tested); the reference
gets the same property from upsert-by-natural-key, one row at a time.
"""

from __future__ import annotations

from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from product_etl_spark import ids
from product_etl_spark.functions import cleaners as C
from product_etl_spark.operators.split import number_masters, split_numbered
from product_etl_spark.operators.upsert import upsert_parquet
from product_etl_spark.schemas import NATURAL_KEYS
from product_etl_spark.sources.csv_reader import (
    ROW_IDX,
    SOURCE_FILE,
    total_order_row_idx,
)


@dataclass
class IngestResult:
    tables: dict[str, DataFrame] = field(default_factory=dict)


# Raw CSV column names (FIXTURES.md F1, originals at ETL.py map.csv).
COL_MASTER = "Master Code"
COL_SKU = "SKU Code"
COL_NAME = "Product Name"
COL_PRODUCT_IMAGE = "Product Image"
COL_IMG_ARRAY = "Img Array"
COL_CATEGORY = "Category Name"
COL_CUSTOM_ATTRS = "Custom Attributes"
COL_SKU_ATTRS = "Sku Attribute"
COL_DETAILS = "Web Page Details"
COL_VIDEO = "Video"
COL_PRICE = "Price"
COL_INVENTORY = "Inventory"
COL_WEIGHT = "Weight"
COL_LONG = "Long"
COL_WIDTH = "Width"
COL_HIGH = "High"
COL_URL = "Collection URL"
COL_COLLECTION_IMAGE = "Collection Image"
COL_WXWERP = "Master WXWERP"


def _opt(df: DataFrame, name: str) -> F.Column:
    """Column if present in the raw frame, else NULL (exports vary)."""
    return F.col(f"`{name}`") if name in df.columns else F.lit(None).cast("string")


def _fits_broadcast(df: DataFrame, max_bytes: int | None = None) -> bool:
    """True when Catalyst's size estimate for ``df`` is within the
    session broadcast threshold — the gate for *forced* broadcast
    hints on dimensions that are usually-but-not-provably small. On
    any estimation failure, err toward False (Catalyst still
    broadcasts provably-small sides by itself)."""
    try:
        if max_bytes is None:
            max_bytes = int(
                df.sparkSession.conf.get(
                    "spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024)
                )
            )
        if max_bytes <= 0:
            return False
        est = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        return int(est) <= max_bytes
    except Exception:
        return False


def build_collections(templates: DataFrame) -> DataFrame:
    """Collection template rows -> product_collection table
    (projection + cleaners per ETL.py:145-163; images via parse_array
    ETL.py:151-152; video NaN-guard ETL.py:473-474)."""
    t = templates
    return t.select(
        ids.uuid5_col(ids.NS_COLLECTION, C.clean_string(_opt(t, COL_MASTER))).alias("id"),
        C.clean_string(_opt(t, COL_WXWERP)).alias("master_wxwerp"),
        C.clean_string(_opt(t, COL_URL)).alias("url"),
        C.clean_string(_opt(t, COL_MASTER)).alias("master_code"),
        C.clean_string(_opt(t, COL_COLLECTION_IMAGE)).alias("image"),
        _opt(t, COL_INVENTORY).try_cast("long").alias("inventory"),
        _opt(t, COL_LONG).try_cast("double").alias("long"),
        _opt(t, COL_WIDTH).try_cast("double").alias("width"),
        _opt(t, COL_HIGH).try_cast("double").alias("high"),
        C.clean_string(_opt(t, COL_SKU)).alias("sku"),
        C.normalize_decimal(_opt(t, COL_WEIGHT), 18, 3).alias("weight"),
        F.when(
            C.clean_string(_opt(t, COL_VIDEO)).isin("NaN", "nan"), F.lit(None)
        )
        .otherwise(C.clean_string(_opt(t, COL_VIDEO)))
        .alias("video"),
        C.parse_img_array(_opt(t, COL_IMG_ARRAY)).alias("images"),
    )


def build_products(variants: DataFrame, collections: DataFrame) -> DataFrame:
    """Variant rows -> product table with collection inheritance.

    Price comma-fix per ETL.py:503-504; url/image/images inherited
    from the collection when absent (ETL.py:540-556,
    utils/importer/migrate_product_inheritance.py:88-100) — a
    broadcast-able join on master_code instead of per-row lookups.
    """
    v = variants
    base = v.select(
        ids.uuid5_col(ids.NS_PRODUCT, C.clean_string(_opt(v, COL_SKU))).alias("id"),
        C.normalize_decimal(_opt(v, COL_PRICE)).alias("selling_price"),
        C.clean_string(_opt(v, COL_PRODUCT_IMAGE)).alias("_own_image"),
        _opt(v, COL_INVENTORY).try_cast("long").alias("inventory"),
        C.clean_string(_opt(v, COL_WEIGHT)).alias("weight"),
        _opt(v, COL_LONG).try_cast("double").alias("long"),
        _opt(v, COL_WIDTH).try_cast("double").alias("width"),
        _opt(v, COL_HIGH).try_cast("double").alias("high"),
        C.clean_string(_opt(v, COL_MASTER)).alias("master_code"),
        F.col("in_collection_index"),
        C.clean_string(_opt(v, COL_SKU)).alias("sku"),
    ).filter(F.col("sku").isNotNull())
    coll = collections.select(
        F.col("master_code"),
        F.col("id").alias("collection_id"),
        F.col("url").alias("_coll_url"),
        F.col("image").alias("_coll_image"),
        F.col("images").alias("_coll_images"),
    )
    # Collections ≪ products in this domain, but a forced broadcast of
    # an unboundedly-growing dimension is a 100 TB foot-gun: hint only
    # while the plan's size estimate says it fits, else let
    # Catalyst/AQE choose (they still broadcast small sides on their
    # own below the threshold).
    if _fits_broadcast(coll):
        coll = F.broadcast(coll)
    return (
        base.join(coll, "master_code", "left")
        .select(
            "id",
            "collection_id",
            "selling_price",
            F.coalesce("_own_image", "_coll_image").alias("image"),
            "inventory",
            "weight",
            "long",
            "width",
            "high",
            "master_code",
            "in_collection_index",
            "sku",
            F.col("_coll_url").alias("url"),
            F.col("_coll_images").alias("images"),
        )
    )


def build_translations(templates: DataFrame, lang_code: str = "zh") -> DataFrame:
    """Source-language translation rows for collection names
    (ETL.py:243-274 writes the zh name into
    product_collection_translations; our unified sidecar keys on
    (entity_type, entity_id, lang_code, field_name))."""
    t = templates
    ent_id = ids.uuid5_col(ids.NS_COLLECTION, C.clean_string(_opt(t, COL_MASTER)))
    value = C.clean_string(_opt(t, COL_NAME))
    row = t.select(
        F.lit("product_collection").alias("entity_type"),
        ent_id.alias("entity_id"),
        F.lit(lang_code).alias("lang_code"),
        F.lit("name").alias("field_name"),
        value.alias("value"),
    ).filter(F.col("value").isNotNull())
    return row.withColumn(
        "id",
        ids.uuid5_col(
            ids.NS_TRANSLATION, "entity_type", "entity_id", "lang_code", "field_name"
        ),
    )


def build_categories(templates: DataFrame, lang_code: str = "zh"):
    """Get-or-create categories (ETL.py:311-353) without the circular
    FK dance: distinct names -> category rows with uuid5 ids + a zh
    translation row + collection->category links. Returns
    (category, translations, links)."""
    t = templates
    named = t.select(
        C.clean_string(_opt(t, COL_MASTER)).alias("master_code"),
        C.clean_string(_opt(t, COL_CATEGORY)).alias("category_name"),
    ).filter(F.col("category_name").isNotNull())

    category = (
        named.select("category_name")
        .distinct()
        .select(
            ids.uuid5_col(ids.NS_CATEGORY, "category_name").alias("id"),
            F.col("category_name").alias("category_key"),
        )
    )
    cat_translations = category.select(
        F.lit("category").alias("entity_type"),
        F.col("id").alias("entity_id"),
        F.lit(lang_code).alias("lang_code"),
        F.lit("name").alias("field_name"),
        F.col("category_key").alias("value"),
    ).withColumn(
        "id",
        ids.uuid5_col(
            ids.NS_TRANSLATION, "entity_type", "entity_id", "lang_code", "field_name"
        ),
    )
    links = named.select(
        ids.uuid5_col(ids.NS_COLLECTION, "master_code").alias("collection_id"),
        ids.uuid5_col(ids.NS_CATEGORY, "category_name").alias("category_id"),
    ).withColumn(
        "id", ids.uuid5_col(ids.NS_ENGINE, "collection_id", "category_id")
    )
    return category, cat_translations, links


def build_raw_attributes(templates: DataFrame):
    """Custom-attribute raw strings + parsed k/v rows
    (ETL.py:374-393 raw storage; utils/custom_attributes_parser.py
    parse+explode). Returns (raw, parsed)."""
    t = templates
    raw = (
        t.select(C.clean_string(_opt(t, COL_CUSTOM_ATTRS)).alias("custom_attributes_raw"))
        .filter(F.col("custom_attributes_raw").isNotNull())
        .distinct()
        .select(
            ids.uuid5_col(ids.NS_RAW_ATTR, "custom_attributes_raw").alias("id"),
            "custom_attributes_raw",
        )
    )
    parsed = (
        raw.select(
            F.col("id").alias("raw_id"),
            F.explode(C.parse_attributes("custom_attributes_raw")).alias("kv"),
        )
        .select("raw_id", F.col("kv.attr_key"), F.col("kv.attr_value"))
        .dropDuplicates(["raw_id", "attr_key"])  # last-wins handled upstream
        .withColumn("id", ids.uuid5_col(ids.NS_ENGINE, "raw_id", "attr_key"))
    )
    return raw, parsed


def build_product_attributes(variants: DataFrame):
    """Per-variant sku-attribute dictionary (product_attribute_keys /
    _values / _product, utils/product_attributes_etl.py:60-87):
    parse -> explode -> dedup dictionaries with deterministic ids ->
    link rows. No read-backs: uuid5(key) and uuid5(key, value) are
    derivable on both sides of every join."""
    v = variants
    kv = (
        v.select(
            C.clean_string(_opt(v, COL_SKU)).alias("sku"),
            F.explode(C.parse_attributes(_opt(v, COL_SKU_ATTRS))).alias("kv"),
        )
        .filter(F.col("sku").isNotNull())
        .select("sku", F.col("kv.attr_key"), F.col("kv.attr_value"))
    )
    keys = (
        kv.select("attr_key")
        .distinct()
        .select(ids.uuid5_col(ids.NS_ATTR_KEY, "attr_key").alias("id"), "attr_key")
    )
    values = (
        kv.select("attr_key", "attr_value")
        .distinct()
        .select(
            ids.uuid5_col(ids.NS_ATTR_VALUE, "attr_key", "attr_value").alias("id"),
            ids.uuid5_col(ids.NS_ATTR_KEY, "attr_key").alias("key_id"),
            "attr_value",
        )
    )
    links = kv.select(
        ids.uuid5_col(ids.NS_PRODUCT, "sku").alias("product_id"),
        ids.uuid5_col(ids.NS_ATTR_VALUE, "attr_key", "attr_value").alias("value_id"),
    ).distinct().withColumn(
        "id", ids.uuid5_col(ids.NS_ENGINE, "product_id", "value_id")
    )
    return keys, values, links


def build_collection_images(collections: DataFrame) -> DataFrame:
    """images[] -> one row per (collection, index) with the
    deterministic local path {sku}_{idx}{ext}
    (utils/product_collection_img_array_processor.py:136-142 incl.
    the enumerate(start=1) index and extension default)."""
    c = collections
    exploded = c.select(
        F.col("sku").alias("collection_sku"),
        "master_code",
        F.posexplode_outer("images").alias("pos", "url_original"),
    ).filter(F.col("url_original").isNotNull())
    img_idx = (F.col("pos") + 1).cast("int")
    return exploded.select(
        "collection_sku",
        "master_code",
        img_idx.alias("image_index"),
        "url_original",
        F.concat(
            F.coalesce(F.col("collection_sku"), F.col("master_code")),
            F.lit("_"),
            img_idx.cast("string"),
            C.file_extension("url_original"),
        ).alias("url_local"),
    ).withColumn(
        "id", ids.uuid5_col(ids.NS_ENGINE, "master_code", F.col("image_index").cast("string"))
    )


#: Seed languages of the reference deployment
#: (backup_before_fix.sql:2316-2321).
SEED_LANGS = ["en", "zh", "ru", "th"]


def seed_lang_table(spark: SparkSession, warehouse: str) -> DataFrame:
    """Idempotent seed of the ``lang`` dimension (the reference
    get-or-creates 'en' at startup, ETL.py:111-124; we insert-only
    merge the full seed set with deterministic ids)."""
    # Built on the JVM from one single-partition row: a frame from a
    # Python list scans a Python RDD, which starts the Python worker
    # daemon (and one worker per row) to write four constants.
    codes = F.explode(F.array(*[F.lit(c) for c in SEED_LANGS])).alias("lang_code")
    rows = spark.range(1, numPartitions=1).select(codes)
    langs = rows.select(
        ids.uuid5_col(ids.NS_LANG, "lang_code").alias("id"), "lang_code"
    )
    return upsert_parquet(
        spark, langs, f"{warehouse}/lang", keys=["lang_code"], mode="insert_only"
    )


def run_ingest(
    spark: SparkSession,
    raw: DataFrame,
    warehouse: str,
    write: bool = True,
) -> IngestResult:
    """Full ingest: raw export frame -> all canonical tables.

    ``raw`` comes from sources.read_raw_products (string-typed +
    ``_source_row_idx``). With ``write=True`` each table is MERGEd
    into ``{warehouse}/{table}`` on its natural key — rerunning the
    same input is a no-op by construction.
    """
    numbered = number_masters(raw)
    if write:
        # All 11 table plans start from the split: cache the one
        # numbered frame both halves filter, so that the export is read
        # and the window run once, before the merge threads start, not
        # in each MERGE; released after the merges. Coalesced to the
        # export's partitions: the cached plan would otherwise keep the
        # window's spark.sql.shuffle.partitions (an empty frame can
        # have none).
        n = max(raw.rdd.getNumPartitions(), 1)
        numbered = numbered.coalesce(n).persist()
        numbered.count()
    templates, variants = split_numbered(numbered)

    # The lang seed and the 11 output tables are independent: each
    # MERGE is submitted as soon as its frame is built, so the driver
    # plans the later tables while the earlier merges run (Spark's
    # scheduler interleaves their jobs; on a cluster this keeps
    # executors busy instead of draining between small jobs). Thread
    # count bounded — each thread holds a job's driver-side state.
    tables: dict[str, DataFrame] = {}
    merges: dict[str, Future] = {}
    pool = ThreadPoolExecutor(max_workers=4) if write else None

    def emit(name: str, df: DataFrame) -> None:
        tables[name] = df
        if pool is not None:
            path = f"{warehouse}/{name}"
            merges[name] = pool.submit(upsert_parquet, spark, df, path, keys=NATURAL_KEYS[name])

    try:
        if pool is not None:
            lang = pool.submit(seed_lang_table, spark, warehouse)
        collections = build_collections(templates)
        emit("product_collection", collections)
        emit("product", build_products(variants, collections))
        category, cat_tr, cat_links = build_categories(templates)
        emit("translations", build_translations(templates).unionByName(cat_tr))
        emit("category", category)
        emit("product_collection_category", cat_links)
        attr_raw, attr_parsed = build_raw_attributes(templates)
        emit("custom_attributes_raw", attr_raw)
        emit("custom_attributes_parsed", attr_parsed)
        pk, pv, plinks = build_product_attributes(variants)
        emit("product_attribute_keys", pk)
        emit("product_attribute_values", pv)
        emit("product_attribute_product", plinks)
        emit("product_collection_images", build_collection_images(collections))
        if pool is not None:
            tables = {name: merge.result() for name, merge in merges.items()}
            tables["lang"] = lang.result()
    finally:
        if pool is not None:
            pool.shutdown()  # waits for every submitted merge
            numbered.unpersist()
    return IngestResult(tables=tables)


def stream_ingest_csv(
    spark: SparkSession,
    input_dir: str,
    warehouse: str,
    checkpoint: str,
    schema_cols: list[str],
    sep: str = ";",
    max_files_per_trigger: int | None = None,
):
    """Continuous product ingest: a file-source stream over the raw
    export directory; each micro-batch runs the full batch ingest
    (``run_ingest``) via foreachBatch — MERGE writes are
    not a native streaming sink, and foreachBatch is exactly the
    escape hatch for idempotent-batch sinks. The checkpoint tracks
    processed files (exactly-once file pickup); the MERGE keyed on
    natural keys makes replayed batches no-ops, so end-to-end the
    pipeline is effectively exactly-once.

    Run under Trigger.AvailableNow for drop-a-file batch operation or
    a processing-time trigger for true continuous ingest.

    ``max_files_per_trigger`` bounds each micro-batch; at 1, every
    file is an independent import — the reference's
    one-workbook-at-a-time semantics (each file's first row per
    master upserts the collection template, later files win).
    Unbounded, the whole available backlog is one consolidated
    export ordered by (file name, in-file position). Both are
    deterministic under checkpoint replay (the file-source log pins
    each batch's file set); which contract you want depends on
    whether the files are cumulative re-exports (use per-file) or
    one export split into parts (use unbounded).
    """
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType([StructField(c, StringType()) for c in schema_cols])
    reader = (
        spark.readStream.schema(schema)
        .option("sep", sep)
        .option("header", True)
        .option("multiLine", True)
        .option("escape", '"')
    )
    if max_files_per_trigger is not None:
        # Bound batch size for continuous (processing-time) operation:
        # a backlog of thousands of export files otherwise lands in
        # one giant first micro-batch. Row order stays deterministic
        # either way — total_order_row_idx keys on (file, position),
        # not on batch composition.
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw_stream = reader.csv(input_dir)

    def process_batch(batch_df, batch_id: int) -> None:
        # The ingest reads its input several times; cache the batch so
        # the dropped files are scanned once (and the progress record's
        # numInputRows counts each row once). The file name is taken
        # before the cache, where input_file_name() still sees the scan.
        batch = batch_df.select(
            "*",
            F.monotonically_increasing_id().alias(ROW_IDX),
            F.input_file_name().alias(SOURCE_FILE),
        ).persist()
        try:
            if batch.isEmpty():
                return
            # A micro-batch may hold SEVERAL files (availableNow batches
            # aren't one-file); partition-layout order is not a contract,
            # and "first row per master code = template" must be stable
            # across checkpoint replays for the MERGE no-op guarantee to
            # hold. Total the order as (file, in-file position) exactly
            # like the batch reader does.
            raw = total_order_row_idx(batch)
            run_ingest(batch.sparkSession, raw, warehouse)
        finally:
            batch.unpersist()

    return (
        raw_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
