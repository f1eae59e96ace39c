"""Translation engine — the reference's universal translator
(utils/universal_translator.py) and attribute-translation sweeps
(utils/translate_and_migrate_attributes.py,
utils/product_attributes_etl.py:89-163) as one Spark pipeline.

Reference semantics preserved:
- candidate selection: rows in the source language with no row in
  the target language for the same (entity, field) — the
  self-anti-join NOT EXISTS at universal_translator.py:45-69;
- translate each **distinct** string once, then fan results back out
  (translate_and_migrate_attributes.py:61-70 dedup-before-expensive-
  call);
- a persistent translation cache consulted first, appended
  insert-only (ON CONFLICT DO NOTHING semantics,
  translate_and_migrate_attributes.py:92-114);
- retry/backoff + fallback-to-source inside the translator itself
  (universal_translator.py:32-43).

The external MT/LLM call is pluggable: any
``list[str] -> list[str]`` callable, wrapped in a Pandas UDF so the
executor calls it on Arrow batches (one client per batch, not per
row). Tests use a deterministic mock; production wires
``kernels.google_translate_kernel`` / ``kernels.openai_translate_kernel``
(import-gated defaults with the reference's retry/backoff/fallback
semantics) plus a token bucket (SURVEY.md §2.9 M3/M4/M8).
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from product_etl_spark import ids
from product_etl_spark.fs import read_table
from product_etl_spark.operators.incremental import read_stage_table
from product_etl_spark.operators.upsert import upsert_parquet

Translator = Callable[[list[str]], list[str]]


def untranslated_candidates(
    translations: DataFrame, src_lang: str, dst_lang: str
) -> DataFrame:
    """Rows in src_lang whose (entity_type, entity_id, field_name)
    has no dst_lang row — the reference's correlated NOT EXISTS
    (universal_translator.py:45-69) as a left_anti self-join."""
    key = ["entity_type", "entity_id", "field_name"]
    src = translations.filter(F.col("lang_code") == src_lang)
    dst = translations.filter(F.col("lang_code") == dst_lang).select(*key)
    return src.join(dst, key, "left_anti")


def translate_pending(
    spark: SparkSession,
    translations: DataFrame,
    translator: Translator,
    src_lang: str,
    dst_lang: str,
    cache_path: str | None = None,
    max_batch: int = 64,
) -> DataFrame:
    """Produce dst_lang translation rows for everything pending.

    Plan shape (all built-in until the single UDF stage):
    candidates -> distinct(value) -> left_anti vs cache -> pandas_udf
    translate -> union cache hits -> join back to candidates.
    The expensive stage only ever sees distinct uncached strings.
    """
    candidates = untranslated_candidates(translations, src_lang, dst_lang)
    distinct_vals = candidates.select("value").filter(F.col("value").isNotNull()).distinct()

    cache = read_stage_table(spark, cache_path) if cache_path else None
    if cache is not None:
        cache = cache.filter(
            (F.col("src_lang") == src_lang) & (F.col("dst_lang") == dst_lang)
        ).select(F.col("value"), F.col("translated"))
        to_translate = distinct_vals.join(cache, "value", "left_anti")
    else:
        to_translate = distinct_vals

    @F.pandas_udf(StringType())
    def translate_udf(s: pd.Series) -> pd.Series:
        vals = s.fillna("").tolist()
        out: list[str] = []
        for start in range(0, len(vals), max_batch):
            out.extend(translator(vals[start : start + max_batch]))
        return pd.Series(out)

    fresh = to_translate.select(
        "value", translate_udf(F.col("value")).alias("translated")
    )
    mapping = fresh if cache is None else cache.unionByName(fresh)

    if cache_path:
        cache_rows = fresh.select(
            "value",
            "translated",
            F.lit(src_lang).alias("src_lang"),
            F.lit(dst_lang).alias("dst_lang"),
        )
        upsert_parquet(
            spark,
            cache_rows,
            cache_path,
            keys=["src_lang", "dst_lang", "value"],
            mode="insert_only",
        )
        # re-read so the returned plan sources the durable cache
        mapping = (
            read_stage_table(spark, cache_path)
            .filter(
                (F.col("src_lang") == src_lang) & (F.col("dst_lang") == dst_lang)
            )
            .select("value", "translated")
        )

    out = (
        candidates.join(mapping, "value", "left")
        .select(
            F.col("entity_type"),
            F.col("entity_id"),
            F.lit(dst_lang).alias("lang_code"),
            F.col("field_name"),
            # fallback = source text, as the reference's failed-MT path
            # does (universal_translator.py:41-43)
            F.coalesce("translated", "value").alias("value"),
        )
        .withColumn(
            "id",
            ids.uuid5_col(
                ids.NS_TRANSLATION,
                "entity_type",
                "entity_id",
                "lang_code",
                "field_name",
            ),
        )
        .select("id", "entity_type", "entity_id", "lang_code", "field_name", "value")
    )
    return out


def run_translation_sweep(
    spark: SparkSession,
    translations_path: str,
    translator: Translator,
    src_lang: str = "zh",
    dst_lang: str = "en",
    cache_path: str | None = None,
) -> DataFrame:
    """End-to-end sweep against the persisted translations table:
    compute pending rows, translate, MERGE them in (insert-only — a
    concurrent run that already wrote a translation wins, matching ON
    CONFLICT DO NOTHING), return the new table state."""
    translations = read_table(spark, translations_path)
    new_rows = translate_pending(
        spark, translations, translator, src_lang, dst_lang, cache_path
    )
    return upsert_parquet(
        spark,
        new_rows,
        translations_path,
        keys=["entity_type", "entity_id", "lang_code", "field_name"],
        mode="insert_only",
    )
