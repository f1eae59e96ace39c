"""End-to-end training-corpus curation: the full filter → dedup →
redact → tokenize → split chain as ONE composable call.

This is the pipeline a pretraining-data team actually runs (the
CCNet/Gopher/RefinedWeb recipe order): cheap map-only filters first
(language, quality, repetition) so the expensive shuffling stages
(near-dedup, segment dedup) see the smallest possible corpus, then
privacy redaction, token accounting, and a hash-stable train/val
split. Every stage is one of the engine's tested operators; this
module only sequences them and keeps the bookkeeping honest.

Scale notes: stage order IS the optimization — filters are map-only
scans, exact/fingerprint dedup is one uniform-key groupBy, MinHash-
LSH shuffles sketches not documents, segment dedup shuffles segments
once. The report is optional because each stage count forces an
action; leave ``report=False`` (default) in production and the whole
curation is one lazy plan ending in two writes (train/val).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from product_etl_spark.functions import text as T
from product_etl_spark.operators import dedup as D
from product_etl_spark.operators.sampling import train_test_split


@dataclass
class CurateConfig:
    keep_langs: list[str] | None = None  # None = keep all
    min_quality: float = 0.3
    gopher: bool = True
    max_line_repetition: float = 0.3
    dedup_strategy: str = "near"  # 'exact' | 'fingerprint' | 'near' | None
    jaccard_threshold: float = 0.8
    segment_dedup_words: int | None = 50  # None = skip
    benchmark_docs: "DataFrame | None" = None  # decontaminate vs this set
    decontam_ngram: int = 5
    decontam_threshold_pct: int = 10
    leakage_safe_split: bool = False  # scrub train near-dups of val
    redact_pii: bool = True
    pack_tokens: int | None = None  # assign pack_id of ~N-token contexts
    test_fraction: float = 0.01
    extra_filters: list = field(default_factory=list)  # [Column] AND-ed


def curate_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    config: CurateConfig | None = None,
    report: bool = False,
) -> tuple[DataFrame, DataFrame, dict]:
    """Run the curation chain; returns (train, validation, report).

    The returned frames carry the original columns plus ``lang_id``,
    ``quality``, ``n_tokens``, ``pack_id`` (if ``pack_tokens`` is
    set — note packs are assigned BEFORE the split, so a pack's docs
    stay contiguous per id-order but may straddle train/val; pack
    after splitting if that matters) and the (possibly
    segment-deduped, possibly redacted) ``text_col``. ``report`` (dict) is empty
    unless ``report=True`` — each stage count is an extra action.
    """
    cfg = config or CurateConfig()
    rep: dict[str, int] = {}

    def _count(stage: str, df: DataFrame) -> None:
        if report:
            rep[stage] = df.count()

    _count("input", docs)

    # ---- map-only filter battery (cheapest first) ----
    cur = docs.withColumn("lang_id", T.detect_script(text_col))
    if cfg.keep_langs is not None:
        cur = cur.filter(F.col("lang_id").isin(cfg.keep_langs))
    cur = cur.withColumn("quality", T.quality_score(text_col)).filter(
        F.col("quality") >= cfg.min_quality
    )
    if cfg.gopher:
        cur = cur.filter(T.gopher_quality_flags(text_col)["keep"])
    if cfg.max_line_repetition is not None:
        cur = cur.filter(
            T.line_repetition_ratio(text_col) <= cfg.max_line_repetition
        )
    for extra in cfg.extra_filters:
        cur = cur.filter(extra)
    _count("after_filters", cur)

    # ---- whole-document dedup ----
    if cfg.dedup_strategy:
        cur = D.dedup_corpus(
            cur,
            text_col,
            id_col,
            strategy=cfg.dedup_strategy,
            jaccard_threshold=cfg.jaccard_threshold,
        )
        _count("after_doc_dedup", cur)

    # ---- cross-document segment (boilerplate) dedup ----
    if cfg.segment_dedup_words:
        rebuilt = D.remove_duplicate_segments(
            cur, text_col, id_col, seg_words=cfg.segment_dedup_words
        ).select(id_col, F.col(text_col).alias("_curated_text"))
        cur = (
            cur.drop(text_col)
            .join(rebuilt, id_col)
            .withColumnRenamed("_curated_text", text_col)
        )
        _count("after_segment_dedup", cur)

    # ---- benchmark decontamination (eval-set n-gram collisions) ----
    if cfg.benchmark_docs is not None:
        from product_etl_spark.operators.decontam import decontaminate

        cur = decontaminate(
            cur, cfg.benchmark_docs, text_col, id_col,
            n=cfg.decontam_ngram, threshold_pct=cfg.decontam_threshold_pct,
        )
        _count("after_decontam", cur)

    # ---- privacy + accounting ----
    if cfg.redact_pii:
        cur = cur.withColumn(text_col, T.redact_pii(text_col))
    cur = cur.withColumn("n_tokens", T.token_count(text_col))

    # ---- optional sequence packing (two-phase cumsum, no global window)
    if cfg.pack_tokens:
        from product_etl_spark.operators.packing import pack_contexts

        cur = pack_contexts(cur, id_col, "n_tokens", pack_size=cfg.pack_tokens)

    if cfg.leakage_safe_split:
        from product_etl_spark.operators.sampling import leakage_safe_split

        train, val = leakage_safe_split(
            cur, text_col, id_col, cfg.test_fraction,
            jaccard_threshold=cfg.jaccard_threshold,
        )
    else:
        train, val = train_test_split(cur, id_col, cfg.test_fraction)
    if report:
        rep["train"] = train.count()
        rep["validation"] = val.count()
        rep["train_tokens"] = (
            train.agg(F.sum("n_tokens")).collect()[0][0] or 0
        )
    return train, val, rep
