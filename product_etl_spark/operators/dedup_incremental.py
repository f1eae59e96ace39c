"""Cross-batch probe against a persisted store: what of a NEW batch
is already in the accepted corpus, answered without re-reading the
accepted text.

The suffix-span probe store (q218/q219) is the incremental twin of
the exact duplicated-span family (operators/suffixes.py, q212/q214):
"which spans of a NEW batch are shared verbatim (>= min_len tokens)
with the accepted corpus?". By the suffix module's cover-equality
contract a position starts a shared span of >= min_len tokens iff its
min_len-window occurs in another document, so for a FIXED min_len
the distinct-window inventory is a complete sufficient statistic of
history, and it is append-only. The probe runs the batch operators'
own gate (suffixes._shared_window_positions) with the store joined
in: one batch-window aggregate plus one equi-join on the window key
against a vocabulary-sized store; the merged islands equal
suffix_duplicated_spans over the combined corpus restricted to the
batch (pinned in tests/test_dedup_incremental.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def build_suffix_span_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_len: int = 8,
    n_buckets: int = 64,
) -> DataFrame:
    """Persistable probe index for the suffix-span family: one row
    per DISTINCT ``min_len``-gram of the accepted corpus with its
    first-seen owner — (sh, keep, gram_bucket), hash-bucketed so a
    store written ``partitionBy("gram_bucket")`` compacts one bucket
    at a time. ``keep`` is the lowest doc id carrying the
    gram in THIS corpus; it exists so a replayed batch can recognize
    its own grams (self-matches are not duplication) — the
    idempotence keystone.

    Scale shape: one gram groupBy (map-side combine) over the corpus;
    the store is gram-vocabulary-sized, never position-sized."""
    from product_etl_spark.operators.dedup import positional_shingles

    return (
        positional_shingles(df, text_col, id_col, min_len)
        .groupBy("sh")
        .agg(F.min(F.col(id_col)).alias("keep"))
        .select(
            "sh",
            "keep",
            F.pmod(F.xxhash64("sh"), F.lit(n_buckets)).alias("gram_bucket"),
        )
    )


def probe_suffix_spans(
    index: DataFrame | None,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    min_len: int = 8,
) -> DataFrame:
    """q212's surface for a NEW batch against a frozen store: one row
    per MAXIMAL merged token interval (>= min_len tokens) of a batch
    document shared verbatim with the indexed history OR another
    batch document — (id, span_start, span_len), never reading
    history text. ``index=None`` degrades to batch-internal spans.

    Contract (pytest-pinned): ingesting batches in ascending doc-id
    order, each batch's probe output equals
    ``suffixes.suffix_duplicated_spans`` over the union of all
    batches so far RESTRICTED to this batch's documents — history
    docs' spans are history's business (they were probed when they
    arrived; the every-holder view needs the batch rebuild).

    Scale shape: one batch gram groupBy, one equi-join against the
    vocabulary-sized store on the gram key, per-doc island windows
    (doc-bounded). Nothing rescans accepted text; nothing is
    corpus^2."""
    from product_etl_spark.operators.suffixes import (
        _shared_window_positions,
        _span_rows,
    )

    dup = _shared_window_positions(
        batch, text_col, id_col, min_len, store=index
    )
    return _span_rows(dup, id_col, min_len)


def probe_suffix_excision(
    index: DataFrame | None,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    min_len: int = 8,
) -> DataFrame:
    """q214's conservative strip for a NEW batch: every batch token
    inside a probe span (shared with indexed history or another
    batch doc) is excised; the q177/q214 original-case
    reconstruction tail. History documents are untouched — excising
    THEM retroactively is the batch operator's job
    (suffixes.suffix_remove_duplicates), not an ingest path's.

    r16 shape: interval excision (dedup._excise_intervals over the
    merged islands — the q214 rewrite): the per-position explode +
    (id, pos) distinct + anti-join + doc reconstruction groupBy never
    materialize; the removal set is identical (every dup position
    carries _d = min_len, so the islands ARE the union of the old
    exploded intervals)."""
    from product_etl_spark.operators.dedup import _excise_intervals
    from product_etl_spark.operators.suffixes import (
        _merged_spans,
        _shared_window_positions,
    )

    dup = _shared_window_positions(
        batch, text_col, id_col, min_len, store=index
    )
    spans = _merged_spans(dup, id_col, min_len)
    return _excise_intervals(batch, text_col, id_col, spans)
