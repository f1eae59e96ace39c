"""Cross-batch probe against a persisted store
(operators/dedup_incremental.py): the suffix-span probe (q218/q219)
that answers for a new batch without touching historical text."""

from __future__ import annotations

from pyspark.sql import functions as F


def _sdocs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _span_set(df):
    return {
        (r["doc_id"], r["span_start"], r["span_len"]) for r in df.collect()
    }


def test_suffix_probe_matches_batch_rebuild(spark):
    """The pin: ingesting batches in ascending doc-id order, each
    batch's probe output equals suffix_duplicated_spans over the
    union of all batches so far RESTRICTED to that batch's docs."""
    from product_etl_spark.operators.dedup_incremental import (
        build_suffix_span_index,
        probe_suffix_spans,
    )
    from product_etl_spark.operators.suffixes import (
        suffix_duplicated_spans,
    )

    shared = " ".join(f"s{i}" for i in range(10))
    other = " ".join(f"o{i}" for i in range(9))
    b1 = [
        (1, f"a1 a2 {shared} a3"),
        (2, f"b1 b2 b3 b4 b5 b6 b7 b8 b9 {other}"),
        (3, "unique text never repeated by anyone else at all"),
    ]
    b2 = [
        (11, f"c1 {shared} c2 c3"),         # dups vs history doc 1
        (12, f"{other} d1 d2"),             # dups vs history doc 2
        (13, f"e1 e2 e3 {shared} e4"),      # dups vs history AND 11
        (14, "fresh words with no duplication whatsoever here"),
    ]
    union = _sdocs(spark, b1 + b2)
    # batch 1 against the empty store: batch-internal only
    got1 = _span_set(
        probe_suffix_spans(None, _sdocs(spark, b1), "text", "doc_id", 8)
    )
    want1 = _span_set(
        suffix_duplicated_spans(_sdocs(spark, b1), "text", "doc_id", 8)
    )
    assert got1 == want1 == set()
    # batch 2 against batch 1's index
    idx = build_suffix_span_index(_sdocs(spark, b1), "text", "doc_id", 8)
    got2 = _span_set(
        probe_suffix_spans(idx, _sdocs(spark, b2), "text", "doc_id", 8)
    )
    want2 = _span_set(
        suffix_duplicated_spans(union, "text", "doc_id", 8).filter(
            F.col("doc_id") >= 11
        )
    )
    assert got2 == want2
    assert {d for d, _, _ in got2} == {11, 12, 13}


def test_suffix_probe_excision_matches_batch_strip(spark):
    """probe_suffix_excision on the new batch equals
    suffix_remove_duplicates over the union restricted to the
    batch (same covered set, same reconstruction tail)."""
    from product_etl_spark.operators.dedup_incremental import (
        build_suffix_span_index,
        probe_suffix_excision,
    )
    from product_etl_spark.operators.suffixes import (
        suffix_remove_duplicates,
    )

    shared = " ".join(f"S{i}" for i in range(9))
    b1 = [(1, f"x1 x2 {shared} x3")]
    b2 = [
        (11, f"y1 {shared.lower()} y2"),
        (12, "nothing shared in this document at all really"),
    ]
    idx = build_suffix_span_index(_sdocs(spark, b1), "text", "doc_id", 8)
    got = {
        r["doc_id"]: (r["text_clean"], r["n_tokens"], r["n_removed"])
        for r in probe_suffix_excision(
            idx, _sdocs(spark, b2), "text", "doc_id", 8
        ).collect()
    }
    want = {
        r["doc_id"]: (r["text_clean"], r["n_tokens"], r["n_removed"])
        for r in suffix_remove_duplicates(
            _sdocs(spark, b1 + b2), "text", "doc_id", 8
        ).filter(F.col("doc_id") >= 11).collect()
    }
    assert got == want
    assert got[11] == ("y1 y2", 11, 9)
    assert got[12][2] == 0
