#!/usr/bin/env python3
"""Throughput benchmark for benchmark decontamination on a synthetic
corpus: N docs (~60 words), a B-doc benchmark set, a known fraction
of corpus docs containing verbatim benchmark spans. Reports docs/sec
end-to-end plus flag recall/precision against the planted truth.

Env: BENCH_DECON_DOCS (default 100000), BENCH_DECON_BENCH (1000),
BENCH_DECON_CONTAM_FRAC (0.05).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from product_etl_spark.operators import decontam as DC  # noqa: E402
from product_etl_spark.session import get_spark  # noqa: E402


def _text(prefix_col, n_words: int = 60):
    return F.concat_ws(
        " ",
        *[
            F.concat(
                F.lit("w"),
                ((F.xxhash64(prefix_col, F.lit(i)) % 1000 + 1000) % 1000)
                .cast("string"),
            )
            for i in range(n_words)
        ],
    )


def main() -> None:
    n_docs = int(os.environ.get("BENCH_DECON_DOCS", "100000"))
    n_bench = int(os.environ.get("BENCH_DECON_BENCH", "1000"))
    contam_frac = float(os.environ.get("BENCH_DECON_CONTAM_FRAC", "0.05"))
    spark = get_spark("bench-decontam")

    bench = spark.range(n_bench).select(
        F.col("id").alias("doc_id"),
        _text(F.col("id") + 10_000_000).alias("text"),
    )
    n_contam = int(n_docs * contam_frac)
    clean = spark.range(n_docs - n_contam).select(
        (F.col("id") + n_bench).alias("doc_id"),
        _text(F.col("id")).alias("text"),
    )
    # contaminated docs: 30 fresh words + a 30-word verbatim span of a
    # benchmark doc (well above the 10% 5-gram overlap threshold)
    contam = spark.range(n_contam).select(
        (F.col("id") + n_bench + n_docs).alias("doc_id"),
        F.concat_ws(
            " ",
            _text(F.col("id") + 20_000_000, 30),
            F.substring(
                _text((F.col("id") % n_bench) + 10_000_000), 1, 30 * 5
            ),
        ).alias("text"),
    )
    corpus = clean.unionByName(contam)

    t0 = time.time()
    grams = DC.benchmark_ngrams(bench, "text", "doc_id", n=5)
    scores = DC.contamination_scores(corpus, grams, "text", "doc_id", n=5)
    agg = scores.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("contaminated").alias("n_flagged"),
        F.sum(
            F.when(
                (F.col("contaminated") == 1)
                & (F.col("doc_id") >= n_bench + n_docs),
                1,
            ).otherwise(0)
        ).alias("true_pos"),
    ).first()
    dt = time.time() - t0
    recall = agg["true_pos"] / max(1, n_contam)
    precision = agg["true_pos"] / max(1, agg["n_flagged"])

    print(json.dumps({
        "metric": "decontam_docs_per_s",
        "value": round((n_docs + n_bench) / dt, 1),
        "unit": "docs/s",
        "n_docs": n_docs,
        "n_benchmark": n_bench,
        "flag_recall": round(recall, 4),
        "flag_precision": round(precision, 4),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
