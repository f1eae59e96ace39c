#!/usr/bin/env python3
"""Core-count scaling probe at ~10x the bench volume (r15 verdict
item 6): the sf0.1 bench is overhead-bound (sub-second walls, 8-core
/ 32-core ratios <= 1.2 everywhere), so it cannot demonstrate that
the rewritten operators parallelize. This probe runs the HOT BLOCK's
operators over a synthetic corpus big enough to be data-bound —
documents ~10x the sf0.1 token volume (hashed-vocab tokens + planted
cross-doc dup runs, ``_corpus``), embeddings
~10x rows — once on local[8] and once on local[32] (fresh session
each), and prints low-core-sec / 32-core-sec per operator. A parallel
operator approaches the core ratio (4.0); a serialized one sits at
~1.0. Results are checked into SCALING.md.

Run: python tools/bench_cores_scale.py   (~15 min)
Env: SPARK_GRAFT_SCALE_DOCS / _REPS override the volume / reps.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from product_etl_spark.session import get_spark

N_DOCS = int(os.environ.get("SPARK_GRAFT_SCALE_DOCS", "20000"))
DOC_LEN = 60
VOCAB = 50_000
N_VECS = 20_000
DIM = 64
N_SAMPLE_ROWS = 5_000_000
REPS = int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "1"))


def _corpus(spark, n_docs):
    # token j of doc i hashed into the vocab; every (37k, 37k+1) doc
    # pair shares tokens 10..29
    tok = (
        F.when(
            (F.col("doc_id") % 37 < 2)
            & (F.col("j") >= 10)
            & (F.col("j") < 30),
            F.concat(
                F.lit("d"),
                (
                    F.floor(F.col("doc_id") / 37) * 100 + F.col("j")
                ).cast("string"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("t"),
                (
                    F.abs(F.xxhash64(F.col("doc_id") * 1000 + F.col("j")))
                    % VOCAB
                ).cast("string"),
            )
        )
    )
    return (
        spark.range(n_docs)
        .select(F.col("id").alias("doc_id"))
        .join(
            spark.range(DOC_LEN).select(F.col("id").alias("j")),
            how="cross",
        )
        .select("doc_id", "j", tok.alias("tok"))
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("j", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("text")
        )
        .localCheckpoint(eager=True)
    )


def _embeddings(spark, n_vecs):
    # deterministic pseudo-random float32 vectors in [-1, 1], 200
    # vectors per block (the SemDeDup blocking contract)
    return (
        spark.range(n_vecs)
        .select(
            F.col("id").alias("vec_id"),
            (F.col("id") % 100).alias("block"),
            F.expr(
                f"transform(sequence(0, {DIM - 1}), j -> "
                "cast((abs(xxhash64(id * 64 + j)) % 2001) / 1000.0 - 1.0"
                " as float))"
            ).alias("embedding"),
        )
        .localCheckpoint(eager=True)
    )


def _sample_rows(spark, n):
    return (
        spark.range(n)
        .select(
            (F.col("id") % 3).cast("int").alias("grp"),
            F.col("id").cast("string").alias("key"),
            (F.abs(F.xxhash64("id")) % 1_000_000).cast("double").alias("v"),
        )
        .localCheckpoint(eager=True)
    )


def run_block(cpus: int) -> dict[str, float]:
    from product_etl_spark.operators.sketches import (
        quantile_sample_partials,
    )
    from product_etl_spark.operators.similarity import (
        cosine_near_dup_pairs,
    )
    from product_etl_spark.operators.suffixes import (
        suffix_duplicated_spans,
        suffix_remove_duplicates,
    )

    spark = get_spark(f"cores-scale-{cpus}", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    docs = _corpus(spark, N_DOCS)
    emb = _embeddings(spark, N_VECS)
    rows = _sample_rows(spark, N_SAMPLE_ROWS)

    ops = {
        "suffix_spans": lambda: suffix_duplicated_spans(
            docs, "text", "doc_id", min_len=8
        ),
        # suffix_remove_duplicates / suffix_shared_span_coverage share
        # the spans gate + a small tail; timing them separately would
        # triple the probe for no new information
        "suffix_removal": lambda: suffix_remove_duplicates(
            docs, "text", "doc_id", min_len=8
        ),
        "cosine_pairs": lambda: cosine_near_dup_pairs(
            emb, "embedding", "vec_id", "block", threshold=0.8
        ),
        "quantile_sample": lambda: quantile_sample_partials(
            rows, ["grp"], "key", "v", k=256
        ),
    }
    out = {}
    for name, fn in ops.items():
        fn().write.format("noop").mode("overwrite").save()  # warmup
        runs = []
        for _ in range(REPS):
            t0 = time.monotonic()
            fn().write.format("noop").mode("overwrite").save()
            runs.append(round(time.monotonic() - t0, 3))
        out[name] = sorted(runs)[len(runs) // 2]
        print(f"[local[{cpus}]] {name}: {out[name]}s {runs}", flush=True)
    spark.stop()
    return out


def main() -> None:
    lo = run_block(8)
    hi = run_block(32)
    table = {
        n: {
            "c8_sec": lo[n],
            "c32_sec": hi[n],
            "ratio": round(lo[n] / max(hi[n], 1e-9), 2),
        }
        for n in lo
    }
    print(json.dumps({"n_docs": N_DOCS, "ops": table}, indent=1))


if __name__ == "__main__":
    main()
