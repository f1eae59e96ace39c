#!/usr/bin/env python3
"""Throughput benchmark for product quantization (operators/pq.py)
on a synthetic clustered corpus.

Measures, at BENCH_PQ_VECS vectors x 64 dims:
- pq_encode vectors/sec (the map-only compression pass — this is the
  number that scales linearly with cluster cores at 100 TB),
- pq_adc_topk wall for BENCH_PQ_QUERIES queries over the coded
  corpus (broadcast queries + bounded single-window top-k),
- sq8_encode, bin_sign_encode and hamming_topk walls over the same
  corpus,
- ADC top-1 agreement with exact (uncompressed) L2 top-1 on planted
  clusters — the compression-quality sanity number.

Env: BENCH_PQ_VECS (default 200000), BENCH_PQ_QUERIES (8),
BENCH_PQ_LISTS (16 planted clusters).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from product_etl_spark.operators import pq as PQ  # noqa: E402
from product_etl_spark.session import get_spark  # noqa: E402

N = int(os.environ.get("BENCH_PQ_VECS", "200000"))
NQ = int(os.environ.get("BENCH_PQ_QUERIES", "8"))
NLISTS = int(os.environ.get("BENCH_PQ_LISTS", "16"))
DIM = 64
M, K, DSUB = 8, 16, 8


def synth(spark):
    """N vectors in NLISTS md5-stable clusters: anchor + small jitter,
    all as Catalyst expressions (no driver-side vector materialize)."""
    base = spark.range(N).withColumn("cluster", (F.col("id") % NLISTS).cast("int"))
    dims = []
    for j in range(DIM):
        anchor = (
            (F.xxhash64(F.col("cluster"), F.lit(j)) % 2001 + 2001) % 2001
        ) / 1000.0 - 1.0
        jitter = (
            ((F.xxhash64(F.col("id"), F.lit(j + 1000)) % 201 + 201) % 201)
            / 1000.0
            - 0.1
        )
        dims.append((anchor + jitter).cast("float"))
    return base.select(
        F.col("id").alias("vec_id"), "cluster", F.array(*dims).alias("embedding")
    )


def main():
    spark = get_spark("bench-pq", master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
    corpus = synth(spark).persist()
    n = corpus.count()

    books = PQ.md5_codebooks(M, K, DSUB)

    t0 = time.time()
    coded = PQ.pq_encode(corpus, "embedding", books, dim=DIM)
    coded.select(F.sum(F.element_at("pq_code", 1))).collect()
    t_encode = time.time() - t0

    queries = corpus.filter(F.col("vec_id") < NQ).persist()
    queries.count()
    rest = corpus.filter(F.col("vec_id") >= NQ)
    coded_rest = PQ.pq_encode(rest, "embedding", books, dim=DIM).persist()
    coded_rest.count()

    t0 = time.time()
    adc = PQ.pq_adc_topk(coded_rest, queries, books, k_neighbors=5, dim=DIM)
    adc_rows = adc.collect()
    t_adc = time.time() - t0

    # SQ8 + binary-hash throughput over the same corpus
    from product_etl_spark.operators import sq as SQmod

    bounds = SQmod.sq8_train(corpus, "embedding", dim=DIM)
    t0 = time.time()
    sq_coded = SQmod.sq8_encode(rest, "embedding", bounds).persist()
    sq_coded.count()
    t_sq_encode = time.time() - t0

    thr = SQmod.midrange_thresholds(bounds)
    t0 = time.time()
    bin_corpus = SQmod.bin_sign_encode(rest, "embedding", thr).persist()
    bin_corpus.count()
    t_bin_encode = time.time() - t0
    bin_q = SQmod.bin_sign_encode(queries, "embedding", thr)
    t0 = time.time()
    ham_rows = SQmod.hamming_topk(bin_corpus, bin_q, k_neighbors=5).collect()
    t_hamming = time.time() - t0

    # quality: ADC top-1 should land in the query's own planted cluster
    cluster_of_q = {
        r["vec_id"]: r["cluster"] for r in queries.select("vec_id", "cluster").collect()
    }
    top1 = {r["query_id"]: r["neighbor_id"] for r in adc_rows if r["rank"] == 1}
    cluster_of_n = {
        r["vec_id"]: r["cluster"]
        for r in corpus.filter(
            F.col("vec_id").isin(list(top1.values()))
        ).select("vec_id", "cluster").collect()
    }
    agree = sum(
        1 for q, nb in top1.items() if cluster_of_n[nb] == cluster_of_q[q]
    )

    print(
        json.dumps(
            {
                "n_vectors": n,
                "encode_sec": round(t_encode, 2),
                "encode_vecs_per_sec": round(n / t_encode),
                "adc_topk_sec": round(t_adc, 2),
                "n_queries": NQ,
                "adc_rows": len(adc_rows),
                "adc_top1_cluster_agreement": f"{agree}/{NQ}",
                "sq8_encode_sec": round(t_sq_encode, 2),
                "bin_encode_sec": round(t_bin_encode, 2),
                "hamming_topk_sec": round(t_hamming, 2),
                "hamming_rows": len(ham_rows),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
