#!/usr/bin/env python3
"""Volume probe for the INCREMENTAL suffix-span rung
(operators/dedup_incremental: build_suffix_span_index /
probe_suffix_spans): the same 200k-doc / 12M-
position synthetic corpus recipe as tools/bench_cores_scale.py, split into
a 190k-doc accepted HISTORY and a 10k-doc arriving BATCH (every 20th
doc). Times (a) the one-off history index build + persist and (b) the
probe, and asserts EXACT planted-duplicate recovery: every
batch doc whose planted 20-token partner lives in history must
surface exactly its [10, 30) span.

The point is the incremental CONTRACT at volume: per-batch cost is
one gram groupBy over the BATCH plus one equi-join against the
vocabulary-sized store — history text is built once and never
rescanned. Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from product_etl_spark.operators.dedup_incremental import (
    build_suffix_span_index,
    probe_suffix_spans,
)
from product_etl_spark.session import get_spark
from tools.bench_cores_scale import DOC_LEN, _corpus

N_DOCS = 200_000
BATCH_MOD = 20  # every 20th doc arrives in the batch


def main() -> None:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        "bench-probe-scale",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, dict] = {}

    docs = _corpus(spark, N_DOCS)
    hist = docs.filter(F.col("doc_id") % BATCH_MOD != 0).localCheckpoint(
        eager=True
    )
    batch = docs.filter(F.col("doc_id") % BATCH_MOD == 0).localCheckpoint(
        eager=True
    )
    n_hist, n_batch = hist.count(), batch.count()

    # (a) one-off index build + persist (the accepted-corpus cost,
    # paid once, amortized over every future batch)
    store = tempfile.mkdtemp(prefix="probe_scale_store_")
    shutil.rmtree(store)
    t0 = time.time()
    build_suffix_span_index(hist, "text", "doc_id", min_len=8).write.mode(
        "overwrite"
    ).partitionBy("gram_bucket").parquet(store)
    t_build = round(time.time() - t0, 2)
    n_grams = spark.read.parquet(store).count()
    out["index_build"] = {
        "hist_docs": n_hist,
        "hist_positions": n_hist * DOC_LEN,
        "store_gram_rows": n_grams,
        "sec": t_build,
    }

    # (b) in-memory probe (frozen index already loaded)
    idx = spark.read.parquet(store)
    t0 = time.time()
    spans = probe_suffix_spans(idx, batch, "text", "doc_id", min_len=8)
    got = {
        (r["doc_id"], r["span_start"], r["span_len"])
        for r in spans.collect()
    }
    t_probe = round(time.time() - t0, 2)

    # exact planted recovery: batch docs with doc_id % 37 < 2 have a
    # +-1 partner, and that partner is never % BATCH_MOD == 0, so it
    # is ALWAYS in history -> every planted batch doc must surface
    # exactly its tokens [10, 30) as one 20-token span
    expected = {
        (d, 10, 20)
        for d in range(0, N_DOCS, BATCH_MOD)
        if d % 37 < 2
    }
    assert got == expected, (
        f"planted recovery mismatch: got {len(got)} spans, "
        f"expected {len(expected)}; diff sample "
        f"{list(got ^ expected)[:5]}"
    )
    out["probe"] = {
        "batch_docs": n_batch,
        "batch_positions": n_batch * DOC_LEN,
        "sec": t_probe,
        "planted_found": len(got),
        "planted_expected": len(expected),
        "exact": True,
    }

    shutil.rmtree(store, ignore_errors=True)
    print(json.dumps(out, separators=(",", ":")))


if __name__ == "__main__":
    main()
