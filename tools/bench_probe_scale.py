#!/usr/bin/env python3
"""Volume probe for the INCREMENTAL suffix-span rung
(operators/dedup_incremental: build_suffix_span_index /
probe_suffix_spans / ingest_suffix_spans): the same 200k-doc / 12M-
position synthetic corpus recipe as tools/bench_cores_scale.py, split into
a 190k-doc accepted HISTORY and a 10k-doc arriving BATCH (every 20th
doc). Times (a) the one-off history index build + persist, (b) the
in-memory probe, (c) the store-backed ingest (read store + probe +
claim new grams), and asserts EXACT planted-duplicate recovery: every
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
    ingest_suffix_spans,
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

    # (c) store-backed ingest on a FRESH copy of the store (read +
    # probe + claim new grams), then a replay to prove idempotence
    store2 = tempfile.mkdtemp(prefix="probe_scale_store2_")
    shutil.rmtree(store2)
    build_suffix_span_index(hist, "text", "doc_id", min_len=8).write.mode(
        "overwrite"
    ).partitionBy("gram_bucket").parquet(store2)
    t0 = time.time()
    got2 = {
        (r["doc_id"], r["span_start"], r["span_len"])
        for r in ingest_suffix_spans(
            spark, batch, store2, "text", "doc_id", min_len=8
        ).collect()
    }
    t_ingest = round(time.time() - t0, 2)
    assert got2 == expected
    rows_after = spark.read.parquet(store2).count()
    t0 = time.time()
    got3 = {
        (r["doc_id"], r["span_start"], r["span_len"])
        for r in ingest_suffix_spans(
            spark, batch, store2, "text", "doc_id", min_len=8
        ).collect()
    }
    t_replay = round(time.time() - t0, 2)
    assert got3 == expected, "replay changed the span output"
    assert spark.read.parquet(store2).count() == rows_after, (
        "replay grew the store"
    )
    out["ingest"] = {
        "sec": t_ingest,
        "replay_sec": t_replay,
        "store_rows_after": rows_after,
        "replay_idempotent": True,
    }

    # (d) lifecycle (r13 verdict item 3): the ingest appended the
    # batch's grams as per-batch small files into every bucket
    # partition — compact them and prove the probe is byte-identical
    # on the compacted layout (same rows, same spans, fewer files)
    from product_etl_spark.operators.table_maintenance import (
        compact_partitions,
        partition_file_stats,
    )

    files_before = sum(s.n_files for s in partition_file_stats(store2))
    t0 = time.time()
    compacted = compact_partitions(spark, store2, min_files=2)
    t_compact = round(time.time() - t0, 2)
    files_after = sum(s.n_files for s in partition_file_stats(store2))
    t0 = time.time()
    got4 = {
        (r["doc_id"], r["span_start"], r["span_len"])
        for r in probe_suffix_spans(
            spark.read.parquet(store2), batch, "text", "doc_id", min_len=8
        ).collect()
    }
    t_probe_compacted = round(time.time() - t0, 2)
    assert got4 == expected, "post-compaction probe parity broke"
    assert spark.read.parquet(store2).count() == rows_after, (
        "compaction changed the store's row count"
    )
    out["compaction"] = {
        "partitions_rewritten": len(compacted),
        "files_before": files_before,
        "files_after": files_after,
        "sec": t_compact,
        "probe_after_sec": t_probe_compacted,
        "probe_parity": True,
        "store_rows_unchanged": True,
    }

    shutil.rmtree(store, ignore_errors=True)
    shutil.rmtree(store2, ignore_errors=True)
    print(json.dumps(out, separators=(",", ":")))


if __name__ == "__main__":
    main()
