"""Map-only batch operators run unchanged on a Structured Streaming
source: the same call on a ``readStream`` frame, drained once under
Trigger.AvailableNow, emits exactly the batch result.
"""

from __future__ import annotations

import pytest


def _drain(stream_df, out_path, checkpoint):
    """Write everything currently available to parquet, exactly once,
    then stop."""
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_map_only_operators_run_unchanged_on_streams(spark, tmp_path):
    """chunk_documents and pq_encode are pure map operators, so the
    SAME code path must run on a readStream frame (the streaming
    ingest story for document/embedding firehoses) and emit exactly
    the batch result."""
    from product_etl_spark.operators import pq as PQ
    from product_etl_spark.operators.packing import chunk_documents

    dsrc = str(tmp_path / "docs_src")
    spark.createDataFrame(
        [(0, " ".join(f"t{i}" for i in range(50))), (1, "a b c"), (2, None)],
        "doc_id int, text string",
    ).write.parquet(dsrc)
    docs_stream = spark.readStream.schema("doc_id int, text string").parquet(dsrc)
    out, ckpt = str(tmp_path / "chunks_out"), str(tmp_path / "chunks_ckpt")
    _drain(chunk_documents(docs_stream, 20, 5), out, ckpt)
    got = {
        (r["doc_id"], r["chunk_id"], r["chunk_text"])
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r["doc_id"], r["chunk_id"], r["chunk_text"])
        for r in chunk_documents(
            spark.read.parquet(dsrc), 20, 5
        ).collect()
    }
    assert got == want and len(got) > 2

    esrc = str(tmp_path / "emb_src")
    books = PQ.md5_codebooks(4, 8, 4)
    spark.createDataFrame(
        [(i, [float(i + j) / 10.0 for j in range(16)]) for i in range(6)],
        "vec_id int, embedding array<float>",
    ).write.parquet(esrc)
    emb_stream = spark.readStream.schema(
        "vec_id int, embedding array<float>"
    ).parquet(esrc)
    out2, ckpt2 = str(tmp_path / "pq_out"), str(tmp_path / "pq_ckpt")
    _drain(
        PQ.pq_encode(emb_stream, "embedding", books, dim=16),
        out2,
        ckpt2,
    )
    got2 = {
        (r["vec_id"], tuple(r["pq_code"]))
        for r in spark.read.parquet(out2).collect()
    }
    want2 = {
        (r["vec_id"], tuple(r["pq_code"]))
        for r in PQ.pq_encode(
            spark.read.parquet(esrc), "embedding", books, dim=16
        ).collect()
    }
    assert got2 == want2 and len(got2) == 6


def test_streaming_dim_mismatch_fails_batch(spark, tmp_path):
    """A mis-dimensioned embedding stream must FAIL, not checkpoint-
    commit garbage codes (the batch path raises eagerly; streams get
    a per-row raise_error guard)."""
    from product_etl_spark.operators import pq as PQ

    src = str(tmp_path / "bad_emb_src")
    spark.createDataFrame(
        [(0, [0.0] * 8)], "vec_id int, embedding array<float>"
    ).write.parquet(src)
    stream = spark.readStream.schema(
        "vec_id int, embedding array<float>"
    ).parquet(src)
    books = PQ.md5_codebooks(4, 8, 4)  # dim 16, data is dim 8
    with pytest.raises(Exception, match="dim"):
        _drain(
            PQ.pq_encode(stream, "embedding", books, dim=16),
            str(tmp_path / "bad_out"),
            str(tmp_path / "bad_ckpt"),
        )
