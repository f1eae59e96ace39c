"""SQ8 scalar quantization: round-trip error bounds, constant-dim
edge, streaming transparency (cross-engine parity via q119 in
tests/test_oracle_parity.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from product_etl_spark.operators import sq as SQ


@pytest.fixture(scope="module")
def vecs(spark):
    import hashlib

    rows = []
    for i in range(40):
        v = []
        for j in range(16):
            h = int(hashlib.md5(f"sq{i},{j}".encode()).hexdigest()[:8], 16)
            v.append((h % 2001) / 1000.0 - 1.0)
        v[7] = 0.25  # constant dimension: span 0 edge
        rows.append((i, v))
    df = spark.createDataFrame(
        rows, "vec_id int, embedding array<float>"
    ).persist()
    df.count()
    yield df
    df.unpersist()


def test_roundtrip_error_bounded_and_constant_dim_exact(vecs):
    bounds = SQ.sq8_train(vecs, "embedding", dim=16)
    mins, maxs = bounds
    assert mins[7] == maxs[7] == pytest.approx(0.25, abs=1e-6)
    rows = SQ.sq8_encode(vecs, "embedding", bounds).collect()
    for r in rows:
        assert all(-128 <= c <= 127 for c in r["sq_code"])  # tinyint
        for j, (x, c) in enumerate(zip(r["embedding"], r["sq_code"])):
            span = maxs[j] - mins[j]
            # decode: min + (code + 128) * span / 255, span 1 if constant
            y = mins[j] + (c + 128) * (span or 1.0) / 255.0
            if span == 0:
                assert y == pytest.approx(x, abs=1e-6)  # exact constant
            else:
                # quantization error <= half a step
                assert abs(x - y) <= span / 255.0 / 2 + 1e-9


def test_encode_is_map_only_and_streamable(vecs, spark, tmp_path):
    bounds = SQ.sq8_train(vecs, "embedding", dim=16)
    plan = (
        SQ.sq8_encode(vecs, "embedding", bounds)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    src = str(tmp_path / "sq_src")
    vecs.write.parquet(src)
    stream = spark.readStream.schema(
        "vec_id int, embedding array<float>"
    ).parquet(src)
    out, ckpt = str(tmp_path / "sq_out"), str(tmp_path / "sq_ckpt")
    (
        SQ.sq8_encode(stream, "embedding", bounds)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = {
        (r["vec_id"], tuple(r["sq_code"]))
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r["vec_id"], tuple(r["sq_code"]))
        for r in SQ.sq8_encode(vecs, "embedding", bounds).collect()
    }
    assert got == want


def test_train_rejects_empty(spark):
    with pytest.raises(ValueError, match="dimensions"):
        SQ.sq8_train(
            spark.createDataFrame([], "vec_id int, embedding array<float>"),
            "embedding",
            dim=16,
        )


def test_encode_rejects_short_and_null_rows(spark, vecs):
    """Per-row integrity: a short row hiding among full-length rows,
    or a NULL element, must RAISE — GREATEST/LEAST skip NULLs, so an
    unguarded encode would fabricate the per-dimension minimum as a
    plausible-looking code."""
    bounds = SQ.sq8_train(vecs, "embedding", dim=16)
    good = [(0, [0.1] * 16)]
    short = [(1, [0.9] * 8)]
    nully = [(2, [0.1] * 15 + [None])]
    for bad in (short, nully):
        df = spark.createDataFrame(
            good + bad, "vec_id int, embedding array<float>"
        )
        with pytest.raises(Exception, match="sq8_encode"):
            SQ.sq8_encode(df, "embedding", bounds).collect()


def test_binary_hash_matches_python_model(vecs):
    """Packed sign bits and Hamming ranking must equal a direct
    Python model (all-integer semantics — no tolerance needed)."""
    bounds = SQ.sq8_train(vecs, "embedding", dim=16)
    thr = SQ.midrange_thresholds(bounds)
    coded = SQ.bin_sign_encode(vecs, "embedding", thr)
    rows = {r["vec_id"]: (r["embedding"], r["bin_code"]) for r in coded.collect()}

    def model_code(v):
        words = [0]
        for j, x in enumerate(v):
            if float(x) > thr[j]:
                words[0] |= 1 << j
        return words

    for vid, (emb, code) in rows.items():
        assert list(code) == model_code(emb), vid

    corpus = coded.filter(F.col("vec_id") >= 2)
    queries = coded.filter(F.col("vec_id") < 2)
    got = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["hamming"])
        for r in SQ.hamming_topk(corpus, queries, k_neighbors=3).collect()
    }
    for qid in (0, 1):
        qc = rows[qid][1][0]
        dists = sorted(
            (bin(rows[c][1][0] ^ qc).count("1"), c)
            for c in rows
            if c >= 2
        )
        for rank, (d, c) in enumerate(dists[:3], start=1):
            assert got[(qid, rank)] == (c, d)


def test_bin_encode_rejects_short_rows(spark, vecs):
    bounds = SQ.sq8_train(vecs, "embedding", dim=16)
    thr = SQ.midrange_thresholds(bounds)
    df = spark.createDataFrame(
        [(0, [0.1] * 16), (1, [0.9] * 4)], "vec_id int, embedding array<float>"
    )
    with pytest.raises(Exception, match="bin_sign_encode"):
        SQ.bin_sign_encode(df, "embedding", thr).collect()
