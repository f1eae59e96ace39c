"""Product quantization: encode determinism + map-only plan, ADC
ranking vs exact ranking on planted clusters, salted top-k
equivalence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from product_etl_spark.operators import pq as PQ
from product_etl_spark.operators import similarity as S


def _planted(spark, n_clusters=4, per_cluster=40, dim=64, spread=0.05):
    """Tight clusters around md5-derived anchors: nearest neighbors of
    any member are (overwhelmingly) its cluster mates."""
    import hashlib

    rows = []
    vid = 0
    for c in range(n_clusters):
        anchor = []
        for j in range(dim):
            h = int(hashlib.md5(f"anchor{c},{j}".encode()).hexdigest()[:8], 16)
            anchor.append((h % 2001) / 1000.0 - 1.0)
        for i in range(per_cluster):
            vec = []
            for j in range(dim):
                h = int(
                    hashlib.md5(f"jit{c},{i},{j}".encode()).hexdigest()[:8], 16
                )
                vec.append(float(anchor[j] + spread * ((h % 201) / 100.0 - 1.0)))
            rows.append((vid, c, vec))
            vid += 1
    return spark.createDataFrame(
        rows, "vec_id int, cluster int, embedding array<float>"
    )


def _kmeans_codebooks(df, m=8, k=16, n_iters=3):
    """Per-subspace Lloyd's k-means in numpy, seeded from every
    len/k-th vector, so the codebooks fit the planted clusters."""
    import numpy as np

    X = np.array(
        [r["embedding"] for r in df.orderBy("vec_id").collect()],
        dtype=np.float64,
    )
    dsub = X.shape[1] // m
    books = []
    for s in range(m):
        sub = X[:, s * dsub : (s + 1) * dsub]
        cents = sub[:: len(sub) // k][:k].copy()
        for _ in range(n_iters):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            code = d2.argmin(axis=1)
            for c in range(k):
                if (code == c).any():
                    cents[c] = sub[code == c].mean(axis=0)
        books.append(cents.tolist())
    return books


@pytest.fixture(scope="module")
def planted(spark):
    df = _planted(spark).persist()
    df.count()
    yield df
    df.unpersist()


def test_md5_codebooks_shape_and_determinism():
    a = PQ.md5_codebooks(8, 16, 8)
    b = PQ.md5_codebooks(8, 16, 8)
    assert a == b
    assert len(a) == 8 and len(a[0]) == 16 and len(a[0][0]) == 8
    flat = [v for book in a for c in book for v in c]
    assert all(-1.0 <= v <= 1.0 for v in flat)


def test_encode_is_map_only(planted):
    books = PQ.md5_codebooks(8, 16, 8)
    coded = PQ.pq_encode(planted, "embedding", books)
    plan = coded._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # pure map: no join, no shuffle
    row = coded.select("pq_code").first()
    assert len(row["pq_code"]) == 8
    assert all(0 <= c <= 15 for c in row["pq_code"])


def test_encode_dim_mismatch_raises(planted):
    books = PQ.md5_codebooks(4, 16, 8)  # covers 32 dims, corpus is 64
    with pytest.raises(ValueError, match="tile"):
        PQ.pq_encode(planted, "embedding", books)
    with pytest.raises(ValueError, match="ragged"):
        bad = PQ.md5_codebooks(8, 16, 8)
        bad[3][7] = bad[3][7][:-1]
        PQ.pq_encode(planted, "embedding", bad)


def test_adc_topk_matches_exact_neighbors_on_clusters(planted):
    """ADC distance is approximate, but on well-separated clusters
    the top-5 neighbors of a query must come from its own cluster —
    and the queries side must broadcast (corpus never shuffles before
    the rank step)."""
    books = _kmeans_codebooks(planted)
    queries = planted.filter(F.col("vec_id").isin(0, 45, 90))
    corpus = PQ.pq_encode(
        planted.join(queries.select("vec_id"), "vec_id", "left_anti"),
        "embedding",
        books,
    )
    topk = PQ.pq_adc_topk(corpus, queries, books, k_neighbors=5)
    plan = topk._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan
    got = topk.collect()
    assert len(got) == 15
    cluster_of = {
        r["vec_id"]: r["cluster"] for r in planted.select("vec_id", "cluster").collect()
    }
    for r in got:
        assert cluster_of[r["neighbor_id"]] == cluster_of[r["query_id"]], (
            f"query {r['query_id']} pulled neighbor {r['neighbor_id']} "
            "from another cluster"
        )


def test_salted_topk_equals_single_window(planted):
    """topk_per_key's salted two-phase must return EXACTLY the rows a
    single per-key window would — for any salt count, because
    order_cols are a total order."""
    scored = planted.select(
        (F.col("cluster") % 2).alias("key"),
        F.col("vec_id").alias("item"),
        (F.col("vec_id") % 7).cast("double").alias("score"),
    )
    order = [F.col("score").asc(), F.col("item").asc()]
    base = {
        (r["key"], r["item"], r["rank"])
        for r in S.topk_per_key(scored, ["key"], order, 5, n_salt=1).collect()
    }
    for n_salt in (2, 16, 64):
        got = {
            (r["key"], r["item"], r["rank"])
            for r in S.topk_per_key(
                scored, ["key"], order, 5, n_salt=n_salt
            ).collect()
        }
        assert got == base, f"n_salt={n_salt} diverged"


def test_query_dim_mismatch_raises(spark, planted):
    """A query frame with wrong-dim embeddings must fail LOUDLY —
    otherwise NULL distances sort NULLS FIRST and the top-k is
    assigned by neighbor_id alone."""
    books = PQ.md5_codebooks(8, 16, 8)
    corpus = PQ.pq_encode(planted, "embedding", books)
    bad_q = spark.createDataFrame(
        [(0, [0.0] * 32)], "vec_id int, embedding array<float>"
    )
    with pytest.raises(ValueError, match="dim 32"):
        PQ.pq_adc_topk(corpus, bad_q, books, k_neighbors=3)


def test_topk_reserved_column_collision_raises(planted):
    df = planted.select(
        F.col("cluster").alias("key"),
        F.col("vec_id").alias("item"),
        F.lit(1).alias("_salt"),
    )
    with pytest.raises(ValueError, match="_salt"):
        S.topk_per_key(df, ["key"], [F.col("item").asc()], 3, n_salt=4)


def test_topk_rank_column_collision_raises(planted):
    """A caller column named after rank_col must be rejected on EVERY
    path (not just the salted one) — withColumn would silently
    overwrite it with row numbers."""
    df = planted.select(
        F.col("cluster").alias("key"),
        F.col("vec_id").alias("item"),
        F.lit(9).alias("rank"),
    )
    with pytest.raises(ValueError, match="rank"):
        S.topk_per_key(df, ["key"], [F.col("item").asc()], 3)
    with pytest.raises(ValueError, match="score"):
        S.topk_per_key(
            df.withColumnRenamed("rank", "score"),
            ["key"],
            [F.col("item").asc()],
            3,
            rank_col="score",
        )


def test_encode_corrupt_row_behind_valid_first_raises(spark, planted):
    """Per-row integrity: a short or NULL-element embedding hiding
    behind a valid first row must RAISE, not argmin over NULL scores
    into code 0 (NULL sorts first in the struct array_min)."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    books = PQ.md5_codebooks(8, 16, 8)
    good = planted.limit(2).select("vec_id", "embedding")
    short = good.limit(1).select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.slice("embedding", 1, 32).alias("embedding"),
    )
    with pytest.raises((Py4JJavaError, SparkRuntimeException, Exception)) as ei:
        PQ.pq_encode(good.unionByName(short), "embedding", books).collect()
    assert "pq_encode" in str(ei.value)
    nulled = good.limit(1).select(
        (F.col("vec_id") + 2000).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, i) -> IF(i = 7, NULL, x))"
        ).alias("embedding"),
    )
    with pytest.raises((Py4JJavaError, SparkRuntimeException, Exception)) as ei:
        PQ.pq_encode(good.unionByName(nulled), "embedding", books).collect()
    assert "pq_encode" in str(ei.value)
