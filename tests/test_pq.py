"""Product quantization: encode determinism + map-only plan, ADC
ranking vs exact ranking, trained codebooks beating the md5 init,
IVF-PQ recall on planted clusters, salted top-k equivalence."""

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
    books = PQ.train_codebooks(planted, "embedding", n_iters=2)
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


def test_training_reduces_quantization_error(planted):
    init = PQ.md5_codebooks(8, 16, 8)
    before = PQ.quantization_error(planted, "embedding", init)
    trained = PQ.train_codebooks(planted, "embedding", n_iters=3, init=init)
    after = PQ.quantization_error(planted, "embedding", trained)
    assert after < before * 0.5, (before, after)
    # Lloyd's never increases the objective: one more round stays <=
    more = PQ.train_codebooks(planted, "embedding", n_iters=1, init=trained)
    assert PQ.quantization_error(planted, "embedding", more) <= after * 1.0001


def test_ivf_pq_recall_on_planted_clusters(planted):
    """IVF coarse-prune + ADC: with nprobe=2 over 4 lists on planted
    clusters, every query's top-5 stays within its cluster."""
    books = PQ.train_codebooks(planted, "embedding", n_iters=2)
    cents = S.ivf_centroids_kmeans(
        planted, "embedding", "vec_id", n_lists=4, n_iters=3
    )
    queries = planted.filter(F.col("vec_id").isin(10, 50, 130))
    corpus = planted.join(queries.select("vec_id"), "vec_id", "left_anti")
    got = PQ.knn_ivf_pq(
        corpus, queries, cents, books, k_neighbors=5, nprobe=2
    ).collect()
    assert len(got) == 15
    cluster_of = {
        r["vec_id"]: r["cluster"] for r in planted.select("vec_id", "cluster").collect()
    }
    for r in got:
        assert cluster_of[r["neighbor_id"]] == cluster_of[r["query_id"]]
    # the production path — a prebuilt (persisted) index frame — must
    # return the identical result set
    index = PQ.build_ivf_pq_index(corpus, cents, books).persist()
    try:
        via_index = PQ.knn_ivf_pq(
            corpus, queries, cents, books, k_neighbors=5, nprobe=2,
            coded_corpus=index,
        ).collect()
        assert {(r["query_id"], r["neighbor_id"], r["rank"]) for r in got} == {
            (r["query_id"], r["neighbor_id"], r["rank"]) for r in via_index
        }
    finally:
        index.unpersist()


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


def test_persisted_ivf_pq_index_matches_inmemory(spark, planted, tmp_path):
    """write_ivf_pq_index -> knn_ivf_pq_index must (a) partition-prune
    the codes scan to the probed lists and (b) return exactly what the
    in-memory composition returns for the same centroids/codebooks."""
    path = str(tmp_path / "pq_index")
    PQ.write_ivf_pq_index(planted, "embedding", "vec_id", path, n_lists=4)
    queries = planted.filter(F.col("vec_id").isin(7, 77))
    got = PQ.knn_ivf_pq_index(
        spark, path, queries, k_neighbors=5, nprobe=2
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    scan_lines = [
        ln for ln in plan.splitlines()
        if "Scan parquet" in ln or "PartitionFilters" in ln
    ]
    assert any(
        "PartitionFilters: [list_id" in ln for ln in scan_lines
    ), scan_lines
    books = PQ.md5_codebooks(8, 16, 8)
    cents = S.ivf_centroids(planted, "embedding", "vec_id", n_lists=4)
    expected = PQ.knn_ivf_pq(
        planted, queries, cents, books, k_neighbors=5, nprobe=2
    )
    assert {(r["query_id"], r["neighbor_id"], r["rank"]) for r in got.collect()} == {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in expected.collect()
    }
    # round-trip of the stored codebooks is exact
    assert PQ.read_codebooks(spark, path) == books


def test_train_codebooks_deterministic(planted):
    a = PQ.train_codebooks(planted, "embedding", n_iters=2)
    b = PQ.train_codebooks(planted, "embedding", n_iters=2)
    assert a == b


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
    cents = S.ivf_centroids(planted, "embedding", "vec_id", n_lists=4)
    with pytest.raises(ValueError, match="dim 32"):
        PQ.knn_ivf_pq(planted, bad_q, cents, books, k_neighbors=3)


def test_train_init_geometry_mismatch_raises(planted):
    init = PQ.md5_codebooks(16, 16, 4)  # tiles 64 dims, but m=8 asked
    with pytest.raises(ValueError, match="init codebooks"):
        PQ.train_codebooks(planted, "embedding", m=8, k=16, init=init)


def test_quantization_error_empty_raises(planted):
    from pyspark.sql import functions as F2

    books = PQ.md5_codebooks(8, 16, 8)
    with pytest.raises(ValueError, match="empty"):
        PQ.quantization_error(
            planted.filter(F2.lit(False)), "embedding", books
        )


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


def test_append_to_index_equals_full_build(spark, planted, tmp_path):
    """Build an index on half the corpus, append the other half: every
    probe must return exactly what a full-corpus build returns (same
    frozen centroids/codebooks -> same codes -> same ADC ranks)."""
    first = planted.filter(F.col("vec_id") % 2 == 0)
    second = planted.filter(F.col("vec_id") % 2 == 1)
    inc_path = str(tmp_path / "inc")
    full_path = str(tmp_path / "full")
    PQ.write_ivf_pq_index(first, "embedding", "vec_id", inc_path)
    n = PQ.append_to_ivf_pq_index(spark, inc_path, second)
    assert n == second.count()
    # full build with the SAME deterministic centroids: seed from the
    # same half so coarse centroids match the incremental index
    from product_etl_spark.operators.similarity import ivf_centroids

    cents = ivf_centroids(first, "embedding", "vec_id", n_lists=4)
    books = PQ.md5_codebooks(8, 16, 8)
    coded_full = PQ.build_ivf_pq_index(planted, cents, books)
    coded_full.write.mode("overwrite").partitionBy("list_id").parquet(
        f"{full_path}/codes"
    )
    cents.write.mode("overwrite").parquet(f"{full_path}/centroids")
    rows = [(s, c, books[s][c]) for s in range(8) for c in range(16)]
    spark.createDataFrame(
        rows, "sub int, code int, centroid array<double>"
    ).write.mode("overwrite").parquet(f"{full_path}/codebooks")

    queries = planted.filter(F.col("vec_id") < 3)
    got_inc = PQ.knn_ivf_pq_index(spark, inc_path, queries, k_neighbors=5)
    got_full = PQ.knn_ivf_pq_index(spark, full_path, queries, k_neighbors=5)
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    inc_rows = sorted(
        ((r["query_id"], r["rank"], r["neighbor_id"]) for r in got_inc.collect())
    )
    full_rows = sorted(
        ((r["query_id"], r["rank"], r["neighbor_id"]) for r in got_full.collect())
    )
    assert inc_rows == full_rows and len(inc_rows) == 15
    # appended rows landed in the existing partition layout
    import os

    lists = sorted(
        d for d in os.listdir(f"{inc_path}/codes") if d.startswith("list_id=")
    )
    assert lists and all("=" in d for d in lists)
