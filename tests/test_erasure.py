"""Subject erasure across tables + ingest-side suppression."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from product_etl_spark.operators.erasure import apply_suppression, erase_subjects
from product_etl_spark.fs import ConcurrentWriteError, table_write_lock


def _write(spark, path, rows, schema):
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(path)


def test_erase_across_tables_idempotent_and_suppressing(spark, tmp_path):
    t1 = str(tmp_path / "orders_t")
    t2 = str(tmp_path / "events_t")
    sup = str(tmp_path / "suppression")
    _write(spark, t1, [(1, "a"), (2, "b"), (3, "c")], "custkey int, v string")
    _write(spark, t2, [(10, 1), (11, 1), (12, 3), (13, 4)],
           "event_id int, user_key int")

    subjects = spark.createDataFrame([(1,), (9,)], "k int")
    tables = [
        {"path": t1, "key_col": "custkey"},
        {"path": t2, "key_col": "user_key"},
    ]
    report = erase_subjects(spark, subjects, tables, suppression_path=sup)
    assert report == {t1: 1, t2: 2}
    assert sorted(r["custkey"] for r in spark.read.parquet(t1).collect()) == [2, 3]
    assert sorted(r["event_id"] for r in spark.read.parquet(t2).collect()) == [12, 13]

    # rerun: nothing left to delete (and untouched tables not rewritten)
    again = erase_subjects(spark, subjects, tables, suppression_path=sup)
    assert again == {t1: 0, t2: 0}

    # ingest-side: a new batch re-introducing subject 1 is suppressed
    batch = spark.createDataFrame([(1, "again"), (5, "new")],
                                  "custkey int, v string")
    kept = apply_suppression(batch, spark, sup, "custkey")
    assert [r["custkey"] for r in kept.collect()] == [5]
    # absent list: no-op
    kept2 = apply_suppression(batch, spark, str(tmp_path / "nolist"), "custkey")
    assert kept2.count() == 2


def test_erasure_respects_single_writer_lock(spark, tmp_path):
    t1 = str(tmp_path / "tbl")
    _write(spark, t1, [(1, "a")], "custkey int, v string")
    subjects = spark.createDataFrame([(1,)], "k int")
    with table_write_lock(t1):  # an upsert holds the table
        with pytest.raises(ConcurrentWriteError):
            erase_subjects(spark, subjects, [{"path": t1, "key_col": "custkey"}])
    # table untouched by the failed erasure
    assert spark.read.parquet(t1).count() == 1


def test_erase_store_committed_per_batch_dir(spark, tmp_path):
    """A store appended one ``batch=N`` partition at a time has a
    _SUCCESS marker per partition but none at the root; erasure must
    still find and rewrite it, keeping the partition layout."""
    from product_etl_spark.operators.erasure import erase_from_stores

    state = tmp_path / "state"
    for b, ids in ((0, [1, 2]), (1, [3, 1])):
        spark.createDataFrame(
            [(i, f"t{i}") for i in ids], "id long, tok string"
        ).write.parquet(str(state / f"batch={b}"))
    assert not (state / "_SUCCESS").exists()

    spec = [{"path": str(state), "id_col": "id", "partition_by": ["batch"]}]
    subjects = spark.createDataFrame([(1,)], "doc_id long")
    assert erase_from_stores(spark, subjects, spec)[str(state)] == 2
    left = spark.read.parquet(str(state))
    assert sorted((r["batch"], r["id"]) for r in left.collect()) == [(0, 2), (1, 3)]
    assert erase_from_stores(spark, subjects, spec)[str(state)] == 0


def _doc_frame(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


_CORPUS = [
    (1, "alpha beta gamma delta common"),
    (2, "alpha beta gamma epsilon common"),
    (3, "zeta eta theta iota common"),
    (4, "alpha beta gamma delta common"),   # near-dup of 1
    (5, "kappa lambda mu nu xi common"),
]


def test_erase_trigram_index_search_equals_rebuild(spark, tmp_path):
    """Post-erasure indexed substring search must equal the inline
    scan over the erased corpus, and the gram_bucket partition dirs
    must survive the swap (pruning intact)."""
    from product_etl_spark.operators.erasure import erase_from_stores
    from product_etl_spark.operators.retrieval import (
        build_trigram_index,
        trigram_contains_search,
        trigram_search_indexed,
    )

    docs = _doc_frame(spark, _CORPUS)
    idx = str(tmp_path / "tri")
    build_trigram_index(docs, "text", "doc_id", idx)

    erase_from_stores(
        spark,
        spark.createDataFrame([(1,), (4,)], "doc_id long"),
        [
            {
                "path": f"{idx}/postings",
                "id_col": "doc_id",
                "partition_by": ["gram_bucket"],
            }
        ],
    )
    kept_docs = docs.filter(~F.col("doc_id").isin(1, 4))
    got = trigram_search_indexed(
        spark, idx, kept_docs, "text", "doc_id", "delta"
    )
    want = trigram_contains_search(kept_docs, "text", "doc_id", "delta")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    assert got.filter(F.col("doc_id").isin(1, 4)).count() == 0
    assert any(
        p.name.startswith("gram_bucket=")
        for p in (tmp_path / "tri" / "postings").iterdir()
    )


def test_erase_inverted_index_bm25_equals_rebuild(spark, tmp_path):
    """BM25 served from the erased index must be bit-identical to
    bm25_topk over the erased corpus — which requires the frozen
    stats/ (n_docs, avgdl) to be re-frozen, since idf and length
    normalization shift for every REMAINING doc when the corpus
    shrinks."""
    from product_etl_spark.operators.erasure import (
        erase_from_inverted_index,
    )
    from product_etl_spark.operators.retrieval import (
        bm25_topk,
        bm25_topk_indexed,
        build_inverted_index,
    )

    docs = _doc_frame(spark, _CORPUS)
    idx = str(tmp_path / "inv")
    build_inverted_index(docs, idx, "doc_id", "text")

    erase_from_inverted_index(
        spark, spark.createDataFrame([(2,)], "doc_id long"), idx
    )
    stats = spark.read.parquet(f"{idx}/stats").collect()[0]
    assert stats["n_docs"] == 4

    terms = ["alpha", "common"]
    got = bm25_topk_indexed(spark, idx, terms, top_n=5)
    want = bm25_topk(
        docs.filter(F.col("doc_id") != 2), terms, top_n=5
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    assert got.filter(F.col("doc_id") == 2).count() == 0


def test_erase_inverted_index_empty_doc_override(spark, tmp_path):
    """An erased EMPTY document has no doclens row, so the store
    alone cannot count it toward n_docs (the Okapi contract counts
    all docs, empty included) — the caller passes the ABSOLUTE count
    of empty docs remaining after erasure. The re-frozen stats must
    then equal a clean rebuild's, and a RETRY of the same erasure
    (the idempotency contract — erasure jobs get retried) must leave
    the stats bit-identical instead of decrementing them again."""
    from product_etl_spark.operators.erasure import (
        erase_from_inverted_index,
    )
    from product_etl_spark.operators.retrieval import (
        build_inverted_index,
    )

    docs = _doc_frame(
        spark, _CORPUS + [(9, "")]  # empty doc: counted in n_docs only
    )
    idx = str(tmp_path / "inv")
    build_inverted_index(docs, idx, "doc_id", "text")
    assert spark.read.parquet(f"{idx}/stats").collect()[0]["n_docs"] == 6

    # erase doc 9 (empty) and doc 3 (real): default accounting would
    # assume one empty doc remains — the override states none do
    erased = spark.createDataFrame([(3,), (9,)], "doc_id long")
    erase_from_inverted_index(spark, erased, idx, n_empty_docs=0)
    got = spark.read.parquet(f"{idx}/stats").collect()[0]
    rebuilt_dir = str(tmp_path / "inv2")
    build_inverted_index(
        docs.filter(~F.col("doc_id").isin(3, 9)), rebuilt_dir,
        "doc_id", "text",
    )
    want = spark.read.parquet(f"{rebuilt_dir}/stats").collect()[0]
    assert (got["n_docs"], got["avgdl"]) == (want["n_docs"], want["avgdl"])

    # rerun (retry-after-partial-failure): 0 rows to delete, stats
    # must NOT shift — with the old delta-decrement they would
    report = erase_from_inverted_index(spark, erased, idx, n_empty_docs=0)
    assert set(report.values()) == {0}
    again = spark.read.parquet(f"{idx}/stats").collect()[0]
    assert (again["n_docs"], again["avgdl"]) == (got["n_docs"], got["avgdl"])


def test_erase_inverted_index_default_path_idempotent(spark, tmp_path):
    """Default accounting (no override): the implied remaining-empty
    count survives a rerun — stats identical after erase, re-erase."""
    from product_etl_spark.operators.erasure import (
        erase_from_inverted_index,
    )
    from product_etl_spark.operators.retrieval import (
        build_inverted_index,
    )

    docs = _doc_frame(spark, _CORPUS + [(9, "")])
    idx = str(tmp_path / "inv")
    build_inverted_index(docs, idx, "doc_id", "text")

    erased = spark.createDataFrame([(2,)], "doc_id long")  # non-empty
    erase_from_inverted_index(spark, erased, idx)
    first = spark.read.parquet(f"{idx}/stats").collect()[0]
    assert first["n_docs"] == 5  # 6 - doc 2; empty doc 9 still counted
    erase_from_inverted_index(spark, erased, idx)
    second = spark.read.parquet(f"{idx}/stats").collect()[0]
    assert (first["n_docs"], first["avgdl"]) == (
        second["n_docs"],
        second["avgdl"],
    )


def test_erase_quantile_sample_state_by_hashed_key(spark, tmp_path):
    """The quantile sample stores (group, hv, val) — no raw key — so
    subject erasure anti-joins on hv = hash64(erased key). Lossy but
    safe: the survivors are exactly the original sample minus the
    subject's rows (never a replacement row that could leak), and a
    probe can no longer surface the erased subject's value."""
    from product_etl_spark.functions.text import hash64
    from product_etl_spark.operators.erasure import erase_from_stores
    from product_etl_spark.operators.sketches import (
        quantile_sample_estimate,
        quantile_sample_partials,
    )

    rows = [("g", float(v), f"user{v}") for v in range(100)]
    df = spark.createDataFrame(rows, "g string, x double, rk string")
    parts = quantile_sample_partials(df, ["g"], "x", "rk", k=256)
    st = str(tmp_path / "qs_state")
    parts.write.parquet(st)

    erased = spark.createDataFrame(
        [("user7",), ("user42",)], "rk string"
    ).select(hash64(F.col("rk").cast("string")).alias("hv"))
    report = erase_from_stores(
        spark, erased, [{"path": st, "id_col": "hv"}]
    )
    assert report[st] == 2
    left = spark.read.parquet(st)
    assert left.count() == 98
    assert left.filter(F.col("val").isin(7.0, 42.0)).count() == 0
    # estimates still work over the shrunken sample
    est = quantile_sample_estimate(left, ["g"], [0.5]).collect()[0]
    assert est["n_sample"] == 98 and 40 <= est["p50"] <= 60


def _planted_vecs(spark, n_clusters=4, per_cluster=30, dim=64, spread=0.05):
    """Deterministic planted clusters (the test_pq recipe)."""
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
            rows.append((vid, vec))
            vid += 1
    return spark.createDataFrame(rows, "vec_id int, embedding array<float>")


def test_erase_ivf_pq_index_probe_equals_rebuild(spark, tmp_path):
    """RTBF through the persisted IVF-PQ code store: after
    erase_from_stores on codes/ (id_col=neighbor_id, list_id layout
    preserved), (a) a probe NEVER surfaces the erased vectors, (b)
    the probe result is bit-identical to an index REBUILT from the
    erased corpus (same lowest-id centroids, same md5 codebooks), and
    (c) the partition-pruning layout survives the staged swap."""
    from product_etl_spark.operators import pq as PQ
    from product_etl_spark.operators.erasure import erase_from_stores

    corpus = _planted_vecs(spark)
    idx = str(tmp_path / "pq_index")
    PQ.write_ivf_pq_index(corpus, "embedding", "vec_id", idx, n_lists=4)

    # high ids only: the lowest-id coarse centroids stay identical,
    # so the rebuild comparison is exact, not merely recall-level
    erased_ids = [97, 103, 117]
    erased = spark.createDataFrame([(i,) for i in erased_ids], "id int")
    report = erase_from_stores(
        spark,
        erased,
        [{"path": f"{idx}/codes", "id_col": "neighbor_id",
          "partition_by": ["list_id"]}],
    )
    assert report[f"{idx}/codes"] == 3

    kept = corpus.filter(~F.col("vec_id").isin(erased_ids))
    rebuilt = str(tmp_path / "pq_rebuilt")
    PQ.write_ivf_pq_index(kept, "embedding", "vec_id", rebuilt, n_lists=4)

    queries = corpus.filter(F.col("vec_id").isin(7, 45, 99))
    got = PQ.knn_ivf_pq_index(spark, idx, queries, k_neighbors=5, nprobe=2)
    want = PQ.knn_ivf_pq_index(
        spark, rebuilt, queries, k_neighbors=5, nprobe=2
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    assert got.filter(F.col("neighbor_id").isin(erased_ids)).count() == 0

    # bucket layout preserved -> probes still partition-prune
    assert any(
        p.name.startswith("list_id=")
        for p in (tmp_path / "pq_index" / "codes").iterdir()
        if p.is_dir()
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [list_id" in plan

    # idempotent rerun
    again = erase_from_stores(
        spark,
        erased,
        [{"path": f"{idx}/codes", "id_col": "neighbor_id",
          "partition_by": ["list_id"]}],
    )
    assert again[f"{idx}/codes"] == 0


def test_bm25_indexed_survives_total_erasure(spark, tmp_path):
    """Total erasure DELETES a partitioned store outright (absence ==
    the faithful empty state), so the direct reader must probe
    existence and return an EMPTY top-k frame instead of raising
    PATH_NOT_FOUND (ADVICE r10)."""
    from product_etl_spark.operators.erasure import (
        erase_from_inverted_index,
    )
    from product_etl_spark.operators.retrieval import (
        bm25_topk_indexed,
        build_inverted_index,
    )

    docs = _doc_frame(spark, _CORPUS)
    idx = str(tmp_path / "inv")
    build_inverted_index(docs, idx, "doc_id", "text")

    all_ids = docs.select("doc_id")
    erase_from_inverted_index(spark, all_ids, idx)

    got = bm25_topk_indexed(spark, idx, ["alpha", "common"], top_n=5)
    assert got.count() == 0
    assert [f.name for f in got.schema.fields] == [
        "doc_id",
        "score",
        "n_hit_terms",
    ]
    assert got.schema["doc_id"].dataType.simpleString() == "bigint"
