"""BM25 retrieval: planted-relevance ordering, saturation behavior,
empty-query guard (cross-engine parity is covered by
tests/test_oracle_parity.py via q117)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from product_etl_spark.operators.retrieval import bm25_topk


@pytest.fixture(scope="module")
def corpus(spark):
    filler = " ".join(f"w{i}" for i in range(30))
    rows = [
        # doc 0: dense in both query terms
        (0, "spark shuffle spark shuffle spark shuffle " + filler),
        # doc 1: one query term, once
        (1, "spark " + filler),
        # doc 2: no query terms
        (2, filler),
        # doc 3: one term but the doc is long (length-normalized down)
        (3, "spark " + " ".join(f"x{i}" for i in range(300))),
        # docs 4..9: background containing 'shuffle' so idf is finite
        *[(i, "shuffle " + filler) for i in range(4, 10)],
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string").persist()
    df.count()
    yield df
    df.unpersist()


def test_planted_relevance_order(corpus):
    got = bm25_topk(corpus, ["spark", "shuffle"], top_n=10).collect()
    ranked = [r["doc_id"] for r in got]
    assert ranked[0] == 0  # dense in both terms
    assert 2 not in ranked  # no query terms -> not retrieved
    # short doc with one hit beats the 300-token doc with one hit
    assert ranked.index(1) < ranked.index(3)
    by_id = {r["doc_id"]: r for r in got}
    assert by_id[0]["n_hit_terms"] == 2
    assert by_id[1]["n_hit_terms"] == 1
    assert all(r["score"] > 0 for r in got)


def test_tf_saturation(corpus, spark):
    """BM25's k1 saturation: 100 repetitions of a term must score
    less than 100x a single occurrence (unlike raw TF)."""
    docs = spark.createDataFrame(
        [
            (0, "spark " + " ".join(f"w{i}" for i in range(50))),
            (1, " ".join(["spark"] * 100) + " "
                + " ".join(f"w{i}" for i in range(50))),
            (2, " ".join(f"w{i}" for i in range(50))),
        ],
        "doc_id int, text string",
    )
    got = {r["doc_id"]: r["score"] for r in bm25_topk(docs, ["spark"]).collect()}
    assert got[1] > got[0]
    assert got[1] < got[0] * 10


def test_empty_terms_raise(corpus):
    with pytest.raises(ValueError, match="at least one"):
        bm25_topk(corpus, [])


def test_term_normalization_and_rejection(corpus):
    """Mixed-case terms normalize to the index alphabet (they would
    otherwise silently match nothing); out-of-alphabet terms are
    rejected loudly; duplicates collapse to set semantics."""
    base = {(r["doc_id"], r["score"]) for r in bm25_topk(corpus, ["spark"]).collect()}
    upper = {(r["doc_id"], r["score"]) for r in bm25_topk(corpus, ["Spark"]).collect()}
    dup = {(r["doc_id"], r["score"]) for r in bm25_topk(corpus, ["spark", "SPARK"]).collect()}
    assert base == upper == dup
    with pytest.raises(ValueError, match="index alphabet"):
        bm25_topk(corpus, ["don't"])
    from product_etl_spark.operators.retrieval import bm25_oracle_sql

    with pytest.raises(ValueError, match="index alphabet"):
        bm25_oracle_sql(["a b"])
    with pytest.raises(ValueError, match="at least one"):
        bm25_oracle_sql([])


def test_avgdl_counts_empty_docs(spark):
    """Okapi avgdl = total tokens / ALL docs: adding empty documents
    lowers avgdl, which strengthens length normalization — the
    long-doc score must not be unaffected by empty docs."""
    base_rows = [
        (0, "spark " + " ".join(f"w{i}" for i in range(10))),
        (1, "spark " + " ".join(f"x{i}" for i in range(200))),
        (2, "spark a b"),
    ]
    with_empty = base_rows + [(10, None), (11, ""), (12, "")]
    d1 = spark.createDataFrame(base_rows, "doc_id int, text string")
    d2 = spark.createDataFrame(with_empty, "doc_id int, text string")
    s1 = {r["doc_id"]: r["score"] for r in bm25_topk(d1, ["spark"]).collect()}
    s2 = {r["doc_id"]: r["score"] for r in bm25_topk(d2, ["spark"]).collect()}
    # lower avgdl -> every dl/avgdl grows -> the LONG doc is penalized
    # more than the short one (idf shifts multiply all docs equally,
    # so compare the long/short ratio, not absolute scores)
    assert s2[1] / s2[0] < s1[1] / s1[0]


def test_rrf_fusion_prefers_docs_in_both_lists(spark):
    from product_etl_spark.operators.retrieval import rrf_fuse

    lex = spark.createDataFrame(
        [(10, 1), (11, 2), (12, 3)], "doc_id int, rank int"
    )
    vec = spark.createDataFrame(
        [(12, 1), (13, 2), (14, 3)], "doc_id int, rank int"
    )
    got = rrf_fuse([lex, vec], k0=60, top_n=10).collect()
    by_id = {r["doc_id"]: r for r in got}
    # doc 12 (rank 3 + rank 1) outscores doc 10 (rank 1 alone)
    assert got[0]["doc_id"] == 12 and got[0]["n_lists"] == 2
    assert by_id[12]["rrf_score"] == pytest.approx(
        1 / 63 + 1 / 61, abs=2e-9
    )
    assert by_id[10]["rrf_score"] == pytest.approx(1 / 61, abs=2e-9)
    # equal-rank docs (11 and 13, both rank 2) tie-break by doc_id
    assert [r["doc_id"] for r in got] == [12, 10, 11, 13, 14]

    with pytest.raises(ValueError, match="at least one"):
        rrf_fuse([])


def test_l2_ranked_excludes_self_and_is_bounded(spark):
    from product_etl_spark.operators.retrieval import l2_ranked

    rows = [(i, [float(i), 0.0]) for i in range(6)]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    got = l2_ranked(emb, 2, depth=3).collect()
    assert [r["doc_id"] for r in got] == [1, 3, 0]  # nearest first; 2 absent
    assert [r["rank"] for r in got] == [1, 2, 3]
    # the corpus side must not shuffle: query broadcasts
    plan = (
        l2_ranked(emb, 2, depth=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_hybrid_rrf_lex_only_and_vec_only_docs_surface(spark):
    """A doc retrieved by only one leg still fuses (n_lists=1), and
    the fused frame carries both legs' members."""
    from product_etl_spark.operators.retrieval import hybrid_rrf_topk

    filler = " ".join(f"w{i}" for i in range(20))
    docs = spark.createDataFrame(
        [(0, "spark spark spark " + filler), (1, filler), (2, "spark " + filler)],
        "doc_id int, text string",
    )
    emb = spark.createDataFrame(
        [(0, [5.0, 5.0]), (1, [1.0, 1.0]), (2, [1.1, 1.0]), (9, [1.0, 0.9])],
        "vec_id int, embedding array<float>",
    )
    got = hybrid_rrf_topk(docs, emb, ["spark"], query_vec_id=9, top_n=10)
    by_id = {r["doc_id"]: r for r in got.collect()}
    assert by_id[0]["n_lists"] == 1 or by_id[0]["n_lists"] == 2
    assert 1 in by_id and 2 in by_id  # vector neighbors of 9 surface
    # lexical doc 0 surfaces even though its vector is far
    assert 0 in by_id


def test_trigram_contains_search_gate_and_verify(spark):
    """The trigram gate may admit a false candidate (all needle
    trigrams present, not contiguous) — verification must reject it;
    true hits survive; short needles fall back to the direct scan."""
    from product_etl_spark.operators.retrieval import trigram_contains_search

    docs = [
        (1, "please MERGE BATCH now"),            # hit (case-folded)
        (2, "merge bat and the batch"),           # all trigrams, no substring
        (3, "batch then merge"),                  # missing bridge trigrams
        (4, None),
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = {
        r["doc_id"]: r["first_pos"]
        for r in trigram_contains_search(df, "text", "doc_id", "merge batch").collect()
    }
    assert got == {1: 8}
    # short-needle fallback: no trigram, direct scan
    short = {
        r["doc_id"]: r["first_pos"]
        for r in trigram_contains_search(df, "text", "doc_id", "at").collect()
    }
    assert short == {1: 15, 2: 8, 3: 2}
