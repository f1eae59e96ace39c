"""Fifth extension catalog (q115+): product-quantization vector
search (operators/pq.py) made oracle-checkable.

The codebooks are md5-derived driver constants (the q36 hyperplane
recipe), so the DuckDB oracle reproduces encode and ADC bit-for-bit
from GENERATED literal SQL: squared distances fold element terms in
the same left-to-right order as Spark's aggregate(zip_with(...)),
argmin ties break to the first (lowest) code in both engines
(array_position vs list_position on the min), and the code-selected
centroid in ADC is a nested-list-literal index in both.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from product_etl_spark.operators import pq as PQ
from product_etl_spark.operators.packing import (
    chunk_documents,
    chunk_documents_oracle_sql,
)
from product_etl_spark.operators.retrieval import (
    bm25_oracle_sql,
    bm25_topk,
    hybrid_rrf_oracle_sql,
    hybrid_rrf_topk,
)
from product_etl_spark.plans.catalog import _t, register

_M, _K, _DSUB, _DIM = 8, 16, 8, 64
_BOOKS = PQ.md5_codebooks(_M, _K, _DSUB)


def _codes_sql_select() -> str:
    """vec_id + the m generated 0-based code expressions."""
    exprs = PQ.pq_codes_oracle_sql(_BOOKS, _M, _DSUB)
    cols = ", ".join(f"{e} AS c{s}" for s, e in enumerate(exprs))
    return f"SELECT vec_id, embedding, {cols} FROM embeddings"


_Q115_SQL = f"""
    WITH codes AS ({_codes_sql_select()})
    SELECT vec_id,
           {" || '-' || ".join(f"CAST(c{s} AS VARCHAR)" for s in range(_M))}
             AS pq_code
    FROM codes
"""


@register("q115_pq_codes", _Q115_SQL)
def q115_pq_codes(spark, sf_dir):
    """PQ-encode every embedding with the deterministic md5 codebooks
    (m=8 subspaces x k=16 centroids over 64 dims -> 4 bytes/vector,
    a 64x corpus compression). PURE MAP — no join, no shuffle
    (plan-asserted in tests/test_pq.py); the m*k squared-distance
    argmins run in one Arrow-batched pandas UDF (one ArrowEvalPython
    node) whose left folds match the oracle SQL bit-for-bit. Codes
    surface as a '-'-joined string so the driver hash is
    engine-portable."""
    emb = _t(spark, sf_dir, "embeddings")
    coded = PQ.pq_encode(emb, "embedding", _BOOKS, dim=_DIM)
    return coded.select(
        "vec_id",
        F.concat_ws(
            "-", F.transform("pq_code", lambda c: c.cast("string"))
        ).alias("pq_code"),
    )


def _q116_sql() -> str:
    exprs = PQ.pq_codes_oracle_sql(_BOOKS, _M, _DSUB)
    code_list = "[" + ", ".join(exprs) + "]"
    adc = PQ.pq_adc_oracle_terms(_BOOKS, "q.embedding", "c.pq_code")
    return f"""
    WITH corpus AS (
      SELECT vec_id, {code_list} AS pq_code
      FROM embeddings WHERE vec_id >= 3
    ), q AS (
      SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 3
    ), scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id, {adc} AS d2
      FROM corpus c CROSS JOIN q
    ), ranked AS (
      SELECT query_id, neighbor_id, d2,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY d2, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, ROUND(d2, 6) AS adc_dist2, rank
    FROM ranked WHERE rank <= 5
    """


_BM25_TERMS = ["join", "filter", "hash"]


@register("q117_bm25_search", bm25_oracle_sql(_BM25_TERMS, top_n=10))
def q117_bm25_search(spark, sf_dir):
    """Okapi BM25 top-10 for a bag-of-terms query over documents
    (operators/retrieval.bm25_topk) — the lexical-retrieval family
    (Lucene's default ranking) next to q99's TF-IDF. Tokens filter to
    the query's terms BEFORE the (doc,term) aggregate; df/corpus
    stats broadcast back; per-term contributions round to 1e-9 and
    sum as DECIMAL so the ranking key is order-insensitive and
    engine-exact; top-10 is a TakeOrdered, no global window."""
    docs = _t(spark, sf_dir, "documents")
    return bm25_topk(docs, _BM25_TERMS, top_n=10)


@register("q116_pq_adc_topk", _q116_sql())
def q116_pq_adc_topk(spark, sf_dir):
    """Asymmetric-distance top-5 neighbors for 3 query vectors over
    the PQ-coded corpus: the query stays full precision, the corpus
    is looked up through the codebooks — never decompressed. The
    coded corpus side NEVER shuffles (broadcast queries + map +
    query-keyed window); at 100 TB the scan reads 4-byte codes, not
    256-byte embeddings."""
    emb = _t(spark, sf_dir, "embeddings")
    corpus = PQ.pq_encode(
        emb.filter(F.col("vec_id") >= 3), "embedding", _BOOKS, dim=_DIM
    )
    queries = emb.filter(F.col("vec_id") < 3)
    topk = PQ.pq_adc_topk(corpus, queries, _BOOKS, k_neighbors=5, dim=_DIM)
    return topk.select(
        "query_id",
        "neighbor_id",
        F.round("adc_dist2", 6).alias("adc_dist2"),
        "rank",
    )


_CHUNK_MAX, _CHUNK_OVERLAP = 40, 8


@register(
    "q118_doc_chunking",
    chunk_documents_oracle_sql(max_tokens=_CHUNK_MAX, overlap=_CHUNK_OVERLAP),
)
def q118_doc_chunking(spark, sf_dir):
    """Sliding-window document chunking (operators/packing.
    chunk_documents): 40-token windows, 8-token overlap — the
    long-document dual of q66's context packing. Map-only fan-out:
    the start grid is generated executor-side per row (sequence +
    posexplode), so one huge document becomes many rows, never one
    huge task; no shuffle anywhere (plan-asserted in
    tests/test_chunking.py)."""
    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, max_tokens=_CHUNK_MAX, overlap=_CHUNK_OVERLAP)


from product_etl_spark.operators import sq as SQ  # noqa: E402


@register("q119_sq8_codes", SQ.sq8_codes_oracle_sql())
def q119_sq8_codes(spark, sf_dir):
    """Scalar-quantize every embedding to one byte per dimension
    (operators/sq.py — FAISS ScalarQuantizer recipe, the 4x
    companion to q115's 64x PQ): train = one posexplode min/max
    aggregate (driver state 2*dim doubles), encode = a pure
    transform-lambda over literal bounds. Codes surface as a
    '-'-joined string for an engine-portable hash."""
    emb = _t(spark, sf_dir, "embeddings")
    bounds = SQ.sq8_train(emb, "embedding", dim=64)
    coded = SQ.sq8_encode(emb, "embedding", bounds)
    # stored codes are tinyint (code - 128); display the 0..255 form
    # the oracle computes
    return coded.select(
        "vec_id",
        F.concat_ws(
            "-",
            F.transform(
                "sq_code", lambda c: (c.cast("int") + F.lit(128)).cast("string")
            ),
        ).alias("sq_code"),
    )


@register("q120_binary_hash_hamming", SQ.binary_hash_oracle_sql(top_n=5))
def q120_binary_hash_hamming(spark, sf_dir):
    """Binary sign hashing + Hamming top-5 (operators/sq.py): the
    1-bit rung of the quantization ladder (32x compression) under
    SQ8 (4x, q119) and PQ (64x, q115). Thresholds are per-dimension
    midranges — exact min/max, no cross-engine float-summation risk —
    and the Hamming ranking is pure integer arithmetic, so this
    oracle is exact by construction. Broadcast queries; the packed
    corpus never shuffles; bounded top-k."""
    emb = _t(spark, sf_dir, "embeddings")
    bounds = SQ.sq8_train(emb, "embedding", dim=64)
    thr = SQ.midrange_thresholds(bounds)
    coded = SQ.bin_sign_encode(emb, "embedding", thr)
    corpus = coded.filter(F.col("vec_id") >= 3)
    queries = coded.filter(F.col("vec_id") < 3)
    return SQ.hamming_topk(corpus, queries, k_neighbors=5)


_HYBRID_TERMS = ["spark", "hash", "merge", "window"]
_HYBRID_QVEC = 7


@register(
    "q121_hybrid_rrf_search",
    hybrid_rrf_oracle_sql(_HYBRID_TERMS, _HYBRID_QVEC, depth=25, top_n=10),
)
def q121_hybrid_rrf_search(spark, sf_dir):
    """Hybrid lexical+vector retrieval fused by reciprocal-rank
    fusion (operators/retrieval.hybrid_rrf_topk): BM25 top-25 and
    exact-decimal-L2 top-25 (query = embedding of vec_id 7), fused by
    sum(1/(60+rank)) — the Elasticsearch/Vespa first-stage hybrid
    recipe, here with engine-exact ranks on BOTH legs (decimal BM25
    sums; per-element-rounded decimal L2 with zero libm calls) so the
    fused ordering is oracle-exact, not merely close.

    Scale shape: each leg bounds its single rank window with
    rank<=depth (WindowGroupLimit before the exchange); fusion
    touches 2*depth rows. The corpus never shuffles on either leg —
    BM25's tf filters to query terms before aggregating, the vector
    leg broadcasts the 1-row query."""
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    return hybrid_rrf_topk(
        docs, emb, _HYBRID_TERMS, _HYBRID_QVEC, depth=25, top_n=10
    )
