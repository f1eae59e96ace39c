"""Product quantization (PQ) for embedding columns — the compressed
ANN scale path (Jegou, Douze, Schmid, "Product Quantization for
Nearest Neighbor Search", IEEE TPAMI 2011).

Why this exists at 100 TB: a 64-dim float32 embedding is 256 bytes;
its PQ code at m=8 subspaces x k=16 centroids is 8 x 4 bits = 4
bytes. The corpus-side state for similarity search shrinks 64x, which
is the difference between an ANN index that fits executor memory and
one that doesn't. Search uses asymmetric distance computation (ADC):
the query stays full-precision, the corpus is looked up through the
codebooks — no decompression pass.

Design (Spark-first):

- Codebooks are DRIVER STATE by contract: m*k*dsub floats (e.g.
  8*16*8 = 1024) — the same "k·dim is small" contract as IVF
  centroids. They ship inside the closures of two Arrow-batched
  pandas UDF kernels (``V.pq_codes_udf`` and ``V.adc_dist2_udf`` in
  functions/vectors.py), so both encode and ADC are PURE MAP
  operators: no join, no shuffle (plan-asserted in tests/test_pq.py).
- ``md5_codebooks`` gives deterministic, engine-portable codebooks
  (the ``hyperplanes`` recipe from similarity.py) so the DuckDB
  oracle can reproduce encode/ADC bit-for-bit.
- Argmin tie-break: FIRST index of the minimum score, which
  DuckDB's ``list_position(d, list_min(d))`` matches exactly. The
  encode score is ``||c||^2 - 2<x,c>`` (squared-L2 ordering, half
  the arithmetic) and ADC is true squared L2; both fold element
  terms left-to-right in a fixed order so both engines produce the
  identical IEEE double.

Reference parity note: the reference has no vector search at all
(SURVEY §2.12 extension family); this extends knn_bruteforce
(similarity.py) with the compressed-corpus scan a training-data
pipeline needs for dedup/retrieval over O(10^10) docs.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from product_etl_spark.functions import vectors as V

Codebooks = list[list[list[float]]]  # [subspace][code][dim_within_sub]


def md5_codebooks(m: int = 8, k: int = 16, dsub: int = 8) -> Codebooks:
    """Deterministic pseudo-random codebooks in [-1,1]^dsub, derived
    from md5 so any engine/language reproduces them exactly (the
    similarity.hyperplanes recipe). Round to 3 decimals: the literal
    *decimal strings* are what both engines parse, and string->double
    parsing is IEEE round-to-nearest in both."""
    books: Codebooks = []
    for s in range(m):
        book = []
        for c in range(k):
            row = []
            for j in range(dsub):
                h = int(
                    hashlib.md5(f"pq{s},{c},{j}".encode()).hexdigest()[:8], 16
                )
                row.append(round((h % 2001) / 1000.0 - 1.0, 3))
            book.append(row)
        books.append(book)
    return books


def _check_books(codebooks: Codebooks, dim: int) -> tuple[int, int, int]:
    m = len(codebooks)
    k = len(codebooks[0])
    dsub = len(codebooks[0][0])
    if m * dsub != dim:
        raise ValueError(
            f"codebooks cover {m}x{dsub}={m * dsub} dims but dim={dim}; "
            "subspaces must tile the embedding exactly"
        )
    if any(len(b) != k or any(len(r) != dsub for r in b) for b in codebooks):
        raise ValueError("ragged codebooks: every subspace needs k x dsub")
    return m, k, dsub


# Why encode and ADC run as Arrow kernels and not as Catalyst
# expressions: the fully unrolled element_at form of the m*k score
# folds compiled to a ~16k-line method that janino rejected, so the
# stage fell back to interpreted execution AND paid a multi-second
# failed compile per plan; the zip_with/aggregate lambda form avoided
# the compile but ran every fold per ROW in the interpreter
# (CodegenFallback). The kernels keep the same IEEE fold order with
# neither cost — do not "inline" them back into unrolled SQL.


def pq_encode(
    df: DataFrame,
    emb_col: str,
    codebooks: Codebooks,
    out_col: str = "pq_code",
    dim: int = 64,
) -> DataFrame:
    """Map-only PQ encode: ``out_col`` is an array<int> of m codes,
    computed by one Arrow-batched pandas UDF (``V.pq_codes_udf``) with
    no join and no shuffle. At m=8,k=16 the array fits 4 bits per
    entry; stored as int for parquet simplicity (dictionary encoding
    collapses it on disk).

    Loud dim guard: the kernel RAISES on any NULL, wrong-length or
    NULL/NaN-element row, on batch AND streaming frames — a corrupt
    row hiding behind valid ones must fail the job, not encode to a
    plausible code. Batch frames also get the eager first() probe
    (similarity._check_dim), so an obviously-wrong frame fails at
    build time, before any job runs."""
    _check_books(codebooks, dim)
    from product_etl_spark.operators.similarity import _check_dim

    if not df.isStreaming:
        _check_dim(df, emb_col, dim)
    return df.withColumn(out_col, V.pq_codes_udf(codebooks)(F.col(emb_col)))


def pq_adc_topk(
    corpus_codes: DataFrame,
    queries: DataFrame,
    codebooks: Codebooks,
    k_neighbors: int = 5,
    corpus_id: str = "vec_id",
    query_id: str = "vec_id",
    query_emb: str = "embedding",
    code_col: str = "pq_code",
    dim: int = 64,
    n_salt: int = 1,
) -> DataFrame:
    """ADC top-k: broadcast the (small by contract) query set against
    the coded corpus; per-query top-k via a bounded single-window
    rank (WindowGroupLimit plants the partial limit before the
    exchange, so map tasks ship at most k rows per query). Pass
    ``n_salt>1`` to engage topk_per_key's salted two-phase variant
    when k*n_map_tasks per query still overwhelms one reducer.
    The corpus side NEVER shuffles — at 100 TB this is a map over the
    4-byte-per-row coded corpus plus a window keyed by query id.
    Returns (query_id, neighbor_id, adc_dist2, rank). Like FAISS, a
    query present in the coded corpus matches ITSELF at rank 1 —
    exclude query ids from the corpus side (q116's split) or drop
    neighbor_id == query_id rows when self-matches are unwanted
    (knn_bruteforce excludes them by join condition instead)."""
    _check_books(codebooks, dim)
    # guard the QUERY side too: a mismatched query embedding makes
    # every slice/zip_with NULL -> adc_dist2 NULL -> the window's
    # NULLS FIRST sort hands out ranks by neighbor_id alone —
    # silently wrong top-k
    from product_etl_spark.operators.similarity import _check_dim

    _check_dim(queries, query_emb, dim)
    q = queries.select(
        F.col(query_id).alias("query_id"), F.col(query_emb).alias("_q_emb")
    )
    pairs = corpus_codes.select(
        F.col(corpus_id).alias("neighbor_id"), code_col
    ).crossJoin(F.broadcast(q))
    # asymmetric squared distance by one Arrow-batched kernel whose
    # term order matches the generated oracle SQL
    # (``pq_adc_oracle_terms``) exactly
    scored = pairs.withColumn(
        "adc_dist2",
        V.adc_dist2_udf(codebooks)(F.col("_q_emb"), F.col(code_col)),
    )
    from product_etl_spark.operators.similarity import topk_per_key

    return topk_per_key(
        scored,
        ["query_id"],
        [F.col("adc_dist2").asc(), F.col("neighbor_id").asc()],
        k_neighbors,
        n_salt=n_salt,
    ).select("query_id", "neighbor_id", "adc_dist2", "rank")


# ---------------------------------------------------------------- oracle SQL


def _sql_sub_score(emb: str, s: int, dsub: int, centroid: list[float]) -> str:
    """``||c||^2 - 2<x,c>`` with the dot left-folded in element
    order — the exact arithmetic ``V.pq_codes_udf`` performs for
    Spark, so the IEEE double matches bit-for-bit."""
    dot = "CAST(0.0 AS DOUBLE)"
    for j, v in enumerate(centroid):
        dot = (
            f"({dot} + (CAST({emb}[{s * dsub + j + 1}] AS DOUBLE)"
            f" * CAST({float(v)!r} AS DOUBLE)))"
        )
    c2 = V.sq_norm_fold(centroid)
    return (
        f"(CAST({c2!r} AS DOUBLE) - (CAST(2.0 AS DOUBLE) * {dot}))"
    )


def pq_codes_oracle_sql(codebooks: Codebooks, m: int, dsub: int) -> list[str]:
    """DuckDB expression list (one string per subspace) reproducing
    pq_encode's codes for the embeddings table (generated literals,
    same score formula, same tie-break)."""
    parts = []
    for s in range(m):
        scores = ", ".join(
            _sql_sub_score("embedding", s, dsub, c) for c in codebooks[s]
        )
        parts.append(
            f"(list_position([{scores}], list_min([{scores}])) - 1)"
        )
    return parts


def pq_adc_oracle_terms(codebooks: Codebooks, q_emb: str, code_arr: str) -> str:
    """DuckDB expression reproducing ``V.adc_dist2_udf``: the
    code-selected centroid comes from indexing a nested list literal."""
    m, _, dsub = len(codebooks), len(codebooks[0]), len(codebooks[0][0])
    total = "CAST(0.0 AS DOUBLE)"
    for s in range(m):
        book = (
            "["
            + ", ".join(
                "[" + ", ".join(f"CAST({v} AS DOUBLE)" for v in c) + "]"
                for c in codebooks[s]
            )
            + "]"
        )
        cent = f"({book})[{code_arr}[{s + 1}] + 1]"
        term = "CAST(0.0 AS DOUBLE)"
        for j in range(dsub):
            d = (
                f"(CAST({q_emb}[{s * dsub + j + 1}] AS DOUBLE)"
                f" - ({cent})[{j + 1}])"
            )
            term = f"({term} + {d} * {d})"
        total = f"({total} + {term})"
    return total
