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
  oracle can reproduce encode/ADC bit-for-bit; ``train_codebooks``
  is the quality path: per-subspace Lloyd's k-means, ONE corpus pass
  per iteration covering ALL m subspaces at once (explode to
  (subspace, code, subvector), then a single m*k*dsub-key mean
  shuffle — map-side combined, never corpus-keyed).
- Argmin tie-break: FIRST index of the minimum score, which
  DuckDB's ``list_position(d, list_min(d))`` matches exactly. The
  encode score is ``||c||^2 - 2<x,c>`` (squared-L2 ordering, half
  the arithmetic) and ADC is true squared L2; both fold element
  terms left-to-right in a fixed order so both engines produce the
  identical IEEE double.

Reference parity note: the reference has no vector search at all
(SURVEY §2.12 extension family); this extends knn_bruteforce /
knn_ivf (similarity.py) with the compressed-corpus variant a
training-data pipeline needs for dedup/retrieval over O(10^10) docs.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window
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


def _sub(emb_col: str, s: int, dsub: int) -> F.Column:
    """Subvector s of the embedding (1-based slice)."""
    return F.slice(F.col(emb_col), s * dsub + 1, dsub)


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


def _with_adc_dist2(
    df: DataFrame,
    q_emb: str,
    code_col: str,
    codebooks: Codebooks,
    out_col: str = "adc_dist2",
) -> DataFrame:
    """Asymmetric squared distance: full-precision query embedding vs
    the corpus row's code-selected centroids, by one Arrow-batched
    pandas UDF (``V.adc_dist2_udf``) whose term order matches the
    generated oracle SQL (``pq_adc_oracle_terms``) exactly."""
    _check_books(codebooks, len(codebooks) * len(codebooks[0][0]))
    udf = V.adc_dist2_udf(codebooks)
    return df.withColumn(out_col, udf(F.col(q_emb), F.col(code_col)))


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
    scored = _with_adc_dist2(pairs, "_q_emb", code_col, codebooks)
    from product_etl_spark.operators.similarity import topk_per_key

    return topk_per_key(
        scored,
        ["query_id"],
        [F.col("adc_dist2").asc(), F.col("neighbor_id").asc()],
        k_neighbors,
        n_salt=n_salt,
    ).select("query_id", "neighbor_id", "adc_dist2", "rank")


def train_codebooks(
    corpus: DataFrame,
    emb_col: str,
    m: int = 8,
    k: int = 16,
    n_iters: int = 3,
    dim: int = 64,
    init: Codebooks | None = None,
) -> Codebooks:
    """Per-subspace Lloyd's k-means, the quality path (md5_codebooks
    is the deterministic oracle path). ONE corpus pass per iteration
    covers ALL m subspaces: encode with the current books (pure map),
    explode each row to m (subspace, code, subvector) structs, then a
    single groupBy((subspace, code, pos)) mean — m*k*dsub grouping
    keys, map-side combined, never corpus-keyed. Driver state is the
    m*k*dsub float codebook per round (the IVF centroid contract).
    Empty cells keep their previous centroid. Deterministic: means
    are order-insensitive and the init is md5-seeded."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    if init is not None and (len(init) != m or len(init[0]) != k):
        # _check_books alone can't catch this: a 16x16x4 init also
        # tiles 64 dims, but the explode loop below would mix m=8
        # 8-dim subvectors with 4-dim centroids and blow up deep in
        # the update loop
        raise ValueError(
            f"init codebooks are {len(init)}x{len(init[0])} but "
            f"m={m}, k={k} were requested"
        )
    books = init if init is not None else md5_codebooks(m, k, dsub)
    _check_books(books, dim)
    from product_etl_spark.operators.similarity import _check_dim

    corpus = corpus.select(emb_col).persist()
    # probe once; each round applies the encode kernel directly
    _check_dim(corpus, emb_col, dim)
    try:
        for _ in range(n_iters):
            coded = corpus.withColumn(
                "pq_code", V.pq_codes_udf(books)(F.col(emb_col))
            )
            exploded = coded.select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(s).alias("sub"),
                                F.element_at("pq_code", s + 1).alias("code"),
                                _sub(emb_col, s, dsub).alias("v"),
                            )
                            for s in range(m)
                        ]
                    )
                ).alias("x")
            ).select("x.sub", "x.code", F.posexplode("x.v").alias("pos", "val"))
            means = (
                exploded.groupBy("sub", "code", "pos")
                .agg(F.avg(F.col("val").cast("double")).alias("mval"))
                .collect()
            )
            new_books = [[list(c) for c in b] for b in books]
            for r in means:
                new_books[r["sub"]][r["code"]][r["pos"]] = float(r["mval"])
            books = new_books
    finally:
        corpus.unpersist()
    return books


def quantization_error(
    df: DataFrame, emb_col: str, codebooks: Codebooks, dim: int = 64
) -> float:
    """Mean squared reconstruction error — the PQ quality metric
    (lower after training = the k-means worked). One map + one scalar
    aggregate."""
    _check_books(codebooks, dim)
    coded = pq_encode(df, emb_col, codebooks, dim=dim)
    # reconstruction error IS the asymmetric distance of a vector to
    # its own code — reuse the ADC kernel
    row = (
        _with_adc_dist2(coded, emb_col, "pq_code", codebooks, out_col="_re")
        .select(F.avg("_re").alias("mse"))
        .first()
    )
    if row is None or row["mse"] is None:
        # avg over zero rows is NULL; 0.0 here would report a
        # PERFECT score for an accidentally-empty corpus and let a
        # before/after training gate pass on no data
        raise ValueError("quantization_error: empty input frame")
    return float(row["mse"])


def build_ivf_pq_index(
    corpus: DataFrame,
    centroids: DataFrame,
    codebooks: Codebooks,
    corpus_id: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """The IVF-PQ index frame: (neighbor_id, list_id, pq_code) — one
    map-only pass (literal-argmin list assignment + Arrow-kernel
    encode, no shuffle). BUILD ONCE, QUERY MANY: persist this (or
    write it partitioned by list_id, the write_ivf_index recipe) —
    the assign expression tree is large, and re-deriving it inside
    every query's AQE re-optimizations costs far more than
    materializing the 4-bytes-per-row result."""
    from product_etl_spark.operators.similarity import _with_list_id

    return pq_encode(
        _with_list_id(corpus, centroids, emb_col), emb_col, codebooks, dim=dim
    ).select(F.col(corpus_id).alias("neighbor_id"), "list_id", "pq_code")


def _probe_lists(
    queries: DataFrame,
    centroids: DataFrame,
    nprobe: int,
    query_id: str,
    query_emb: str,
    dim: int,
) -> DataFrame:
    """Per-query probe lists: the nprobe nearest coarse centroids
    (broadcast; both frames are contract-small). Shared by the
    in-memory and persisted IVF-PQ query paths so probe tie-breaking
    and the query-side dim guard live in ONE place. Returns
    (query_id, _q_emb, list_id)."""
    from product_etl_spark.operators.similarity import _check_dim

    _check_dim(queries, query_emb, dim)
    q = queries.select(
        F.col(query_id).alias("query_id"), F.col(query_emb).alias("_q_emb")
    )
    qc = q.crossJoin(F.broadcast(centroids))
    wq = Window.partitionBy("query_id").orderBy(
        V.l2_distance("_q_emb", "centroid").asc(), F.col("list_id").asc()
    )
    return (
        qc.withColumn("_r", F.row_number().over(wq))
        .filter(F.col("_r") <= nprobe)
        .select("query_id", "_q_emb", "list_id")
    )


def knn_ivf_pq(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    codebooks: Codebooks,
    k_neighbors: int = 5,
    nprobe: int = 2,
    corpus_id: str = "vec_id",
    query_id: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = 64,
    coded_corpus: DataFrame | None = None,
    n_salt: int = 1,
) -> DataFrame:
    """IVF-PQ: coarse-prune with IVF lists, then ADC-score only the
    probed lists' coded rows — the standard billion-scale recipe
    (FAISS IVFPQ). Corpus cost per query drops to ~nprobe/n_lists of
    the coded (4-byte) corpus; neither stage shuffles the corpus.

    Pass ``coded_corpus`` (a persisted/stored ``build_ivf_pq_index``
    frame) for the production query path; otherwise the index is
    derived inline from ``corpus`` (convenient, but rebuilds the
    index expression per call — measured ~10x slower end-to-end at
    200k vectors, tools/bench_pq.py).

    Composition of audited parts: ivf_assign (literal-argmin map),
    pq_encode (Arrow-kernel map), the query->probe-list broadcast join
    from knn_ivf, and the bounded single-window ADC top-k from
    pq_adc_topk (``n_salt>1`` engages the salted two-phase rank)."""
    coded = (
        coded_corpus
        if coded_corpus is not None
        else build_ivf_pq_index(
            corpus, centroids, codebooks, corpus_id, emb_col, dim=dim
        )
    )
    probes = _probe_lists(queries, centroids, nprobe, query_id, emb_col, dim)
    pairs = coded.join(F.broadcast(probes), "list_id")
    scored = _with_adc_dist2(pairs, "_q_emb", "pq_code", codebooks)
    from product_etl_spark.operators.similarity import topk_per_key

    return topk_per_key(
        scored,
        ["query_id"],
        [F.col("adc_dist2").asc(), F.col("neighbor_id").asc()],
        k_neighbors,
        n_salt=n_salt,
    ).select("query_id", "neighbor_id", "adc_dist2", "rank")


def write_ivf_pq_index(
    corpus: DataFrame,
    emb_col: str,
    id_col: str,
    path: str,
    n_lists: int = 4,
    m: int = 8,
    k: int = 16,
    kmeans_iters: int = 0,
    pq_train_iters: int = 0,
    dim: int = 64,
) -> None:
    """Build and persist a full IVF-PQ index:

    - ``<path>/centroids``  — k coarse centroids (list_id, centroid)
    - ``<path>/codebooks``  — m*k rows (sub, code, centroid)
    - ``<path>/codes``      — (id, pq_code) partitioned by list_id

    The partition layout is the coarse index (the write_ivf_index
    recipe: each inverted list is its own parquet directory, probes
    partition-prune to nprobe/n_lists of the files) and the stored
    rows are the PQ compression: 4-ish bytes of code per vector
    instead of the embedding — the stored index is ~64x smaller than
    the corpus embeddings, so at 100 TB of vectors the index serves
    from ~1.6 TB. ``kmeans_iters``/``pq_train_iters`` > 0 train the
    coarse centroids / codebooks (Lloyd's); 0 keeps the deterministic
    md5/lowest-id variants."""
    from product_etl_spark.operators.similarity import (
        ivf_centroids,
        ivf_centroids_kmeans,
    )

    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    if kmeans_iters > 0:
        cents = ivf_centroids_kmeans(
            corpus, emb_col, id_col, n_lists=n_lists, n_iters=kmeans_iters
        )
    else:
        cents = ivf_centroids(corpus, emb_col, id_col, n_lists=n_lists)
    books = md5_codebooks(m, k, dim // m)
    if pq_train_iters > 0:
        books = train_codebooks(
            corpus, emb_col, m=m, k=k, n_iters=pq_train_iters, dim=dim,
            init=books,
        )
    coded = build_ivf_pq_index(
        corpus, cents, books, corpus_id=id_col, emb_col=emb_col, dim=dim
    )
    coded.write.mode("overwrite").partitionBy("list_id").parquet(
        f"{path}/codes"
    )
    cents.write.mode("overwrite").parquet(f"{path}/centroids")
    spark = corpus.sparkSession
    book_rows = [
        (s, c, books[s][c]) for s in range(m) for c in range(k)
    ]
    spark.createDataFrame(
        book_rows, "sub int, code int, centroid array<double>"
    ).write.mode("overwrite").parquet(f"{path}/codebooks")


def read_codebooks(spark, path: str) -> Codebooks:
    """Codebooks back from ``<path>/codebooks`` as driver state
    (m*k*dsub floats — the contract-small constant)."""
    rows = spark.read.parquet(f"{path}/codebooks").collect()
    m = 1 + max(r["sub"] for r in rows)
    k = 1 + max(r["code"] for r in rows)
    books: Codebooks = [[None] * k for _ in range(m)]  # type: ignore[list-item]
    for r in rows:
        books[r["sub"]][r["code"]] = list(r["centroid"])
    if any(c is None for b in books for c in b):
        raise ValueError(f"codebooks at {path} are not a full {m}x{k} grid")
    return books


def knn_ivf_pq_index(
    spark,
    index_path: str,
    queries: DataFrame,
    k_neighbors: int = 5,
    nprobe: int = 2,
    query_id: str = "vec_id",
    query_emb: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """ADC top-k against a persisted IVF-PQ index, reading only the
    probed lists' code files (PartitionFilters on list_id — the
    knn_ivf_index pruning recipe) and never any embedding bytes.
    Returns (query_id, neighbor_id, adc_dist2, rank)."""
    from product_etl_spark.operators.similarity import topk_per_key

    books = read_codebooks(spark, index_path)
    _check_books(books, dim)
    cents = spark.read.parquet(f"{index_path}/centroids")
    probes = _probe_lists(queries, cents, nprobe, query_id, query_emb, dim)
    probe_lists = [
        r["list_id"] for r in probes.select("list_id").distinct().collect()
    ]
    codes = spark.read.parquet(f"{index_path}/codes").filter(
        F.col("list_id").isin(probe_lists)
    )
    pairs = codes.join(F.broadcast(probes), "list_id")
    scored = _with_adc_dist2(pairs, "_q_emb", "pq_code", books)
    return topk_per_key(
        scored,
        ["query_id"],
        [F.col("adc_dist2").asc(), F.col("neighbor_id").asc()],
        k_neighbors,
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
    """DuckDB expression reproducing _adc_dist2: the code-selected
    centroid comes from indexing a nested list literal."""
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


def append_to_ivf_pq_index(
    spark,
    index_path: str,
    new_batch: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = 64,
) -> int:
    """Incrementally grow a persisted IVF-PQ index: assign + encode
    ``new_batch`` with the index's EXISTING centroids and codebooks
    and append the coded rows into ``<index_path>/codes`` (same
    list_id partition layout, so probes keep partition-pruning).
    Returns the number of appended vectors.

    This is the production ingest path — a new corpus shard becomes
    one map-only assign+encode pass plus a partitioned append; no
    retraining, no rewrite of existing lists, centroids/codebooks
    untouched. Quantization error for the new rows is whatever the
    frozen codebooks give (the FAISS add-after-train contract);
    retrain + rebuild when drift warrants it.

    Idempotence contract: the append is AT-LEAST-ONCE (a retried
    batch writes its rows twice — parquet appends are not
    transactional). Callers ingesting from an unreliable queue should
    dedup upstream or rebuild the affected lists; the probe path
    itself tolerates duplicate neighbor rows (duplicates rank
    adjacently and are collapsible by id downstream).
    """
    books = read_codebooks(spark, index_path)
    _check_books(books, dim)
    cents = spark.read.parquet(f"{index_path}/centroids")
    coded = build_ivf_pq_index(
        new_batch, cents, books, corpus_id=id_col, emb_col=emb_col, dim=dim
    )
    n = coded.count()
    if n:
        coded.write.mode("append").partitionBy("list_id").parquet(
            f"{index_path}/codes"
        )
    return n
