"""Similarity search over embedding columns (array<float>).

- ``knn_bruteforce``: exact cosine top-k — broadcast the query set
  against the fully-partitioned corpus; per-query top-k via window.
  The corpus side never shuffles: at 100 TB this is a map + window
  over query-id partitions (queries are small by construction).
- ``lsh_assign_buckets``: random-hyperplane LSH buckets. Vectors
  hash to 2^planes buckets by dot-product sign against deterministic
  hyperplanes; a bucket id is a blocking key for the within-block
  scans (``cosine_near_dup_pairs``).

Hyperplanes are md5-derived constants (portable + reproducible in
the DuckDB oracle); norms are zip_with/aggregate expressions and
per-pair dots run on the bit-exact Arrow kernel ``V.dot_udf``
(functions/vectors.py).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from product_etl_spark.functions import vectors as V


def hyperplanes(n_planes: int = 4, dim: int = 64) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1,1]^dim, derived
    from md5 so any engine/language reproduces them exactly."""
    planes = []
    for p in range(n_planes):
        row = []
        for j in range(dim):
            h = int(hashlib.md5(f"plane{p},{j}".encode()).hexdigest()[:8], 16)
            row.append(round((h % 2001) / 1000.0 - 1.0, 3))
        planes.append(row)
    return planes


def bucket_expr(emb_col: str, planes: list[list[float]]):
    bucket = None
    for p, row in enumerate(planes):
        w = F.array(*[F.lit(v) for v in row])
        term = F.when(V.dot(emb_col, w) > 0, F.lit(2**p)).otherwise(F.lit(0))
        bucket = term if bucket is None else bucket + term
    return bucket.cast("int")


def lsh_assign_buckets(
    df: DataFrame, emb_col: str, n_planes: int = 4, dim: int = 64
) -> DataFrame:
    bucket = bucket_expr(emb_col, hyperplanes(n_planes, dim))
    if df.isStreaming:
        # _check_dim's eager probe is illegal on streams; guard per
        # row instead — a silent dim mismatch would put every vector
        # in bucket 0 (full cross join downstream)
        bucket = F.when(F.size(F.col(emb_col)) == dim, bucket).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("lsh_assign_buckets: embedding dim "),
                    F.size(F.col(emb_col)).cast("string"),
                    F.lit(f" != expected dim {dim}"),
                )
            ).cast("int")
        )
    else:
        _check_dim(df, emb_col, dim)
    return df.withColumn("bucket", bucket)


def _check_dim(df: DataFrame, emb_col: str, dim: int) -> None:
    """Fail loudly when the embedding dimension disagrees with the
    hyperplane dim: zip_with pads the shorter side with NULLs, the
    dot becomes NULL, and every vector lands in bucket 0 — the LSH
    silently degrades to a full cross join. One first() on a
    column-pruned scan; cheap next to the bucketed join it guards.
    Streaming frames skip the probe (an eager first() is illegal on
    them); streaming callers (pq_encode, lsh_assign_buckets) attach a
    per-row raise_error guard instead, so a mis-dimensioned stream
    fails the batch rather than committing garbage."""
    if df.isStreaming:
        return
    row = df.select(F.size(F.col(emb_col)).alias("_d")).first()
    if row is not None and row["_d"] != dim:
        raise ValueError(
            f"embedding dim {row['_d']} != expected dim {dim}; pass "
            f"dim={row['_d']} so vector ops (LSH buckets, PQ codes) "
            "line up with the data"
        )


def topk_per_key(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list,
    k: int,
    rank_col: str = "rank",
    n_salt: int = 1,
) -> DataFrame:
    """Top-k rows per key via ``row_number() OVER (PARTITION BY
    key)``, with an optional SALTED two-phase variant.

    On Spark 3.5+/4 the single window is already scale-safe for the
    broadcast-query kNN contract (few keys, unbounded corpus):
    the rank filter plants a ``WindowGroupLimit(Partial)`` BEFORE the
    exchange, so each map task ships at most k rows per key and the
    per-key reducer sees <= k * n_map_tasks rows, not the corpus
    [observed in the executed plan; the shuffle is bounded, not the
    full candidate set]. ``n_salt>1`` adds a (key, salt) pre-rank —
    n_salt*nq reducers, each keeping k — for engines without
    WindowGroupLimit or k*tasks volumes that still overwhelm one
    reducer. Correct for ANY bucket assignment because each bucket's
    top-k is a superset of the global top-k members that hashed into
    it — REQUIRES ``order_cols`` to be a total order (tie-break to a
    unique id), which also makes the result deterministic
    (equivalence asserted for n_salt in {1,2,16,64})."""
    if n_salt and n_salt > 1 and ("_salt" in df.columns or "_r1" in df.columns):
        # withColumn would silently REPLACE and then drop a caller
        # column of the same name — destroyed data, no error
        raise ValueError(
            "topk_per_key uses internal columns _salt/_r1; rename the "
            "input columns or pass n_salt=1"
        )
    if rank_col in df.columns:
        # Same silent-replace hazard for the OUTPUT column, on every
        # path (not just the salted one): withColumn(rank_col, ...)
        # would overwrite caller data with row numbers.
        raise ValueError(
            f"topk_per_key writes rank column {rank_col!r}, which "
            "already exists in the input; rename it or pass a "
            "different rank_col"
        )
    w_final = Window.partitionBy(*key_cols).orderBy(*order_cols)
    if n_salt and n_salt > 1:
        w1 = Window.partitionBy(*key_cols, "_salt").orderBy(*order_cols)
        df = (
            df.withColumn("_salt", F.spark_partition_id() % F.lit(n_salt))
            .withColumn("_r1", F.row_number().over(w1))
            .filter(F.col("_r1") <= k)
            .drop("_salt", "_r1")
        )
    return df.withColumn(rank_col, F.row_number().over(w_final)).filter(
        F.col(rank_col) <= k
    )


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    emb_col: str,
    id_col: str,
    query_id_col: str = "query_id",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, cos_sim).

    ``queries`` must be small (it is broadcast); ``corpus`` scale is
    unbounded. Ties broken by neighbor id for determinism.
    """
    # Norms hoisted to the per-row projections (1x per vector) so the
    # interpreted aggregate runs once per PAIR (the dot), not three
    # times — identical IEEE ops, ~3x less expression work.
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(emb_col).alias("_q_emb"),
        V.norm(emb_col).alias("_q_norm"),
    )
    sims = corpus.withColumn("_c_norm", V.norm(emb_col)).join(
        F.broadcast(q), F.col(id_col) != F.col(query_id_col)
    ).select(
        query_id_col,
        F.col(id_col).alias("neighbor_id"),
        V.safe_cosine(V.dot_udf()(F.col("_q_emb"), F.col(emb_col)), F.col("_q_norm"), F.col("_c_norm")).alias("sim"),
    )
    return topk_per_key(
        sims,
        [query_id_col],
        [F.desc("sim"), F.asc("neighbor_id")],
        k,
        rank_col="rn",
    ).select(query_id_col, "neighbor_id", F.round("sim", 4).alias("cos_sim"))


def ivf_centroids(
    corpus: DataFrame,
    emb_col: str,
    id_col: str,
    n_lists: int = 4,
    seed_mode: str = "lowest_id",
    seed: int = 0,
):
    """Deterministic IVF coarse centroids — ``n_lists`` seed vectors.

    ``seed_mode``:

    * ``"lowest_id"`` (default): the ``n_lists`` lowest-id vectors —
      the oracle-reproducible contract (DuckDB can mirror it).
    * ``"hash"``: k-means||-style two-step. Draw ``8 * n_lists``
      candidates by lowest ``xxhash64(id, seed)`` (an unbiased,
      deterministic uniform sample DECORRELATED from id order — the
      cure for data written cluster-sorted, where the lowest-id seeds
      all land in one cluster), then greedily keep the ``n_lists``
      candidates maximizing pairwise min-distance (the k-means++
      farthest-point rule) driver-side over the candidate set only.

    Scale shape: both modes plan the corpus scan as
    TakeOrderedAndProject (parallel per-partition top-k, no total
    sort). ``"hash"``'s farthest-point pass runs on the driver over
    8·n_lists vectors — k·dim-sized, never corpus-sized."""
    if seed_mode == "lowest_id":
        seeds = corpus.orderBy(F.col(id_col).asc()).limit(n_lists)
        w = Window.orderBy(F.col(id_col))
        return seeds.select(
            (F.row_number().over(w) - 1).alias("list_id"),
            F.col(emb_col).alias("centroid"),
        )
    if seed_mode != "hash":
        raise ValueError(f"unknown seed_mode {seed_mode!r}")
    cand = (
        corpus.select(
            F.col(id_col).alias("_id"), F.col(emb_col).alias("_emb")
        )
        .orderBy(
            F.xxhash64(F.col("_id"), F.lit(seed)).asc(), F.col("_id").asc()
        )
        .limit(8 * n_lists)
        .collect()
    )
    vecs = [list(r["_emb"]) for r in cand]
    if not vecs:
        # empty corpus: empty centroid frame, matching lowest_id mode
        return corpus.sparkSession.createDataFrame(
            [], "list_id int, centroid array<float>"
        )

    def _d2(a: list[float], b: list[float]) -> float:
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    chosen = [0]  # lowest-hash candidate anchors the selection
    while len(chosen) < min(n_lists, len(vecs)):
        best_i, best_d = -1, -1.0
        for i in range(len(vecs)):
            if i in chosen:
                continue
            d = min(_d2(vecs[i], vecs[j]) for j in chosen)
            if d > best_d:
                best_i, best_d = i, d
        chosen.append(best_i)
    picked = sorted((cand[i]["_id"], vecs[i]) for i in chosen)
    return corpus.sparkSession.createDataFrame(
        [(lid, v) for lid, (_, v) in enumerate(picked)],
        "list_id int, centroid array<float>",
    )


#: expression-size guard for the fused literal-centroid argmin: above
#: this many (n_lists x dim) literals the expression tree gets big
#: enough that the crossJoin+agg assignment is the better plan.
_FUSED_ASSIGN_MAX_LITERALS = 32768


def _argmin_literal_expr(
    centroids: list[tuple[int, list[float]]], emb_col: str
) -> F.Column:
    """struct(dist, list_id) of the nearest centroid, as a PURE MAP
    expression over literal centroid arrays — no join, no shuffle.
    ``array_min`` over structs orders by (dist, list_id), so ties
    break toward the lower list_id exactly like the
    ``min(struct(dist, list_id))`` aggregate in ``ivf_assign``.

    Generated as ONE Spark SQL string rather than k·dim Column
    objects: py4j tree construction cost seconds per call (it runs
    once per Lloyd's iteration), and the zip_with/aggregate lambdas
    it replaces were interpreted row-at-a-time. The arithmetic is
    bit-identical to the former HOF form: per-element terms in array
    order, left-folded from 0.0, sqrt on top, literals parsed from
    the same repr strings."""
    structs = []
    for lid, vec in centroids:
        acc = "CAST(0.0 AS DOUBLE)"
        for j, v in enumerate(vec):
            t = (
                f"(CAST(element_at({emb_col}, {j + 1}) AS DOUBLE)"
                f" - {float(v)!r}D)"
            )
            acc = f"({acc} + {t} * {t})"
        structs.append(
            f"named_struct('dist', SQRT({acc}), 'list_id', {int(lid)})"
        )
    return F.expr(f"array_min(array({', '.join(structs)}))")


def _argmin_literal_hof(
    centroids: list[tuple[int, list[float]]], emb_col: str
) -> F.Column:
    """The higher-order-function form of ``_argmin_literal_expr``,
    bit-identical values. Interpreted row-at-a-time — but it skips
    whole-stage-codegen COMPILATION, which is the right trade inside
    Lloyd's iterations: the centroid literals change every round, so
    each round's generated-SQL plan is a fresh janino compile
    (~0.2 s/round) serving one pass over the (sampled, small)
    training frame. Production assignment paths keep the codegen'd
    generated-SQL form — fixed literals, compiled once, amortized
    over the full corpus scan."""
    return F.array_min(
        F.array(
            *[
                F.struct(
                    V.l2_distance(
                        emb_col, F.array(*[F.lit(float(v)) for v in vec])
                    ).alias("dist"),
                    F.lit(int(lid)).alias("list_id"),
                )
                for lid, vec in centroids
            ]
        )
    )


def ivf_centroids_kmeans(
    corpus: DataFrame,
    emb_col: str,
    id_col: str,
    n_lists: int = 4,
    n_iters: int = 5,
    seed_mode: str = "lowest_id",
    seed: int = 0,
) -> DataFrame:
    """Distributed Lloyd's k-means for real IVF coarse centroids
    (``ivf_centroids`` is the deterministic-seed variant the oracle
    uses; this is the quality path a deployment trains with).

    FUSED iteration: one corpus pass per round. The argmin runs as a
    pure map expression against the round's centroids inlined as
    literals (``_argmin_literal_expr`` — the k·dim doubles are
    driver-state anyway, so "broadcast" degenerates to constant
    folding), then per-list means come straight off the assigned rows:
    posexplode -> groupBy(list, dim) avg (ONE shuffle keyed on
    n_lists×dim groups, map-side combined) -> reassemble. No
    assignment join-back, no groupBy(id) shuffle. Above
    ``_FUSED_ASSIGN_MAX_LITERALS`` (huge k·dim) it falls back to the
    crossJoin+agg assignment with a join-back, which shuffles but
    never inflates the expression tree. Empty clusters keep their
    previous centroid; everything is order-insensitive, so results
    are deterministic for either ``seed_mode``."""
    spark = corpus.sparkSession
    # One projection, cached across Lloyd's iterations — at any real
    # scale the loop runs over the cached columnar form, not n_iters
    # fresh source scans.
    corpus = corpus.select(id_col, emb_col).persist()
    cents = ivf_centroids(
        corpus, emb_col, id_col, n_lists, seed_mode=seed_mode, seed=seed
    )
    # prev mirrors cents driver-side (k·dim floats) so each iteration
    # costs exactly ONE action (means.collect).
    prev = {r["list_id"]: r["centroid"] for r in cents.collect()}
    if not prev:
        # empty corpus: empty centroid frame, matching ivf_centroids
        corpus.unpersist()
        return spark.createDataFrame([], "list_id int, centroid array<float>")
    dim = len(next(iter(prev.values())))
    fused = n_lists * dim <= _FUSED_ASSIGN_MAX_LITERALS
    for _ in range(n_iters):
        if fused:
            # HOF form on purpose: per-round literals never amortize a
            # codegen compile (see _argmin_literal_hof docstring)
            assigned = corpus.select(
                F.col(emb_col),
                _argmin_literal_hof(sorted(prev.items()), emb_col)[
                    "list_id"
                ].alias("list_id"),
            )
        else:
            cents = spark.createDataFrame(
                sorted(prev.items()), "list_id int, centroid array<float>"
            )
            assigned = corpus.join(
                ivf_assign(corpus, cents, emb_col, id_col).select(
                    id_col, "list_id"
                ),
                id_col,
            )
        # ONE shuffle per iteration: collect the k*dim per-dimension
        # means directly (constant-size, driver-bounded) and assemble
        # the centroid arrays driver-side — the old second
        # groupBy(list_id)/array_sort/transform pass re-shuffled the
        # k*dim frame just to reshape it (guide §2.4). float32
        # rounding matches the old `cast(x.m as float)` exactly, so
        # the next round's argmin literals are bit-identical.
        import numpy as np  # noqa: PLC0415 — driver-side reshape only

        dims: dict[int, dict[int, float]] = {}
        for r in (
            assigned.select(
                "list_id", F.posexplode(emb_col).alias("pos", "val")
            )
            .groupBy("list_id", "pos")
            .agg(F.avg("val").alias("m"))
            .collect()
        ):
            dims.setdefault(r["list_id"], {})[r["pos"]] = r["m"]
        for lid, by_pos in dims.items():
            prev[lid] = [
                float(np.float32(by_pos[p])) for p in range(len(by_pos))
            ]
    corpus.unpersist()
    return spark.createDataFrame(
        sorted(prev.items()), "list_id int, centroid array<float>"
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    emb_col: str,
    id_col: str,
    fused: bool = False,
) -> DataFrame:
    """Assign every vector to its nearest (L2) centroid — the IVF
    inverted-list build.

    Default: broadcast the centroids, then argmin as a
    ``min(struct(dist, list_id))`` aggregation — ties break toward
    the lower list_id exactly like the former window form, but the
    k-rows-per-vector reduction happens map-side (partial combine)
    instead of in a per-key window sort.

    ``fused=True``: collect the (k·dim-sized) centroids and inline
    them as literals, making the whole assignment a SINGLE MAP over
    the corpus — zero shuffle, zero extra exchange. Identical values
    (same zip_with/aggregate IEEE double ops, same lower-list
    tiebreak; parity-asserted in tests). Use when the centroid frame
    is the output of ``ivf_centroids*`` (always k rows); keep the
    default for lazily-planned oracle paths."""
    if fused:
        cent_rows = sorted(
            (r["list_id"], list(r["centroid"])) for r in centroids.collect()
        )
        if not cent_rows:
            # no centroids -> no assignments (the crossJoin path's
            # empty result), not an INVALID_EXTRACT_BASE_FIELD_TYPE
            # crash on array_min(array())
            return corpus.select(
                F.col(id_col),
                F.lit(None).cast("int").alias("list_id"),
                F.lit(None).cast("double").alias("centroid_dist"),
            ).filter(F.lit(False))
        best = _argmin_literal_expr(cent_rows, emb_col)
        return corpus.select(
            F.col(id_col),
            best["list_id"].alias("list_id"),
            F.round(best["dist"], 4).alias("centroid_dist"),
        )
    joined = corpus.crossJoin(F.broadcast(centroids)).select(
        F.col(id_col),
        "list_id",
        V.l2_distance(emb_col, "centroid").alias("dist"),
    )
    return (
        joined.groupBy(id_col)
        .agg(F.min(F.struct("dist", "list_id")).alias("_best"))
        .select(
            id_col,
            F.col("_best.list_id").alias("list_id"),
            F.round("_best.dist", 4).alias("centroid_dist"),
        )
    )


def cosine_near_dup_pairs(
    corpus: DataFrame,
    emb_col: str,
    id_col: str,
    block_col: str,
    threshold: float = 0.9,
    n_salts: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (SemDeDup-style, at
    fixed blocking granularity): all (id_a < id_b) pairs within the
    same ``block_col`` value whose cosine similarity clears
    ``threshold``.

    Scale shape: the self-join is keyed on the blocking column, so
    work is O(sum of block_size^2), never corpus^2 — the blocking
    key is the semantic contract (cluster id from k-means / LSH
    bucket / source shard), exactly how SemDeDup restricts cosine
    comparisons to within-cluster pairs. The join
    shuffles both sides by the block key once; skewed giant blocks
    should be pre-split upstream (see operators/skew.py).
    """
    # Norms are computed ONCE per vector before the self-join (the
    # higher-order aggregate is interpreted — evaluating it 3× per
    # *pair* instead of 1× per *vector* measured ~3× slower), leaving
    # one dot product per pair. sim = dot/(norm_a*norm_b) performs
    # the exact same IEEE ops as the inline cosine, so oracle parity
    # is unaffected.
    a = corpus.select(
        F.col(block_col).alias("_blk"),
        F.col(id_col).alias("id_a"),
        F.col(emb_col).alias("_emb_a"),
        V.norm(emb_col).alias("_na"),
    )
    b = corpus.select(
        F.col(block_col).alias("_blk"),
        F.col(id_col).alias("id_b"),
        F.col(emb_col).alias("_emb_b"),
        V.norm(emb_col).alias("_nb"),
    )
    # Per-PAIR dot via the Arrow-batched bit-exact kernel: the
    # interpreted zip_with/aggregate fold was the block's O(cell^2)
    # hot loop (guide §4.2); sim values are unchanged bit-for-bit
    # (see V.dot_udf), so oracle parity is unaffected.
    dot64 = V.dot_udf(nondeterministic=True)
    return (
        a.join(b, ["_blk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            F.col("_blk").alias(block_col),
            "id_a",
            "id_b",
            V.safe_cosine(
                dot64("_emb_a", "_emb_b"), F.col("_na"), F.col("_nb")
            ).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
        .select(
            block_col, "id_a", "id_b", F.round("sim", 4).alias("cos_sim")
        )
    )


# ------------------------------------------------------- exact Lloyd step


def _l2_dec(a_col: str, b_col: str) -> F.Column:
    """Engine-exact squared L2 between two array columns: each
    (x-y) and its square are SINGLE IEEE-754 double ops, each term is
    rounded to 1e-9 and summed as DECIMAL (order-insensitive) — the
    retrieval._l2_dec_expr recipe, repeated here so the k-means family
    carries its own exactness contract."""
    return F.expr(
        f"aggregate(zip_with({a_col}, {b_col}, (x, y) -> "
        "CAST(ROUND((CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) "
        "* (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)), 9) AS DECIMAL(18,9))), "
        "CAST(0 AS DECIMAL(28,9)), "
        "(acc, v) -> CAST(acc + v AS DECIMAL(28,9)))"
    )


def _assign_exact(
    corpus: DataFrame, cents: DataFrame, emb_col: str, id_col: str
) -> DataFrame:
    """(id, list_id) by exact-decimal L2 argmin; ties -> lowest list."""
    joined = corpus.crossJoin(F.broadcast(cents)).select(
        F.col(id_col),
        F.col(emb_col),
        "list_id",
        _l2_dec("_cent", emb_col).alias("_d"),
    )
    return (
        joined.groupBy(id_col)
        .agg(
            F.min(F.struct("_d", "list_id")).alias("_best"),
            F.first(emb_col).alias(emb_col),
        )
        .select(id_col, emb_col, F.col("_best.list_id").alias("list_id"))
    )


def _assign_exact_map(
    corpus: DataFrame,
    cents: DataFrame,
    emb_col: str,
    id_col: str,
    keep_emb: bool,
) -> DataFrame:
    """(id[, emb], list_id) by exact-decimal L2 argmin as a PURE MAP:
    the k centroids fold into one broadcast row and the argmin is
    array_min over a transform — no corpus shuffle (the
    crossJoin+groupBy twin `_assign_exact` exchanges every corpus
    row). Bit-identical values: same zip_with/aggregate term order
    and decimal fold; array_min's struct order == min(struct)."""
    one = cents.agg(
        F.collect_list(F.struct(F.col("list_id"), F.col("_cent"))).alias(
            "_cs"
        )
    )
    dist = (
        f"aggregate(zip_with(c._cent, {emb_col}, (x, y) -> "
        "CAST(ROUND((CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) "
        "* (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)), 9) AS DECIMAL(18,9))), "
        "CAST(0 AS DECIMAL(28,9)), "
        "(acc, v) -> CAST(acc + v AS DECIMAL(28,9)))"
    )
    best = F.expr(
        f"array_min(transform(_cs, c -> "
        f"struct({dist} AS _d, c.list_id AS list_id)))"
    )
    cols = [F.col(id_col)] + ([F.col(emb_col)] if keep_emb else [])
    return corpus.crossJoin(F.broadcast(one)).select(
        *cols, best["list_id"].alias("list_id")
    )


def kmeans_one_iter_exact(
    corpus: DataFrame,
    emb_col: str,
    id_col: str,
    n_lists: int = 4,
    fused: bool = True,
) -> DataFrame:
    """One ENGINE-EXACT Lloyd iteration: seed with the ``n_lists``
    lowest-id vectors, assign by exact-decimal L2, recompute each
    centroid as the per-dimension mean, re-assign. Returns
    (id, list_id) after the refinement step.

    This is the driver-checkable twin of ``ivf_centroids_kmeans``
    (q93): every arithmetic step is reproducible bit-for-bit in ANSI
    SQL — distances are per-term-rounded decimal sums; the mean is an
    exact decimal sum (elements rounded to 1e-6) cast to double
    (exact: the unscaled value stays under 2^53) divided by the
    bigint count in ONE IEEE op, rounded to 1e-9 — so the assignments
    are integer-decided and a DuckDB oracle can replay the iteration
    exactly. The trained multi-iteration float path (q93) keeps its
    pytest recall bound; this pins the update RULE cross-engine.

    Scale shape: seeds/centroids are k-row broadcasts; the update is
    one (list,pos)-keyed aggregate bounded by k*dim output rows; the
    corpus shuffles once in the assignment argmin (partial map-side
    combine) and never self-joins."""
    if fused:
        # Broadcast-array argmin: the k centroids fold into ONE row
        # (collect_list of structs), broadcast-crossJoined, and the
        # argmin runs as array_min(transform(...)) — a PURE MAP over
        # the corpus. Zero corpus shuffle for either assignment (vs
        # the reference path's groupBy(id) argmin, which exchanges
        # every corpus row WITH its embedding payload); only the
        # (list,pos)-keyed mean update exchanges, and its partial
        # combine reduces each map task to k*dim rows first. Values
        # are bit-identical to the crossJoin+groupBy path: same
        # zip_with/aggregate term order, same decimal fold, array_min
        # over structs == min(struct) tie-break (parity-asserted in
        # tests/test_integrity_skyline.py). An unrolled
        # literal-centroid variant measured 3x SLOWER than either
        # (256 chained decimal casts defeat codegen), hence the
        # HOF-over-broadcast shape.
        w = Window.orderBy(F.col(id_col))
        seeds = (
            corpus.orderBy(F.col(id_col).asc())
            .limit(n_lists)
            .select(
                (F.row_number().over(w) - 1).alias("list_id"),
                F.col(emb_col).alias("_cent"),
            )
        )
        a0 = _assign_exact_map(corpus, seeds, emb_col, id_col, keep_emb=True)
        cdims = (
            a0.select("list_id", F.posexplode(emb_col).alias("pos", "_val"))
            .groupBy("list_id", "pos")
            .agg(
                F.round(
                    F.sum(
                        F.round(F.col("_val").cast("double"), 6).cast(
                            "decimal(18,6)"
                        )
                    ).cast("double")
                    / F.count(F.lit(1)),
                    9,
                ).alias("_c")
            )
        )
        cents1 = cdims.groupBy("list_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "_c"))),
                lambda s: s["_c"],
            ).alias("_cent")
        )
        return _assign_exact_map(
            corpus, cents1, emb_col, id_col, keep_emb=False
        )

    w = Window.orderBy(F.col(id_col))
    seeds = (
        corpus.orderBy(F.col(id_col).asc())
        .limit(n_lists)
        .select(
            (F.row_number().over(w) - 1).alias("list_id"),
            F.col(emb_col).alias("_cent"),
        )
    )
    a0 = _assign_exact(corpus, seeds, emb_col, id_col)
    dims = a0.select(
        "list_id", F.posexplode(emb_col).alias("pos", "_val")
    )
    cdims = dims.groupBy("list_id", "pos").agg(
        F.round(
            F.sum(
                F.round(F.col("_val").cast("double"), 6).cast("decimal(18,6)")
            ).cast("double")
            / F.count(F.lit(1)),
            9,
        ).alias("_c")
    )
    cents1 = cdims.groupBy("list_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "_c"))),
            lambda s: s["_c"],
        ).alias("_cent")
    )
    return _assign_exact(corpus, cents1, emb_col, id_col).select(
        id_col, "list_id"
    )


def semdedup_exact(
    corpus: DataFrame,
    emb_col: str,
    id_col: str,
    n_cells: int = 8,
    threshold: float = 0.3,
    max_cell_size: int = 200_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient
    learning at web-scale through semantic deduplication"):
    embedding-level semantic dedup as a composition of two
    driver-green operators — IVF cell assignment (exact-decimal L2
    argmin against the ``n_cells`` lowest-id seed vectors, the q142
    seeding rule) then WITHIN-CELL exact cosine
    (``cosine_near_dup_pairs`` blocked on the cell id). A vector is
    pruned when any LOWER-id vector in ITS OWN cell clears
    ``threshold``; cross-cell pairs are never compared — that is the
    algorithm's entire scale contract (pytest-asserted on a planted
    fixture where a cross-cell near-duplicate exists and must
    survive).

    Returns (id, list_id, kept 0/1) — one row per corpus vector.

    Scale shape: the assignment is a PURE MAP (k seed centroids fold
    into one broadcast row); the cosine self-join is keyed on the
    cell id, so work is O(sum cell_size^2), never corpus^2 — at
    100 TB, cells come from a trained ``ivf_centroids_kmeans`` (q93)
    instead of the engine-exact seed rule, and giant cells pre-split
    via operators/skew.py. One shuffle for the pair join, one
    distinct on the pruned side, one left join back.

    Degenerate-input guard: a degenerate cell (e.g. all-zero or
    constant embeddings collapsing the argmin onto one list_id)
    silently turns the within-cell join into corpus^2. Any cell
    holding more than ``max_cell_size`` vectors therefore FAILS the
    job loudly (assert_true on a per-cell window count riding the
    same list_id shuffle the pair join pays, the
    interval_overlap_pairs convention) — re-train centroids or
    pre-split the hot cell via operators/skew.py deliberately, don't
    discover it as an executor OOM.
    """
    w = Window.orderBy(F.col(id_col))
    seeds = (
        corpus.orderBy(F.col(id_col).asc())
        .limit(n_cells)
        .select(
            (F.row_number().over(w) - 1).alias("list_id"),
            F.col(emb_col).alias("_cent"),
        )
    )
    assigned = _assign_exact_map(corpus, seeds, emb_col, id_col, keep_emb=True)
    # materialize the assignment ONCE: it feeds both sides of the
    # pair self-join AND the output join-back — unpinned, the
    # decimal-argmin map re-executes 3x (measured: q189 at sf0.1
    # dropped 7.1 s -> 3.6 s; the remainder is the within-cell pair
    # join itself, the same cost band as q92's label-blocked cosine)
    assigned = assigned.localCheckpoint(eager=True)
    csz = F.count(F.lit(1)).over(Window.partitionBy("list_id"))
    cell_guard = F.assert_true(
        csz <= F.lit(max_cell_size),
        F.concat(
            F.lit("semdedup_exact: cell holds > "
                  f"{max_cell_size} vectors (list_id="),
            F.col("list_id").cast("string"),
            F.lit("); the within-cell join is O(cell^2) — re-train "
                  "centroids or pre-split the hot cell "
                  "(operators/skew.py), or raise max_cell_size"),
        ),
    )
    # fold the guard into the embedding column of the JOIN input only
    # (NULL-on-success keeps values intact; a free-standing column
    # would be pruned and never run) — the quadratic branch is the
    # one that must not start on a degenerate cell
    guarded = assigned.withColumn(
        emb_col, F.when(cell_guard.isNull(), F.col(emb_col))
    )
    pairs = cosine_near_dup_pairs(
        guarded, emb_col, id_col, "list_id", threshold=threshold
    )
    removed = (
        pairs.select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("_rm", F.lit(1))
    )
    return (
        assigned.select(id_col, "list_id")
        .join(removed, id_col, "left")
        .select(
            id_col,
            "list_id",
            F.when(F.col("_rm").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .alias("kept"),
        )
    )


def signbit_bands(
    df: DataFrame,
    emb_col: str,
    id_col: str,
    n_bands: int = 8,
    band_bits: int = 8,
) -> DataFrame:
    """Sign-bit banded signatures: (id, band, band_val) rows where
    ``band_val`` packs the sign bits of ``band_bits`` consecutive
    embedding dimensions into one BIGINT (bit j set iff
    emb[band*band_bits + j] >= 0). Two vectors are ANN candidates when
    they share any (band, band_val) — the SimHash banding trick of
    Charikar 2002 applied to COORDINATE hyperplanes, which makes the
    signature a pure deterministic function of the vector and hence
    replayable by any engine (the oracle-portability twin of
    ``lsh_assign_buckets``'s pseudo-random hyperplanes, which a
    production index would use for isotropy).

    Requires ``len(emb) >= n_bands * band_bits`` (shorter vectors get
    NULL band values, which never match a join).

    Scale shape: PURE MAP — the signature is one higher-order
    expression per row, then a posexplode to n_bands rows/vector; no
    shuffle, no state. The candidate join downstream is keyed on
    (band, band_val), the classic LSH-join shape."""
    weights = ", ".join(f"{1 << j}L" for j in range(band_bits))
    # Missing dims (slice past the embedding's end) surface as NULL in
    # zip_with and must POISON the band to NULL — a bare IF(v >= 0,..)
    # would treat them as negative and hand an undersized vector a
    # valid (joinable) signature.
    expr = (
        f"transform(sequence(0, {n_bands - 1}), b -> "
        f"aggregate(zip_with(slice({emb_col}, b * {band_bits} + 1, "
        f"{band_bits}), array({weights}), "
        f"(v, w) -> IF(v IS NULL, CAST(NULL AS BIGINT), "
        f"IF(v >= 0, w, 0L))), 0L, (acc, x) -> acc + x))"
    )
    return df.select(
        F.col(id_col), F.posexplode(F.expr(expr)).alias("band", "band_val")
    )


def ann_recall_audit(
    corpus: DataFrame,
    emb_col: str,
    id_col: str,
    n_queries: int = 20,
    k: int = 10,
    n_bands: int = 8,
    band_bits: int = 8,
) -> DataFrame:
    """ANN quality EVALUATION: recall@k of the sign-bit banded
    candidate search (``signbit_bands``) against the exact cosine
    ground truth (``knn_bruteforce``), per query — the audit a
    pipeline runs before trusting an approximate index for
    retrieval-based dedup or similarity search.

    Queries are the ``n_queries`` lowest-id vectors (deterministic).
    Output: (query_id, n_candidates, hits, recall) — candidate-set
    size, overlap with the exact top-k, and hits/k.

    Scale shape: ground truth is a broadcast of the Q queries against
    the corpus (Q*N pairs, map-only then per-query top-k — exact
    ground truth is ALWAYS paid only on a bounded query sample);
    candidates come from the (band, band_val)-keyed join of the
    broadcast Q*n_bands query signatures, so the corpus is scanned
    twice and shuffled never. At 100 TB both legs stay map-side."""
    queries = (
        corpus.orderBy(F.col(id_col).asc())
        .limit(n_queries)
        .select(id_col, emb_col)
    )
    exact = knn_bruteforce(
        corpus, queries, emb_col, id_col, query_id_col="query_id", k=k
    ).select("query_id", "neighbor_id")
    qb = signbit_bands(queries, emb_col, id_col, n_bands, band_bits).select(
        F.col(id_col).alias("query_id"),
        F.col("band").alias("_qband"),
        F.col("band_val").alias("_qval"),
    )
    cb = signbit_bands(corpus, emb_col, id_col, n_bands, band_bits)
    cand = (
        cb.join(
            F.broadcast(qb),
            (F.col("band") == F.col("_qband"))
            & (F.col("band_val") == F.col("_qval"))
            & (F.col(id_col) != F.col("query_id")),
        )
        .select("query_id", F.col(id_col).alias("neighbor_id"))
        .distinct()
    )
    ncand = cand.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_candidates")
    )
    hits = (
        cand.join(exact, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    # recall@k divides by the ACTUAL ground-truth size min(k, N-1) —
    # a fixed k would understate recall on corpora smaller than k+1;
    # a query with no ground truth at all is vacuously 1.0.
    truthn = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("_ntruth")
    )
    return (
        queries.select(F.col(id_col).alias("query_id"))
        .join(ncand, "query_id", "left")
        .join(hits, "query_id", "left")
        .join(truthn, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_candidates"), F.lit(0))
            .cast("long")
            .alias("n_candidates"),
            F.coalesce(F.col("hits"), F.lit(0)).cast("long").alias("hits"),
            F.when(F.coalesce(F.col("_ntruth"), F.lit(0)) == 0, F.lit(1.0))
            .otherwise(
                F.round(
                    F.coalesce(F.col("hits"), F.lit(0)).cast("double")
                    / F.col("_ntruth").cast("double"),
                    6,
                )
            )
            .alias("recall"),
        )
    )


def ivf_recall_audit(
    corpus: DataFrame,
    emb_col: str,
    id_col: str,
    n_cells: int = 8,
    n_queries: int = 20,
    k: int = 10,
) -> DataFrame:
    """IVF (nprobe=1) quality EVALUATION — the cell-probe leg of the
    ANN audit triple (q194 sign-bit banding, q201 text MinHash-LSH,
    this): for the ``n_queries`` lowest-id vectors, how much of the
    exact cosine top-``k`` lives in the query's OWN IVF cell — the
    recall an index search pays when it probes a single list, the
    number that picks nprobe before a corpus run.

    Cells are the exact-decimal L2 argmin against the ``n_cells``
    lowest-id seeds (the q142/q189 engine-exact seeding rule, so any
    engine replays the assignment bit-for-bit; a production index
    swaps in trained k-means centroids, same shapes).

    Output: (query_id, list_id, n_candidates, hits, recall) — one
    row per query; candidates exclude the query itself.

    Scale shape: assignment is a PURE MAP (seeds fold into one
    broadcast row), checkpointed ONCE because it feeds both the
    query-side and the candidate-side of the cell join; ground truth
    is paid only on the bounded query sample (broadcast Q x N,
    map-only + per-query top-k); the candidate count is one
    cell-keyed aggregate joined to the Q-row query frame."""
    w = Window.orderBy(F.col(id_col))
    seeds = (
        corpus.orderBy(F.col(id_col).asc())
        .limit(n_cells)
        .select(
            (F.row_number().over(w) - 1).alias("list_id"),
            F.col(emb_col).alias("_cent"),
        )
    )
    assigned = _assign_exact_map(
        corpus, seeds, emb_col, id_col, keep_emb=False
    ).localCheckpoint(eager=True)
    queries = (
        corpus.orderBy(F.col(id_col).asc())
        .limit(n_queries)
        .select(id_col, emb_col)
    )
    q_assigned = assigned.join(
        queries.select(id_col), id_col, "left_semi"
    ).select(F.col(id_col).alias("query_id"), "list_id")
    exact = knn_bruteforce(
        corpus, queries, emb_col, id_col, query_id_col="query_id", k=k
    ).select("query_id", "neighbor_id")
    cell_sizes = assigned.groupBy("list_id").agg(
        F.count(F.lit(1)).alias("_csz")
    )
    # hits: exact top-k neighbors that share the query's cell
    nbr = assigned.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("list_id").alias("_nlist"),
    )
    hits = (
        exact.join(F.broadcast(q_assigned), "query_id")
        .join(nbr, "neighbor_id")
        .filter(F.col("list_id") == F.col("_nlist"))
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    truthn = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("_ntruth")
    )
    return (
        q_assigned.join(F.broadcast(cell_sizes), "list_id")
        .join(hits, "query_id", "left")
        .join(truthn, "query_id", "left")
        .select(
            "query_id",
            "list_id",
            # own cell minus the query itself
            (F.col("_csz") - F.lit(1)).cast("long").alias("n_candidates"),
            F.coalesce(F.col("hits"), F.lit(0))
            .cast("long")
            .alias("hits"),
            # recall@k over the ACTUAL truth size min(k, N-1), the
            # same rule as ann_recall_audit; vacuous 1.0 on no truth
            F.when(F.coalesce(F.col("_ntruth"), F.lit(0)) == 0, F.lit(1.0))
            .otherwise(
                F.round(
                    F.coalesce(F.col("hits"), F.lit(0)).cast("double")
                    / F.col("_ntruth").cast("double"),
                    6,
                )
            )
            .alias("recall"),
        )
    )
