"""Scalar quantization (SQ8) for embedding columns — the second
compression point on the ANN scale path (FAISS ScalarQuantizer
recipe), next to product quantization (pq.py).

SQ8 stores one byte per DIMENSION (64-dim float32: 256 B -> 64 B,
4x) with near-exact distances; PQ stores ~4 bits per SUBSPACE (64x)
with coarser distances. Both corpus-side states fit where float32
cannot.

Spark-first shape: training is ONE pass computing per-dimension
min/max (posexplode -> dim-keyed agg, map-side combined, never
corpus-keyed; driver state is 2*dim doubles). Encode and the sign
bits are PURE MAP transform-lambdas over literal bounds arrays — no
shuffle, no UDF, streaming-transparent. The DuckDB oracle reproduces
encode exactly: bounds are data-derived but both engines compute the
identical doubles from the identical floats, and the quantization
``round((x - min) * 255 / (max - min))`` is the same IEEE expression
on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

Bounds = tuple[list[float], list[float]]  # (mins, maxs) per dimension


def sq8_train(df: DataFrame, emb_col: str, dim: int = 64) -> Bounds:
    """Per-dimension (min, max) — the SQ8 codebook. One posexplode +
    dim-keyed aggregate; driver state is 2*dim doubles."""
    rows = (
        df.select(F.posexplode(F.col(emb_col)).alias("pos", "val"))
        .groupBy("pos")
        .agg(
            F.min(F.col("val").cast("double")).alias("lo"),
            F.max(F.col("val").cast("double")).alias("hi"),
        )
        .collect()
    )
    if len(rows) != dim:
        # catches the empty corpus and raggedness that changes the
        # set of positions; a SHORT row hiding among full-length rows
        # is invisible here — sq8_encode's per-row guard catches it
        raise ValueError(
            f"sq8_train saw {len(rows)} dimensions, expected {dim}"
        )
    mins, maxs = [0.0] * dim, [0.0] * dim
    for r in rows:
        mins[r["pos"]] = float(r["lo"])
        maxs[r["pos"]] = float(r["hi"])
    return mins, maxs


def _bounds_struct_array(mins: list[float], maxs: list[float]) -> str:
    """ONE literal array of (lo, span) structs (the pq.py literal-SQL
    pattern) — a runtime zip_with over two literal arrays would
    rebuild the same structs per ROW, which Catalyst does not
    constant-fold. Constant dimensions (max == min) get span 1 so the
    division is guarded and the constant encodes to code 0."""
    return "array(" + ", ".join(
        f"named_struct('l', {float(l)!r}D, 's', "
        f"{(float(h) - float(l)) if h != l else 1.0!r}D)"
        for l, h in zip(mins, maxs)
    ) + ")"


def _row_guard(emb_col: str, dim: int, fn_name: str, code: str) -> str:
    """Shared per-row integrity guard: wrong-length or NULL-element
    embeddings RAISE (GREATEST/LEAST and zip_with skip NULLs, so an
    unguarded path would fabricate plausible values from corrupt
    input). One definition so the guarded paths (sq8_encode,
    bin_sign_encode) cannot drift."""
    return (
        f"IF(size({emb_col}) = {dim} AND NOT exists({emb_col}, "
        f"x -> x IS NULL), {code}, "
        f"raise_error(concat('{fn_name}: embedding must be {dim} "
        f"non-null floats, got size ', "
        f"COALESCE(CAST(size({emb_col}) AS STRING), 'NULL'))))"
    )


def sq8_encode(
    df: DataFrame,
    emb_col: str,
    bounds: Bounds,
    out_col: str = "sq_code",
) -> DataFrame:
    """Map-only SQ8 encode: ``out_col`` is an array<TINYINT> — ONE
    byte per dimension in Tungsten rows and parquet, which is the
    whole point of SQ8 (an int array would silently keep the float32
    footprint). The stored value is ``code - 128`` (codes 0..255 ->
    -128..127); a reader adds 128 back.

    Every row is integrity-guarded: a wrong-length embedding or a
    NULL element RAISES instead of quantizing to the per-dimension
    minimum (GREATEST/LEAST skip NULLs, so an unguarded encode would
    fabricate plausible-looking codes from corrupt input). The guard
    is per-row, so it also covers short rows hiding behind a valid
    first row and streaming frames. Pure transform-lambda over a
    literal bounds array — no shuffle, streaming-transparent."""
    mins, maxs = bounds
    dim = len(mins)
    b = _bounds_struct_array(mins, maxs)
    code = (
        f"zip_with({emb_col}, {b}, (x, b) -> "
        "CAST(CAST(LEAST(255, GREATEST(0, "
        "ROUND((CAST(x AS DOUBLE) - b.l) * 255.0D / b.s))) AS INT)"
        " - 128 AS TINYINT))"
    )
    return df.withColumn(
        out_col, F.expr(_row_guard(emb_col, dim, "sq8_encode", code))
    )


def sq8_codes_oracle_sql() -> str:
    """DuckDB SQL reproducing sq8_train + sq8_encode over the
    ``embeddings`` view: per-dimension bounds from the same data,
    the same round/clamp expression, codes joined to a '-' string.
    Both engines derive bounds from identical floats and run the
    identical double expression, so codes match exactly (round
    half-way cases cannot arise from these finite inputs landing
    exactly on .5 — and any would hit both engines' ROUND the same
    way)."""
    return """
    WITH dims AS (
      SELECT pos, val FROM (
        SELECT unnest(embedding) AS val,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings
      )
    ), bounds AS (
      SELECT pos, CAST(MIN(val) AS DOUBLE) AS lo, CAST(MAX(val) AS DOUBLE) AS hi
      FROM dims GROUP BY pos
    ), coded AS (
      SELECT e.vec_id, d.pos,
             CAST(LEAST(255, GREATEST(0,
               ROUND((CAST(d.val AS DOUBLE) - b.lo) * CAST(255.0 AS DOUBLE)
                     / (CASE WHEN b.hi = b.lo THEN CAST(1.0 AS DOUBLE)
                             ELSE b.hi - b.lo END)))) AS INT) AS code
      FROM embeddings e,
           LATERAL (SELECT unnest(e.embedding) AS val,
                           generate_subscripts(e.embedding, 1) AS pos) d
      JOIN bounds b ON b.pos = d.pos
    )
    SELECT vec_id,
           string_agg(CAST(code AS VARCHAR), '-' ORDER BY pos) AS sq_code
    FROM coded GROUP BY vec_id
    """


def midrange_thresholds(bounds: Bounds) -> list[float]:
    """Per-dimension binarization thresholds from sq8_train bounds:
    the midrange ``(lo + hi) / 2``. Min/max are EXACT (no float
    summation), so the threshold double is identical in any engine —
    unlike a mean, whose partial-sum order differs across engines and
    could flip a sign bit for a value within a few ulps of it."""
    mins, maxs = bounds
    return [(lo + hi) / 2.0 for lo, hi in zip(mins, maxs)]


def bin_sign_encode(
    df: DataFrame,
    emb_col: str,
    thresholds: list[float],
    out_col: str = "bin_code",
    word_bits: int = 32,
) -> DataFrame:
    """1-bit-per-dimension binary hash: bit j of the code is
    ``x_j > t_j`` — 64-dim float32 shrinks 32x (to 8 bytes), the
    bottom rung of the quantization ladder under SQ8 (4x) and PQ
    (64x). Codes pack into ``ceil(dim/word_bits)`` BIGINT words of
    ``word_bits`` bits each (32 keeps every word positive and far
    from signed-overflow edges in BOTH engines). Map-only sum of
    shifted indicator bits; the same per-row integrity guard as
    sq8_encode. Everything downstream of the threshold compare is
    INTEGER arithmetic — Hamming ranking has zero float-parity
    risk."""
    dim = len(thresholds)
    n_words = (dim + word_bits - 1) // word_bits
    words = []
    for w in range(n_words):
        terms = []
        for j in range(w * word_bits, min((w + 1) * word_bits, dim)):
            terms.append(
                f"IF(CAST(element_at({emb_col}, {j + 1}) AS DOUBLE) > "
                f"{float(thresholds[j])!r}D, "
                f"CAST({1 << (j - w * word_bits)} AS BIGINT), CAST(0 AS BIGINT))"
            )
        words.append("(" + " + ".join(terms) + ")")
    code = "array(" + ", ".join(words) + ")"
    return df.withColumn(
        out_col, F.expr(_row_guard(emb_col, dim, "bin_sign_encode", code))
    )


def hamming_topk(
    coded_corpus: DataFrame,
    coded_queries: DataFrame,
    k_neighbors: int = 5,
    corpus_id: str = "vec_id",
    query_id: str = "vec_id",
    code_col: str = "bin_code",
) -> DataFrame:
    """Top-k by Hamming distance between packed binary codes:
    ``sum over words of bit_count(xor(a, b))`` — pure integer ops, so
    ranking is EXACT in any engine (no float boundary can decide
    membership). Broadcast queries; corpus never shuffles; bounded
    top-k. The standard use: cheap 32x-compressed first-pass
    filtering ahead of an SQ8/exact re-rank."""
    from product_etl_spark.operators.similarity import topk_per_key

    q = coded_queries.select(
        F.col(query_id).alias("query_id"), F.col(code_col).alias("_q_code")
    )
    pairs = coded_corpus.select(
        F.col(corpus_id).alias("neighbor_id"), code_col
    ).crossJoin(F.broadcast(q))
    scored = pairs.withColumn(
        "hamming",
        F.expr(
            f"aggregate(zip_with({code_col}, _q_code, (a, b) -> "
            "CAST(bit_count(a ^ b) AS BIGINT)), CAST(0 AS BIGINT), "
            "(acc, v) -> acc + v)"
        ),
    )
    return topk_per_key(
        scored,
        ["query_id"],
        [F.col("hamming").asc(), F.col("neighbor_id").asc()],
        k_neighbors,
    ).select("query_id", "neighbor_id", "hamming", "rank")


def binary_hash_oracle_sql(top_n: int = 5, word_bits: int = 32) -> str:
    """DuckDB SQL reproducing midrange thresholds + bin_sign_encode +
    hamming_topk over ``embeddings`` (vec_id < 3 as queries, the rest
    as corpus). The thresholds are data-derived but exact (min/max,
    no summation), and everything after the compare is integer."""
    return f"""
    WITH dims AS (
      SELECT e.vec_id, d.pos, d.val
      FROM embeddings e,
           LATERAL (SELECT unnest(e.embedding) AS val,
                           generate_subscripts(e.embedding, 1) AS pos) d
    ), thr AS (
      SELECT pos,
             (CAST(MIN(val) AS DOUBLE) + CAST(MAX(val) AS DOUBLE))
               / CAST(2.0 AS DOUBLE) AS t
      FROM dims GROUP BY pos
    ), bits AS (
      SELECT d.vec_id,
             CAST((d.pos - 1) // {word_bits} AS INT) AS word,
             SUM(CASE WHEN CAST(d.val AS DOUBLE) > thr.t
                 THEN (1::BIGINT << CAST((d.pos - 1) % {word_bits} AS INT))
                 ELSE 0 END) AS w
      FROM dims d JOIN thr ON thr.pos = d.pos
      GROUP BY d.vec_id, (d.pos - 1) // {word_bits}
    ), pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(SUM(bit_count(xor(c.w, q.w))) AS BIGINT) AS hamming
      FROM bits c JOIN bits q
        ON c.word = q.word AND q.vec_id < 3 AND c.vec_id >= 3
      GROUP BY q.vec_id, c.vec_id
    ), ranked AS (
      SELECT query_id, neighbor_id, hamming,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY hamming, neighbor_id) AS rank
      FROM pairs
    )
    SELECT query_id, neighbor_id, hamming, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= {top_n}
    """
