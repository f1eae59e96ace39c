"""Lexical retrieval over the documents table: BM25 scoring.

Okapi BM25 (Robertson/Sparck Jones; the Lucene-default ranking
function) complements the q99 TF-IDF ranking and the vector paths
(similarity.py, pq.py): a training-data pipeline uses it for
quality-by-retrieval curation ("find docs like these seed docs") and
for benchmark decontamination fallbacks where embeddings don't exist.

Scale shape: tokenization is a map; tf filters to the query's terms
BEFORE aggregating (the per-(doc,term) shuffle carries only matching
tokens); df and the corpus stats are term-keyed / scalar aggregates
that broadcast back; the final score is one doc-keyed decimal sum and
a TakeOrdered top-k. No corpus-wide window, no driver loop.

Cross-engine determinism (the oracle contract): every per-term
contribution is computed from integers (tf, df, dl) and two shared
scalars (N, avgdl) with a FIXED expression shape, rounded to 9
decimals, and summed as DECIMAL(18,9) — decimal addition is
order-insensitive, so the score that ranks documents is bit-equal in
Spark and DuckDB regardless of aggregation order (the repo-wide
"decimal casts for reorderable sums" rule). ``ln`` is the one libm
call; both engines agree within 1 ulp and the 1e-9 rounding absorbs
it (the q113 perplexity precedent).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from product_etl_spark.functions.text import TERM_RE, index_terms


def _normalize_terms(terms: list[str]) -> list[str]:
    """Lowercase, validate against the index alphabet, dedup.

    Terms that cannot match any indexed token (mixed alphabet,
    punctuation, empties) are REJECTED loudly: "Spark" or "don't"
    would otherwise silently retrieve nothing on both engines.
    Duplicates collapse — scoring is SET-of-terms semantics
    (query-side term frequency is not modeled); the dedup makes that
    explicit instead of depending on the IN-list/groupBy quietly
    doing it."""
    if not terms:
        raise ValueError("bm25 needs at least one query term")
    norm, bad = [], []
    for t in terms:
        lt = str(t).lower()
        if re.fullmatch(TERM_RE, lt):
            if lt not in norm:
                norm.append(lt)
        else:
            bad.append(t)
    if bad:
        raise ValueError(
            f"query terms not in the index alphabet {TERM_RE}: {bad!r} "
            "(tokenize/strip them first)"
        )
    return norm


def _bm25_contrib_expr(k1: float, b: float) -> F.Column:
    """Per-(doc, term) BM25 contribution from columns tf/df/dl/
    n_docs/avgdl — shaped EXACTLY like the oracle's ``scored`` CTE:
      idf  = ln(1 + (N - df + 0.5) / (df + 0.5))
      tfn  = (tf * (k1+1)) / (tf + k1 * (1 - b + b * dl / avgdl))
    rounded to 9 decimals and summed as DECIMAL(18,9) (order-
    insensitive addition; module-docstring contract)."""
    return F.round(
        F.expr(
            f"ln(1.0D + ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE))"
            f" + 0.5D) / (CAST(df AS DOUBLE) + 0.5D))"
            f" * ((CAST(tf AS DOUBLE) * {k1 + 1.0!r}D)"
            f" / (CAST(tf AS DOUBLE) + {k1!r}D * ((1.0D - {b!r}D)"
            f" + {b!r}D * (CAST(dl AS DOUBLE) / avgdl))))"
        ),
        9,
    ).cast("decimal(18,9)")


def _bm25_scored(
    docs: DataFrame,
    terms: list[str],
    k1: float,
    b: float,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Per-document decimal BM25 score frame (doc_id, _score_dec,
    n_hit_terms) for pre-normalized terms — shared by the top-k and
    the ranked (RRF fusion) entry points."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(index_terms(text_col)).alias("term"),
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    tf = (
        toks.filter(F.col("term").isin(list(terms)))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # avgdl = total tokens / N over ALL documents (the Okapi/Lucene
    # definition) — averaging only token-bearing docs would inflate
    # avgdl whenever the corpus has empty/NULL texts and weaken the
    # length normalization
    stats = (
        docs.agg(F.count(F.lit(1)).alias("n_docs"))
        .crossJoin(dl.agg(F.sum("dl").alias("_sum_dl")))
        .withColumn(
            "avgdl",
            F.col("_sum_dl").cast("double") / F.col("n_docs").cast("double"),
        )
        .drop("_sum_dl")
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn("_contrib", _bm25_contrib_expr(k1, b))
    )
    return scored.groupBy("doc_id").agg(
        F.sum("_contrib").alias("_score_dec"),
        F.count(F.lit(1)).alias("n_hit_terms"),
    )


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    top_n: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``top_n`` documents for a set-of-terms query by BM25
    (duplicate query terms collapse; see _normalize_terms).

    Returns (doc_id, score, n_hit_terms), score rounded to 6 for
    output; the RANKING key is the unrounded decimal sum (ties ->
    lowest doc_id).
    """
    terms = _normalize_terms(terms)
    agg = _bm25_scored(docs, terms, k1, b, id_col, text_col)
    return (
        agg.orderBy(F.col("_score_dec").desc(), F.col("doc_id").asc())
        .limit(top_n)
        .select(
            "doc_id",
            F.round(F.col("_score_dec").cast("double"), 6).alias("score"),
            "n_hit_terms",
        )
    )


def bm25_ranked(
    docs: DataFrame,
    terms: list[str],
    depth: int = 25,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, rank) for the ``depth`` best BM25 matches — the
    lexical leg of RRF fusion. Rank is a ROW_NUMBER over the exact
    decimal score (desc, doc_id asc): the decimal sum is bit-equal
    across engines (see module docstring), so the integer ranks RRF
    consumes are engine-exact, not merely close.

    Scale shape: the window is GLOBAL but bounded — the rank<=depth
    filter plants WindowGroupLimit(Partial) before the exchange, so
    map tasks ship at most ``depth`` scored docs each, never the full
    match set."""
    from pyspark.sql import Window

    terms = _normalize_terms(terms)
    agg = _bm25_scored(docs, terms, k1, b, id_col, text_col)
    w = Window.orderBy(F.col("_score_dec").desc(), F.col("doc_id").asc())
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= depth)
        .select("doc_id", "rank")
    )


def _bm25_ctes(terms: list[str], k1: float, b: float) -> str:
    """The shared CTE chain (toks..scored) of the BM25 oracle — terms
    must already be normalized/validated."""
    in_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    return f"""toks AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(COALESCE(text, '')),
                                       '{TERM_RE}')) AS term
      FROM documents
    ), dl AS (
      SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM toks WHERE term IN ({in_list}) GROUP BY doc_id, term
    ), dfreq AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), stats AS (
      SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
             (SELECT CAST(SUM(dl) AS DOUBLE) FROM dl)
               / CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) AS avgdl
    ), scored AS (
      SELECT tf.doc_id,
             CAST(ROUND(
               ln(CAST(1.0 AS DOUBLE)
                  + ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE))
                     + CAST(0.5 AS DOUBLE))
                    / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
               * ((CAST(tf AS DOUBLE) * CAST({k1 + 1.0!r} AS DOUBLE))
                  / (CAST(tf AS DOUBLE) + CAST({k1!r} AS DOUBLE)
                     * ((CAST(1.0 AS DOUBLE) - CAST({b!r} AS DOUBLE))
                        + CAST({b!r} AS DOUBLE)
                          * (CAST(dl AS DOUBLE) / avgdl)))),
               9) AS DECIMAL(18,9)) AS contrib
      FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id)
      CROSS JOIN stats
    ), bm25_agg AS (
      SELECT doc_id, SUM(contrib) AS score_dec, COUNT(*) AS n_hit_terms
      FROM scored GROUP BY doc_id
    )"""


def bm25_oracle_sql(
    terms: list[str], top_n: int = 10, k1: float = 1.2, b: float = 0.75
) -> str:
    """DuckDB SQL mirroring bm25_topk on the ``documents`` view —
    same term normalization, same expression shape, same 1e-9
    rounding, same decimal sum. Terms are validated/escaped before
    interpolation (a quote or an empty list would otherwise generate
    unparseable SQL)."""
    terms = _normalize_terms(terms)
    return f"""
    WITH {_bm25_ctes(terms, k1, b)}
    SELECT doc_id,
           ROUND(CAST(score_dec AS DOUBLE), 6) AS score,
           n_hit_terms
    FROM bm25_agg
    ORDER BY score_dec DESC, doc_id ASC
    LIMIT {top_n}
    """


# ------------------------------------------------------------------ hybrid RRF

#: Exact-decimal squared-L2: each (x-y) and its square are SINGLE
#: IEEE-754 double ops (bit-identical in any engine), each term is
#: rounded to 1e-9 and summed as DECIMAL — order-insensitive, so the
#: distance that drives vector ranks is engine-exact. No libm calls
#: at all (vs cosine's sqrt/division), which is why the hybrid path
#: ranks its vector leg by L2 rather than cosine.
def _l2_dec_expr(q_col: str, e_col: str) -> F.Column:
    return F.expr(
        f"aggregate(zip_with({q_col}, {e_col}, (x, y) -> "
        "CAST(ROUND((CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) "
        "* (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)), 9) AS DECIMAL(18,9))), "
        "CAST(0 AS DECIMAL(28,9)), "
        "(acc, v) -> CAST(acc + v AS DECIMAL(28,9)))"
    )


def l2_ranked(
    embeddings: DataFrame,
    query_vec_id: int,
    depth: int = 25,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    out_id: str = "doc_id",
) -> DataFrame:
    """(doc_id, rank) of the ``depth`` nearest vectors to
    ``query_vec_id`` by exact-decimal squared L2 (self excluded) —
    the vector leg of RRF fusion.

    Scale shape: the 1-row query broadcasts, the corpus never
    shuffles, and the rank<=depth filter bounds the single window
    (WindowGroupLimit) to ``depth`` rows per map task."""
    from pyspark.sql import Window

    q = embeddings.filter(F.col(id_col) == query_vec_id).select(
        F.col(emb_col).alias("_q_emb")
    )
    scored = (
        embeddings.filter(F.col(id_col) != query_vec_id)
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col).alias(out_id),
            _l2_dec_expr("_q_emb", emb_col).alias("_dist2_dec"),
        )
    )
    w = Window.orderBy(F.col("_dist2_dec").asc(), F.col(out_id).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= depth)
        .select(out_id, "rank")
    )


def rrf_fuse(
    ranked_lists: list[DataFrame],
    k0: int = 60,
    top_n: int = 10,
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009):
    score(d) = sum over lists of 1 / (k0 + rank_list(d)).

    Each contribution is one double division from INTEGER inputs
    (bit-identical in any engine), rounded to 1e-9 and summed as
    decimal, so the fused ordering is engine-exact. Returns
    (doc_id, rrf_score, n_lists); ties -> lowest doc_id.

    Scale shape: inputs are already per-list top-``depth`` frames, so
    the union + groupBy touches O(n_lists * depth) rows per query —
    negligible next to the retrieval legs that produced them."""
    if not ranked_lists:
        raise ValueError("rrf_fuse needs at least one ranked list")
    contrib = F.round(
        F.lit(1.0) / (F.lit(float(k0)) + F.col(rank_col).cast("double")), 9
    ).cast("decimal(18,9)")
    tagged = None
    for df in ranked_lists:
        part = df.select(F.col(id_col), contrib.alias("_contrib"))
        tagged = part if tagged is None else tagged.unionByName(part)
    agg = tagged.groupBy(id_col).agg(
        F.sum("_contrib").alias("_rrf_dec"),
        F.count(F.lit(1)).alias("n_lists"),
    )
    return (
        agg.orderBy(F.col("_rrf_dec").desc(), F.col(id_col).asc())
        .limit(top_n)
        .select(
            id_col,
            F.round(F.col("_rrf_dec").cast("double"), 9).alias("rrf_score"),
            "n_lists",
        )
    )


def hybrid_rrf_topk(
    docs: DataFrame,
    embeddings: DataFrame,
    terms: list[str],
    query_vec_id: int,
    depth: int = 25,
    top_n: int = 10,
    k0: int = 60,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Hybrid lexical+vector retrieval: BM25 top-``depth`` and
    exact-L2 top-``depth`` fused by RRF — the standard
    first-stage-retrieval recipe (Elasticsearch/Vespa hybrid search;
    RRF beats either leg alone without score calibration because it
    only consumes RANKS). Both legs' ranks are engine-exact decimals
    (see bm25_ranked / l2_ranked), so the fusion is too."""
    lex = bm25_ranked(docs, terms, depth=depth, k1=k1, b=b)
    vec = l2_ranked(embeddings, query_vec_id, depth=depth)
    return rrf_fuse([lex, vec], k0=k0, top_n=top_n)


def hybrid_rrf_oracle_sql(
    terms: list[str],
    query_vec_id: int,
    depth: int = 25,
    top_n: int = 10,
    k0: int = 60,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """DuckDB SQL mirroring hybrid_rrf_topk: same BM25 CTEs, same
    per-element rounded-decimal L2, same integer-rank RRF."""
    terms = _normalize_terms(terms)
    qid = int(query_vec_id)
    return f"""
    WITH {_bm25_ctes(terms, k1, b)},
    lex AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY score_dec DESC, doc_id ASC) AS rank
      FROM bm25_agg
      QUALIFY rank <= {int(depth)}
    ),
    qv AS (SELECT embedding FROM embeddings WHERE vec_id = {qid}),
    l2 AS (
      SELECT e.vec_id AS doc_id,
             (SELECT SUM(CAST(ROUND(
                 (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))
                 * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)), 9)
               AS DECIMAL(18,9)))
              FROM (SELECT UNNEST(qv.embedding) AS x,
                           UNNEST(e.embedding) AS y)) AS dist2_dec
      FROM embeddings e CROSS JOIN qv
      WHERE e.vec_id <> {qid}
    ),
    vec AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY dist2_dec ASC, doc_id ASC) AS rank
      FROM l2
      QUALIFY rank <= {int(depth)}
    ),
    fused AS (
      SELECT doc_id,
             SUM(CAST(ROUND(CAST(1.0 AS DOUBLE)
                 / (CAST({int(k0)} AS DOUBLE) + CAST(rank AS DOUBLE)), 9)
               AS DECIMAL(18,9))) AS rrf_dec,
             COUNT(*) AS n_lists
      FROM (SELECT doc_id, rank FROM lex
            UNION ALL SELECT doc_id, rank FROM vec)
      GROUP BY doc_id
    )
    SELECT doc_id,
           ROUND(CAST(rrf_dec AS DOUBLE), 9) AS rrf_score,
           n_lists
    FROM fused
    ORDER BY rrf_dec DESC, doc_id ASC
    LIMIT {int(top_n)}
    """


def trigram_contains_search(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    needle: str,
) -> DataFrame:
    """Exact substring (LIKE '%needle%') search accelerated by a
    character-trigram pre-filter — the pg_trgm recipe, Spark-shaped:
    a document can contain the needle only if it contains EVERY
    trigram of the needle, so candidates come from an exploded
    trigram match + count gate and the (expensive at 100 TB) contains
    scan runs on candidates only. Returns (id, first_pos) with
    1-based INSTR positions.

    Replaces the reference's full-table ``LIKE '%...%'`` scans
    (check_sku_status.py:36-44 family) with a pre-filtered scan: the
    trigram gate is derived from the documents on every call, so no
    posting store has to be kept in step with the corpus.

    Needles shorter than 3 chars have no trigram and fall back to the
    direct scan. Case-insensitive (both sides lowercased)."""
    from product_etl_spark.functions import text as TX

    nl = needle.lower()
    grams = sorted({nl[i : i + 3] for i in range(len(nl) - 2)})
    lowered = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    base = docs.select(F.col(id_col), lowered.alias("_t"))
    if grams:
        cand = (
            base.select(
                F.col(id_col),
                F.explode(
                    F.array_distinct(TX.char_ngrams(F.col("_t"), 3))
                ).alias("_g"),
            )
            .filter(F.col("_g").isin(grams))
            .groupBy(id_col)
            .agg(F.countDistinct("_g").alias("_ng"))
            .filter(F.col("_ng") == len(grams))
            .select(id_col)
        )
        base = base.join(cand, id_col, "left_semi")
    return (
        base.withColumn("first_pos", F.instr(F.col("_t"), nl))
        .filter(F.col("first_pos") > 0)
        .select(id_col, "first_pos")
    )
