"""Thirteenth extension catalog (q188+): round-11 additions — the
unigram-tokenizer engine-exact twin (q188, the tokenizer-family
driver row the r10 verdict asked for alongside operators/unigram.py's
float EM trainer), SemDeDup (q189, embedding-level semantic dedup as
an IVF-cell + intra-cell exact-cosine composition), the WordPiece
first-merge scoring table (q190, the one-step engine-exact twin of
bpe.train_wordpiece), and temperature-scaled domain mixing budgets
(q191, packing.temperature_mixture_budgets at T=2), and the
join/agg key-skew diagnostic (q192, skew.key_skew_profile),
cluster-safe leakage-free fold assignment (q193,
dedup.cluster_safe_folds), the ANN recall@k audit (q194,
similarity.ann_recall_audit — sign-bit banded candidates scored
against the exact cosine top-k), the interpolated Kneser-Ney bigram
LM (q195, collocations.kneser_ney_bigrams), the cross-fold
contamination audit (q196, decontam.fold_contamination_audit), the
Fellegi-Sunter agreement-pattern profile (q197,
linkage.agreement_pattern_profile), the t-closeness audit (q198,
privacy.t_closeness_audit — completing the k/l/t privacy ladder),
the Zipf and Heaps corpus fingerprints (q199/q200,
collocations.zipf_fit / heaps_fit on the shared lnln_ols decimal-
moment fitter), the MinHash-LSH and IVF recall audits (q201/q202 —
with q194 the full ANN evaluation triple), market-basket
association rules (q203, basket.association_rules), RFM segments
(q204, segmentation.rfm_segments), CUSUM changepoint localization
(q205, timeseries.cusum_changepoint), leakage-safe cross-fold KN
scoring (q206, collocations.kneser_ney_score), the Kaplan-Meier
churn curve (q207, timeseries.kaplan_meier), Chao1/Good-Turing
unseen-vocabulary estimators (q208), MAD point-anomaly days (q209,
timeseries.mad_anomaly_days), and the weekday chi-square
uniformity audit (q210, timeseries.weekday_uniformity).

Every entry keeps the repo invariants: identical column names/aliases
between the Spark plan and the DuckDB oracle, integer-decided ranks,
decimal sums surfaced as DOUBLE/BIGINT only (never Decimal), and a
`Scale shape:` audit in each docstring.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from product_etl_spark.plans.catalog import _t, register


@register(
    "q188_unigram_min_pieces",
    r"""
    WITH RECURSIVE toks AS (
      SELECT doc_id,
             UNNEST(list_filter(
               string_split_regex(lower(COALESCE(text,'')), '\s+'),
               x -> x <> '')) AS word
      FROM documents
    ), wc AS (
      SELECT word, COUNT(*) AS wn FROM toks GROUP BY word
    ), cand AS (
      SELECT piece, SUM(wn) AS pn FROM (
        SELECT wc.wn,
               UNNEST(flatten([[substr(wc.word, i, l)
                 FOR i IN RANGE(1, GREATEST(LENGTH(wc.word) - l + 2, 1))]
                 FOR l IN RANGE(2, 5)])) AS piece
        FROM wc
      )
      GROUP BY piece
    ), vocab AS (
      SELECT piece FROM (
        SELECT piece,
               ROW_NUMBER() OVER (ORDER BY pn DESC, piece ASC) AS r
        FROM cand
      ) WHERE r <= 40
      UNION
      SELECT DISTINCT UNNEST([substr(word, i, 1)
               FOR i IN RANGE(1, LENGTH(word) + 1)]) AS piece
      FROM (SELECT DISTINCT word FROM toks)
    ), dw AS (
      SELECT DISTINCT word FROM toks
    ), reach(word, pos, k) AS (
      SELECT word, 0, 0 FROM dw
      UNION
      SELECT r.word, r.pos + LENGTH(v.piece), r.k + 1
      FROM reach r JOIN vocab v
        ON substr(r.word, r.pos + 1, LENGTH(v.piece)) = v.piece
      WHERE r.pos < LENGTH(r.word)
    ), cost AS (
      SELECT word, MIN(k) AS k FROM reach
      WHERE pos = LENGTH(word) GROUP BY word
    )
    SELECT d.doc_id,
           CAST(COALESCE(SUM(c.k), 0) AS BIGINT) AS n_tokens
    FROM documents d
    LEFT JOIN toks t ON t.doc_id = d.doc_id
    LEFT JOIN cost c ON c.word = t.word
    GROUP BY d.doc_id
    """,
)
def q188_unigram_min_pieces(spark, sf_dir):
    """Tokenizer-family driver row: per-document token counts under
    OPTIMAL minimum-piece segmentation over a corpus-learned piece
    inventory (operators/unigram.candidate_pieces +
    min_pieces_costs). The inventory is the top-40 substrings of
    length 2-4 by total corpus occurrences (ties piece-ascending)
    plus every character, so every word segments; min piece count per
    word is then a UNIQUE integer — no float, no tie-break — which
    the oracle reproduces with a recursive-CTE breadth-first search.
    This is the engine-exact integer twin of the float unigram-LM EM
    trainer (train_unigram, pytest-pinned on planted corpora): the
    q142<->q93 treatment applied to tokenizers. The reference has no
    tokenizer (SURVEY §2 M-family is translation/OCR); this extends
    the LLM-pipeline ladder whose BPE rung is q50/operators/bpe.py.

    Scale shape: one word-count shuffle; the substring explode and
    the DP both run over the DISTINCT-word dict (vocab-sized, never
    corpus-sized); the piece inventory is a bounded TakeOrdered +
    broadcast; the per-word DP is map-only Arrow-batched
    O(len x max_piece_len); one join back to (doc, word) occurrences
    and one per-doc groupBy-sum. No corpus self-join, no unbounded
    collect (min_pieces_costs raises over its vocab cap)."""
    from product_etl_spark.operators.unigram import (
        candidate_pieces,
        min_pieces_costs,
    )

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), r"\s+"),
                lambda x: x != "",
            )
        ).alias("word"),
    )
    pieces = candidate_pieces(d, "text", min_len=2, max_len=4, top_n=40)
    costs = min_pieces_costs(
        toks.select("word").distinct(), pieces
    )
    return (
        d.select("doc_id")
        .join(toks.join(costs, "word"), "doc_id", "left")
        .groupBy("doc_id")
        .agg(
            F.coalesce(
                F.sum(F.col("n_pieces").cast("long")), F.lit(0).cast("long")
            ).alias("n_tokens")
        )
    )


@register(
    "q189_semdedup_prune",
    """
    WITH dims AS (
      SELECT e.vec_id, d.pos, CAST(d.val AS DOUBLE) AS val
      FROM embeddings e,
           LATERAL (SELECT unnest(e.embedding) AS val,
                           generate_subscripts(e.embedding, 1) AS pos) d
    ), seeds AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS list_id, vec_id
      FROM embeddings ORDER BY vec_id LIMIT 8
    ), sdims AS (
      SELECT s.list_id, d.pos, d.val AS c
      FROM seeds s JOIN dims d ON d.vec_id = s.vec_id
    ), d0 AS (
      SELECT d.vec_id, s.list_id,
             SUM(CAST(ROUND((d.val - s.c) * (d.val - s.c), 9)
                      AS DECIMAL(18,9))) AS dist
      FROM dims d JOIN sdims s ON s.pos = d.pos
      GROUP BY d.vec_id, s.list_id
    ), a0 AS (
      SELECT vec_id, list_id FROM (
        SELECT vec_id, list_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dist, list_id) AS rn
        FROM d0) WHERE rn = 1
    ), pairs AS (
      SELECT aa.vec_id AS id_a, ab.vec_id AS id_b
      FROM a0 aa
      JOIN a0 ab ON aa.list_id = ab.list_id AND aa.vec_id < ab.vec_id
      JOIN embeddings ea ON ea.vec_id = aa.vec_id
      JOIN embeddings eb ON eb.vec_id = ab.vec_id
      WHERE list_dot_product(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[])
            / (sqrt(list_dot_product(ea.embedding::DOUBLE[],
                                     ea.embedding::DOUBLE[]))
             * sqrt(list_dot_product(eb.embedding::DOUBLE[],
                                     eb.embedding::DOUBLE[])))
            >= 0.3
    ), removed AS (
      SELECT DISTINCT id_b FROM pairs
    )
    SELECT a0.vec_id, a0.list_id,
           CASE WHEN r.id_b IS NULL THEN 1 ELSE 0 END AS kept
    FROM a0 LEFT JOIN removed r ON r.id_b = a0.vec_id
    """,
)
def q189_semdedup_prune(spark, sf_dir):
    """SemDeDup (similarity.semdedup_exact): IVF cell assignment by
    exact-decimal L2 to the 8 lowest-id seeds (the q142 seeding
    rule), then within-cell exact cosine at threshold 0.3; a vector
    is pruned when a lower-id cellmate clears the threshold. Surface
    is one (vec_id, list_id, kept) row per vector — the pruning
    decision the curation pass commits. Cross-cell pairs are NEVER
    compared (the algorithm's scale contract — pytest-asserted on a
    planted fixture with a cross-cell near-duplicate); the oracle
    replays the same integer-decided assignment and the same
    fixed-order IEEE cosine (the q92 recipe), so the decision frame
    hashes exactly.

    Scale shape: map-only assignment (seed centroids fold into one
    broadcast row), one cell-keyed self-join bounded by
    O(sum cell_size^2), one distinct + one left join back. At 100 TB
    the cells come from trained k-means (q93) with skew pre-split;
    the composition and decision rule are identical."""
    from product_etl_spark.operators.similarity import semdedup_exact

    e = _t(spark, sf_dir, "embeddings")
    return semdedup_exact(e, "embedding", "vec_id", n_cells=8, threshold=0.3)


@register(
    "q190_wordpiece_first_merge",
    r"""
    WITH toks AS (
      SELECT UNNEST(list_filter(
               string_split_regex(lower(COALESCE(text,'')), '\s+'),
               x -> x <> '')) AS word
      FROM documents
    ), wc AS (
      SELECT word, COUNT(*) AS wn FROM toks GROUP BY word
    ), syms AS (
      SELECT sym, CAST(SUM(wn) AS BIGINT) AS sn FROM (
        SELECT wn, UNNEST(list_append(
                 [substr(word, i, 1)
                  FOR i IN RANGE(1, LENGTH(word) + 1)], '</w>')) AS sym
        FROM wc
      ) GROUP BY sym
    ), prs AS (
      SELECT sym_a, sym_b, CAST(SUM(wn) AS BIGINT) AS pn FROM (
        SELECT wn,
               substr(word, i, 1) AS sym_a,
               CASE WHEN i <= LENGTH(word) - 1
                    THEN substr(word, i + 1, 1) ELSE '</w>' END AS sym_b
        FROM wc, LATERAL (SELECT UNNEST(RANGE(1, LENGTH(word) + 1)) AS i) r
      ) GROUP BY sym_a, sym_b
    ), scored AS (
      SELECT p.sym_a, p.sym_b, p.pn,
             ROUND(CAST(p.pn AS DOUBLE)
                   / CAST(a.sn * b.sn AS DOUBLE), 9) AS score
      FROM prs p
      JOIN syms a ON a.sym = p.sym_a
      JOIN syms b ON b.sym = p.sym_b
    )
    SELECT sym_a, sym_b, pn, score FROM (
      SELECT sym_a, sym_b, pn, score,
             ROW_NUMBER() OVER (ORDER BY score DESC, sym_a ASC, sym_b ASC)
               AS r
      FROM scored
    ) WHERE r <= 20
    """,
)
def q190_wordpiece_first_merge(spark, sf_dir):
    """WordPiece scoring rule pinned cross-engine (the q142<->q93
    treatment, applied to bpe.train_wordpiece): the FIRST merge
    iteration's full candidate table — char-level pair counts,
    per-symbol counts (each word's characters plus one </w>), and
    the likelihood-ratio score count(ab)/(count(a)·count(b)) — top 20
    by (score desc, pair asc). The counts are exact integers that
    stay under 2^53, so the one double division is the same IEEE op
    in both engines and the ranking is bit-decided; the trainer's own
    loop compares scores by integer cross-multiplication
    (train_wordpiece) and its multi-merge sequence is pytest-pinned
    (test_bpe), exactly like BPE whose regex proxy is q50.

    Scale shape: one corpus word-count shuffle; symbol and pair
    counts explode over the DISTINCT-word dict weighted by count
    (vocab-sized, never corpus-sized); two broadcast joins onto the
    symbol counts; top-20 is one TakeOrdered. No driver loop — the
    iteration's candidate table is computed distributed."""
    d = _t(spark, sf_dir, "documents")
    wc = (
        d.select(
            F.explode(
                F.filter(
                    F.split(
                        F.lower(F.coalesce(F.col("text"), F.lit(""))), r"\s+"
                    ),
                    lambda x: x != "",
                )
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wn"))
    )
    chars = F.expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
    )
    syms = (
        wc.select(
            "wn",
            F.explode(
                F.concat(chars, F.array(F.lit("</w>")))
            ).alias("sym"),
        )
        .groupBy("sym")
        .agg(F.sum("wn").alias("sn"))
    )
    pair_structs = F.expr(
        "transform(sequence(1, length(word)), i -> struct("
        "substring(word, i, 1) AS sym_a, "
        "IF(i < length(word), substring(word, i + 1, 1), '</w>') AS sym_b))"
    )
    prs = (
        wc.select("wn", F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.sym_a").alias("sym_a"), F.col("p.sym_b").alias("sym_b"))
        .agg(F.sum("wn").alias("pn"))
    )
    a = syms.select(F.col("sym").alias("sym_a"), F.col("sn").alias("_sa"))
    b = syms.select(F.col("sym").alias("sym_b"), F.col("sn").alias("_sb"))
    scored = (
        prs.join(F.broadcast(a), "sym_a")
        .join(F.broadcast(b), "sym_b")
        .select(
            "sym_a",
            "sym_b",
            "pn",
            F.round(
                F.col("pn").cast("double")
                / (F.col("_sa") * F.col("_sb")).cast("double"),
                9,
            ).alias("score"),
        )
    )
    return (
        scored.orderBy(
            F.col("score").desc(), F.col("sym_a").asc(), F.col("sym_b").asc()
        )
        .limit(20)
        .select("sym_a", "sym_b", "pn", "score")
    )


@register(
    "q191_domain_mixture_budgets",
    """
    WITH counts AS (
      SELECT source AS domain, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    ), weighted AS (
      SELECT domain, n_docs,
             ROUND(sqrt(CAST(n_docs AS DOUBLE)), 9) AS weight
      FROM counts
    ), tot AS (
      SELECT SUM(CAST(weight AS DECIMAL(28,9))) AS tw FROM weighted
    )
    SELECT w.domain, w.n_docs, w.weight,
           ROUND(w.weight / CAST(t.tw AS DOUBLE), 6) AS share,
           CAST(FLOOR(10000 * ROUND(w.weight / CAST(t.tw AS DOUBLE), 6))
                AS BIGINT) AS sample_budget
    FROM weighted w CROSS JOIN tot t
    """,
)
def q191_domain_mixture_budgets(spark, sf_dir):
    """Temperature-scaled domain mixing (operators/packing.
    temperature_mixture_budgets, T=2 — the mT5/XLM-R recipe): each
    source domain's sampling budget out of 10,000 draws is
    proportional to sqrt(n_docs), flattening the head so low-resource
    domains survive the draw. Engine-exact floats by the repo's
    single-IEEE-op rule: sqrt is correctly rounded everywhere, the
    cross-domain total is an order-free DECIMAL sum of 1e-9-rounded
    weights (the q142 mean recipe), and share/budget are one division
    + one multiply-floor on identical doubles.

    Scale shape: one groupBy(domain) with map-side combine, one
    broadcast 1-row total, pure map after — domain cardinality is the
    only row count anywhere past the scan."""
    from product_etl_spark.operators.packing import (
        temperature_mixture_budgets,
    )

    d = _t(spark, sf_dir, "documents")
    return temperature_mixture_budgets(d, "source", 10_000, temperature=2)


@register(
    "q192_event_key_skew_profile",
    """
    WITH counts AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM events GROUP BY event_type
    ), tot AS (
      SELECT SUM(n_rows) AS total, CAST(COUNT(*) AS BIGINT) AS n_keys
      FROM counts
    )
    SELECT c.event_type, c.n_rows,
           ROUND(CAST(c.n_rows AS DOUBLE) / CAST(t.total AS DOUBLE), 6)
             AS share,
           ROUND(CAST(c.n_rows AS DOUBLE) * CAST(t.n_keys AS DOUBLE)
                 / CAST(t.total AS DOUBLE), 4) AS x_mean,
           CAST(CEIL(CAST(c.n_rows AS DOUBLE) / 1000.0) AS BIGINT)
             AS salt_factor
    FROM counts c CROSS JOIN tot t
    ORDER BY c.n_rows DESC, c.event_type
    LIMIT 10
    """,
)
def q192_event_key_skew_profile(spark, sf_dir):
    """Join/agg key-skew diagnostic (operators/skew.key_skew_profile)
    on the events stream's type key: the top-10 heaviest keys with
    row count, table share, multiple-of-mean load, and the
    deterministic recommended salt factor ceil(n / target) — the
    report a pipeline reads BEFORE choosing plain vs salted_join vs
    two_phase_agg (q157 proves the salted rewrite's equality; this
    pins the decision input). Engine-exact: counts are bigints,
    share/x_mean are single IEEE ops on exact-integer doubles,
    salt_factor is one division + ceil.

    Scale shape: one map-side-combined groupBy over the key — the
    same shuffle the operation under diagnosis would pay — one
    broadcast 1-row total, one TakeOrdered. The report is top-N
    rows; nothing collects."""
    from product_etl_spark.operators.skew import key_skew_profile

    ev = _t(spark, sf_dir, "events")
    return key_skew_profile(
        ev, ["event_type"], top_n=10, target_rows_per_task=1000
    )


@register(
    "q193_cluster_safe_folds",
    r"""
    WITH RECURSIVE t AS (
      SELECT doc_id, list_distinct(list_filter(
               string_split_regex(LOWER(COALESCE(text,'')), '\s+'),
               x -> x <> '')) AS s
      FROM documents WHERE doc_id >= 150 AND doc_id < 350
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM t a JOIN t b ON a.doc_id < b.doc_id
      WHERE LEN(list_intersect(a.s, b.s)) > 0
        AND 5 * LEN(list_intersect(a.s, b.s))
            >= 3 * (LEN(a.s) + LEN(b.s) - LEN(list_intersect(a.s, b.s)))
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ), reach(node, lbl) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    ), comp AS (
      SELECT node, MIN(lbl) AS component FROM reach GROUP BY node
    ), labeled AS (
      SELECT t.doc_id, COALESCE(c.component, t.doc_id) AS component
      FROM t LEFT JOIN comp c ON c.node = t.doc_id
    )
    SELECT doc_id, component,
           CAST(('0x' || substr(md5(CAST(component AS VARCHAR)), 1, 15))
                  ::BIGINT % 3 AS INT) AS fold
    FROM labeled
    """,
)
def q193_cluster_safe_folds(spark, sf_dir):
    """Leakage-safe split assignment (dedup.cluster_safe_folds): every
    near-duplicate CLUSTER lands in one fold — fold = portable
    md5-hash(component) mod 3 over the q187 slice's exact-Jaccard
    components (min-label propagation, raising past its 12-round
    cap; singletons label themselves) — so train and held-out folds
    can never share near-duplicates. The fold is a pure function of
    the cluster id, making "no cluster straddles folds" true by
    construction (pytest-asserted on a planted graph) and
    assignments stable under re-runs; per-row folds (q183) cannot
    give that guarantee. The oracle replays the closure with a
    recursive CTE and the identical portable hash.

    Scale shape: the q170 propagation closure plus one left join back
    for singletons and a map-side hash; the fold step adds zero
    shuffles beyond the closure it consumes."""
    from product_etl_spark.operators.dedup import (
        cluster_safe_folds,
        set_similarity_pairs,
    )

    d = _t(spark, sf_dir, "documents").filter(
        (F.col("doc_id") >= 150) & (F.col("doc_id") < 350)
    )
    pairs = set_similarity_pairs(d, "text", "doc_id", 3, 5)
    return cluster_safe_folds(d, pairs, "doc_id", n_folds=3)


@register(
    "q194_ann_recall_audit",
    """
    WITH dims AS (
      SELECT e.vec_id, d.pos, CAST(d.val AS DOUBLE) AS val
      FROM embeddings e,
           LATERAL (SELECT unnest(e.embedding) AS val,
                           generate_subscripts(e.embedding, 1) AS pos) d
    ), bands AS (
      SELECT vec_id, (pos - 1) // 8 AS band,
             CAST(SUM(CASE WHEN val >= 0
                      THEN CAST(POWER(2, (pos - 1) % 8) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS band_val
      FROM dims GROUP BY vec_id, (pos - 1) // 8
    ), q AS (
      SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 20
    ), cand AS (
      SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
      FROM bands qb
      JOIN q ON q.vec_id = qb.vec_id
      JOIN bands cb ON cb.band = qb.band AND cb.band_val = qb.band_val
       AND cb.vec_id <> qb.vec_id
    ), exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT qe.vec_id AS query_id, ce.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY qe.vec_id
                 ORDER BY CASE WHEN
                     sqrt(list_dot_product(qe.embedding::DOUBLE[],
                                           qe.embedding::DOUBLE[]))
                   * sqrt(list_dot_product(ce.embedding::DOUBLE[],
                                           ce.embedding::DOUBLE[])) = 0
                   THEN 0.0
                   ELSE list_dot_product(qe.embedding::DOUBLE[],
                                         ce.embedding::DOUBLE[])
                        / (sqrt(list_dot_product(qe.embedding::DOUBLE[],
                                                 qe.embedding::DOUBLE[]))
                         * sqrt(list_dot_product(ce.embedding::DOUBLE[],
                                                 ce.embedding::DOUBLE[])))
                   END DESC, ce.vec_id) AS rn
        FROM embeddings qe
        JOIN q ON q.vec_id = qe.vec_id
        JOIN embeddings ce ON ce.vec_id <> qe.vec_id
      ) WHERE rn <= 10
    )
    SELECT q.vec_id AS query_id,
           CAST(COALESCE(c.n, 0) AS BIGINT) AS n_candidates,
           CAST(COALESCE(h.n, 0) AS BIGINT) AS hits,
           CASE WHEN COALESCE(tn.n, 0) = 0 THEN 1.0
                ELSE ROUND(CAST(COALESCE(h.n, 0) AS DOUBLE)
                           / CAST(tn.n AS DOUBLE), 6) END AS recall
    FROM q
    LEFT JOIN (SELECT query_id, COUNT(*) AS n FROM cand
               GROUP BY query_id) c ON c.query_id = q.vec_id
    LEFT JOIN (SELECT cand.query_id, COUNT(*) AS n FROM cand
               JOIN exact ON exact.query_id = cand.query_id
                AND exact.neighbor_id = cand.neighbor_id
               GROUP BY cand.query_id) h ON h.query_id = q.vec_id
    LEFT JOIN (SELECT query_id, COUNT(*) AS n FROM exact
               GROUP BY query_id) tn ON tn.query_id = q.vec_id
    """,
)
def q194_ann_recall_audit(spark, sf_dir):
    """ANN quality EVALUATION (similarity.ann_recall_audit): recall@10
    of the sign-bit banded candidate search (8 bands x 8 sign bits,
    Charikar-2002 SimHash banding on coordinate hyperplanes) against
    the exact cosine top-10, for the 20 lowest-id query vectors — the
    measurement a pipeline runs before trusting an approximate index
    for retrieval dedup; the repo had the searchers (LSH/IVF/PQ/
    Hamming) but no recall audit until this row. Engine-exact: the
    signature is integer bit-packing, candidate/hit counts are
    bigints, the exact top-k uses the fixed-order IEEE cosine both
    engines share (the q92/q189 recipe) with id tie-break, and recall
    is one division.

    Scale shape: ground truth is paid ONLY on the bounded query
    sample (broadcast Q x N map-only + per-query top-k); candidates
    come from the (band, band_val)-keyed join against the broadcast
    Q*8-row query signatures. The corpus is scanned twice, shuffled
    never."""
    from product_etl_spark.operators.similarity import ann_recall_audit

    e = _t(spark, sf_dir, "embeddings")
    return ann_recall_audit(
        e, "embedding", "vec_id", n_queries=20, k=10, n_bands=8, band_bits=8
    )


@register(
    "q195_kneser_ney_bigrams",
    r"""
    WITH t AS (
      SELECT doc_id, list_filter(
               string_split_regex(LOWER(COALESCE(text,'')), '\s+'),
               x -> x <> '') AS toks
      FROM documents
    ), bg AS (
      SELECT toks[i] AS w1, toks[i + 1] AS w2
      FROM t, LATERAL (SELECT UNNEST(RANGE(1, GREATEST(LEN(toks), 1)))
                       AS i) r
    ), pairs AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS pn
      FROM bg GROUP BY w1, w2
    ), ctx AS (
      SELECT w1, CAST(SUM(pn) AS BIGINT) AS cw1,
             CAST(COUNT(*) AS BIGINT) AS n_follow
      FROM pairs GROUP BY w1
    ), cont AS (
      SELECT w2, CAST(COUNT(*) AS BIGINT) AS n_cont
      FROM pairs GROUP BY w2
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nb FROM pairs
    )
    SELECT p.w1, p.w2, p.pn, c.cw1, c.n_follow, o.n_cont,
           ROUND((CAST(p.pn AS DOUBLE) - 0.75) / CAST(c.cw1 AS DOUBLE)
                 + ((0.75 * CAST(c.n_follow AS DOUBLE))
                    / CAST(c.cw1 AS DOUBLE))
                   * (CAST(o.n_cont AS DOUBLE) / CAST(t.nb AS DOUBLE)),
                 9) AS pkn
    FROM pairs p
    JOIN ctx c ON c.w1 = p.w1
    JOIN cont o ON o.w2 = p.w2
    CROSS JOIN tot t
    ORDER BY p.pn DESC, p.w1, p.w2
    LIMIT 20
    """,
)
def q195_kneser_ney_bigrams(spark, sf_dir):
    """Interpolated Kneser-Ney bigram LM (collocations.
    kneser_ney_bigrams, d=0.75): absolute discounting plus the
    continuation-count backoff — the smoothing that made n-gram LMs
    competitive (Chen & Goodman 1998) and the modern-smoothing
    sibling of q113's add-one CCNet filter. Top-20 bigrams by count
    with all four KN statistics and the probability. Engine-exact:
    counts are BIGINTs (DuckDB's SUM->HUGEINT re-cast, the q166
    lesson), p_kn is the shared fixed tree of single IEEE ops,
    ordering is integer-decided.

    Scale shape: one corpus tokenize (rows + per-doc LEAD, never
    per-doc arrays), one (w1,w2) map-side-combined groupBy, two
    vocabulary-bounded window passes over the PAIR table, a broadcast
    1-row total, TakeOrdered top-k."""
    from product_etl_spark.operators.collocations import (
        kneser_ney_bigrams,
    )

    d = _t(spark, sf_dir, "documents")
    return kneser_ney_bigrams(
        d, "text", "doc_id", discount=0.75, top_n=20
    )


@register(
    "q196_fold_contamination_audit",
    r"""
    WITH folds AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                    ::BIGINT % 3 AS INT) AS fold
      FROM documents
    ), t AS (
      SELECT doc_id, list_filter(
               string_split_regex(LOWER(COALESCE(text,'')), '\s+'),
               x -> x <> '') AS toks
      FROM documents
    ), dg AS (
      SELECT DISTINCT d.doc_id,
             array_to_string(d.toks[i:i+4], ' ') AS sh
      FROM t d, LATERAL (SELECT UNNEST(RANGE(1,
                           GREATEST(LEN(d.toks) - 3, 1))) AS i) r
    ), dgf AS (
      SELECT dg.doc_id, dg.sh, f.fold
      FROM dg JOIN folds f ON f.doc_id = dg.doc_id
    ), gf AS (
      SELECT DISTINCT sh, fold FROM dgf
    ), cont AS (
      SELECT fold, CAST(COUNT(*) AS BIGINT) AS n FROM (
        SELECT DISTINCT a.doc_id, a.fold
        FROM dgf a JOIN gf b ON b.sh = a.sh AND b.fold <> a.fold
      ) GROUP BY fold
    ), shared AS (
      SELECT fold, CAST(COUNT(*) AS BIGINT) AS n FROM (
        SELECT DISTINCT a.sh, a.fold
        FROM gf a JOIN gf b ON b.sh = a.sh AND b.fold <> a.fold
      ) GROUP BY fold
    ), base AS (
      SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM folds GROUP BY fold
    )
    SELECT base.fold, base.n_docs,
           CAST(COALESCE(cont.n, 0) AS BIGINT) AS contaminated_docs,
           CAST(COALESCE(shared.n, 0) AS BIGINT) AS shared_grams,
           ROUND(CAST(COALESCE(cont.n, 0) AS DOUBLE)
                 / CAST(base.n_docs AS DOUBLE), 6) AS contamination_rate
    FROM base
    LEFT JOIN cont ON cont.fold = base.fold
    LEFT JOIN shared ON shared.fold = base.fold
    ORDER BY base.fold
    """,
)
def q196_fold_contamination_audit(spark, sf_dir):
    """Cross-fold contamination audit (decontam.
    fold_contamination_audit, word 5-grams — q112's benchmark gram
    size — 3 folds): for each portable-hash fold (q183's split rule),
    the count and rate of documents sharing at least one exact
    5-gram with another fold,
    plus the distinct grams that cross fold lines — the leakage
    measurement that motivates cluster-safe folds (q193) over per-row
    folds, and the split-vs-itself twin of benchmark decontamination
    (q112). Engine-exact: fold ids and all counts are integers; the
    rate is one division.

    Scale shape: map-side hash fold ids; grams via exploded_shingles
    rows; ONE gram-keyed join of doc-grams against the distinct
    (gram, fold) table — vocabulary-bounded, never doc x doc; the
    report is fold-count rows."""
    from product_etl_spark.operators.decontam import (
        fold_contamination_audit,
    )

    d = _t(spark, sf_dir, "documents")
    return fold_contamination_audit(d, "text", "doc_id", n_folds=3, n=5)


@register(
    "q197_linkage_agreement_patterns",
    """
    WITH c AS (
      SELECT c_custkey, c_nationkey, c_mktsegment,
             FLOOR(CAST(c_acctbal AS DOUBLE) / 2000.0) AS band,
             CAST(c_acctbal AS DOUBLE) >= 0 AS pos
      FROM customer
    ), pc AS (
      SELECT pattern, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM (
        SELECT (CASE WHEN a.c_mktsegment = b.c_mktsegment
                     THEN '1' ELSE '0' END)
            || (CASE WHEN a.band = b.band THEN '1' ELSE '0' END)
            || (CASE WHEN a.pos = b.pos THEN '1' ELSE '0' END) AS pattern
        FROM c a JOIN c b
          ON a.c_nationkey = b.c_nationkey
         AND a.c_custkey < b.c_custkey
      ) GROUP BY pattern
    ), m AS (
      SELECT CAST(SUM(n_pairs) AS BIGINT) AS tot,
             CAST(SUM(CASE WHEN substr(pattern, 1, 1) = '1'
                      THEN n_pairs ELSE 0 END) AS BIGINT) AS a1,
             CAST(SUM(CASE WHEN substr(pattern, 2, 1) = '1'
                      THEN n_pairs ELSE 0 END) AS BIGINT) AS a2,
             CAST(SUM(CASE WHEN substr(pattern, 3, 1) = '1'
                      THEN n_pairs ELSE 0 END) AS BIGINT) AS a3
      FROM pc
    )
    SELECT pc.pattern, pc.n_pairs,
           ROUND(((CAST(m.tot AS DOUBLE)
             * (CASE WHEN substr(pc.pattern, 1, 1) = '1'
                THEN CAST(m.a1 AS DOUBLE) / CAST(m.tot AS DOUBLE)
                ELSE 1.0 - CAST(m.a1 AS DOUBLE) / CAST(m.tot AS DOUBLE)
                END))
             * (CASE WHEN substr(pc.pattern, 2, 1) = '1'
                THEN CAST(m.a2 AS DOUBLE) / CAST(m.tot AS DOUBLE)
                ELSE 1.0 - CAST(m.a2 AS DOUBLE) / CAST(m.tot AS DOUBLE)
                END))
             * (CASE WHEN substr(pc.pattern, 3, 1) = '1'
                THEN CAST(m.a3 AS DOUBLE) / CAST(m.tot AS DOUBLE)
                ELSE 1.0 - CAST(m.a3 AS DOUBLE) / CAST(m.tot AS DOUBLE)
                END), 6) AS expected,
           CASE WHEN expected = 0 THEN 0.0
                ELSE ROUND(CAST(pc.n_pairs AS DOUBLE) / expected, 6)
                END AS lift
    FROM pc CROSS JOIN m
    ORDER BY pc.pattern
    """,
)
def q197_linkage_agreement_patterns(spark, sf_dir):
    """Fellegi-Sunter agreement-pattern profile (linkage.
    agreement_pattern_profile) over nation-blocked customer pairs
    with three compare fields — market segment, acctbal band
    (floor/2000), acctbal sign: the frequency of each of the <= 8
    agreement patterns vs the count expected under field
    independence, plus the lift. The sufficient statistic a full FS
    EM fits m/u weights to, and on its own the which-fields-
    discriminate report a linkage pipeline (q137/q181) reads before
    scoring. Engine-exact: counts BIGINT, rates single divisions,
    expected the shared left-fold tree, lift divides by the ROUNDED
    expected on both sides.

    Scale shape: pairs bounded by the nation block (O(sum block^2),
    the module contract); the pattern table is <= 8 rows, marginals
    fold from IT as a broadcast 1-row aggregate — the pair set is
    scanned once."""
    from product_etl_spark.operators.linkage import (
        agreement_pattern_profile,
    )

    cu = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal").cast("double") / F.lit(2000.0)).alias(
            "band"
        ),
        (F.col("c_acctbal").cast("double") >= F.lit(0.0)).alias("pos"),
    )
    return agreement_pattern_profile(
        cu, "c_nationkey", "c_custkey", ["c_mktsegment", "band", "pos"]
    )


@register(
    "q198_t_closeness_audit",
    """
    WITH c AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(FLOOR(CAST(c_acctbal AS DOUBLE) / 2000.0) AS INT) AS band
      FROM customer
    ), gv AS (
      SELECT c_nationkey, c_mktsegment, band,
             CAST(COUNT(*) AS BIGINT) AS cgv
      FROM c GROUP BY c_nationkey, c_mktsegment, band
    ), g AS (
      SELECT c_nationkey, c_mktsegment, CAST(SUM(cgv) AS BIGINT) AS ng
      FROM gv GROUP BY c_nationkey, c_mktsegment
    ), v AS (
      SELECT band, CAST(SUM(cgv) AS BIGINT) AS nv FROM gv GROUP BY band
    ), tot AS (
      SELECT CAST(SUM(nv) AS BIGINT) AS n FROM v
    ), grid AS (
      SELECT g.c_nationkey, g.c_mktsegment, g.ng, v.band, v.nv,
             COALESCE(gv.cgv, 0) AS cgv
      FROM g CROSS JOIN v
      LEFT JOIN gv ON gv.c_nationkey IS NOT DISTINCT FROM g.c_nationkey
                  AND gv.c_mktsegment IS NOT DISTINCT FROM g.c_mktsegment
                  AND gv.band IS NOT DISTINCT FROM v.band
    ), terms AS (
      SELECT c_nationkey, c_mktsegment, ng,
             CAST(ROUND(ABS(CAST(cgv AS DOUBLE) / CAST(ng AS DOUBLE)
                            - CAST(nv AS DOUBLE) / CAST(t.n AS DOUBLE)),
                        9) AS DECIMAL(18,9)) AS term
      FROM grid CROSS JOIN tot t
    ), pg AS (
      SELECT c_nationkey, c_mktsegment, ng, SUM(term) AS l1
      FROM terms GROUP BY c_nationkey, c_mktsegment, ng
    )
    SELECT c_nationkey, c_mktsegment, ng AS n_rows,
           ROUND(0.5 * CAST(l1 AS DOUBLE), 6) AS t
    FROM pg
    ORDER BY t DESC, c_nationkey, c_mktsegment
    LIMIT 10
    """,
)
def q198_t_closeness_audit(spark, sf_dir):
    """t-closeness audit (privacy.t_closeness_audit) — the third rung
    of the privacy ladder after k-anonymity (q140/q182) and
    l-diversity (q179): for each (nation, segment) quasi group, the
    EMD between its acctbal-band distribution and the global one
    (categorical ground distance -> half the L1 norm); top-10 worst
    groups. A group can pass k and l and still leak through a skewed
    sensitive distribution — this is the report that catches it.
    Engine-exact: shares are single divisions of exact-integer
    doubles, each |q - p| term is ROUND(.,9)->DECIMAL so the group
    sum is order-free, the 0.5x is one double op; ordering is by
    identical doubles with quasi-key tie-break.

    Scale shape: ONE (quasi, sensitive) groupBy (map-side combine);
    the dense group x value grid builds from the two distinct side
    tables (quasi-space x band-cardinality rows) with the observed
    counts left-joined — absent combinations contribute their global
    share with no corpus rescan; the report is top-N."""
    from product_etl_spark.operators.privacy import t_closeness_audit

    cu = _t(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal").cast("double") / F.lit(2000.0))
        .cast("int")
        .alias("band"),
    )
    return t_closeness_audit(
        cu, ["c_nationkey", "c_mktsegment"], "band", top_n=10
    )


@register(
    "q199_zipf_fit",
    r"""
    WITH tok AS (
      SELECT UNNEST(list_filter(
               string_split_regex(LOWER(COALESCE(text,'')), '\s+'),
               x -> x <> '')) AS tok
      FROM documents
    ), wc AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY tok
    ), vocab AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS vocab FROM wc
    ), ranked AS (
      SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, tok ASC) AS rank
      FROM wc ORDER BY n DESC, tok ASC LIMIT 100
    ), terms AS (
      SELECT CAST(ROUND(LN(CAST(rank AS DOUBLE)), 9)
                  AS DECIMAL(18,9)) AS x,
             CAST(ROUND(LN(CAST(n AS DOUBLE)), 9)
                  AS DECIMAL(18,9)) AS y
      FROM ranked
    ), m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_pts,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy
      FROM terms
    ), d AS (
      SELECT m.n_pts, v.vocab,
             CAST(m.n_pts AS DOUBLE) AS nd,
             CAST(m.sx AS DOUBLE) AS sx, CAST(m.sy AS DOUBLE) AS sy,
             CAST(m.sxx AS DOUBLE) AS sxx, CAST(m.sxy AS DOUBLE) AS sxy,
             CAST(m.syy AS DOUBLE) AS syy
      FROM m CROSS JOIN vocab v
    ), e AS (
      SELECT n_pts, vocab, nd, sx, sy,
             nd * sxy - sx * sy AS cov,
             nd * sxx - sx * sx AS varx,
             nd * syy - sy * sy AS vary
      FROM d
    )
    SELECT n_pts, vocab,
           ROUND(CASE WHEN varx = 0 THEN 0.0 ELSE cov / varx END, 6)
             AS slope,
           ROUND((sy - (CASE WHEN varx = 0 THEN 0.0
                        ELSE cov / varx END) * sx) / nd, 6) AS intercept,
           ROUND(CASE WHEN (varx * vary) = 0 THEN 0.0
                 ELSE (cov * cov) / (varx * vary) END, 6) AS r2
    FROM e
    """,
)
def q199_zipf_fit(spark, sf_dir):
    """Zipf's-law corpus fingerprint (collocations.zipf_fit): OLS of
    ln(freq) on ln(rank) over the top-100 words — slope ~ -1 and
    high r^2 for natural language; bent curves flag templated or
    machine-generated corpora. One-row surface (n_pts, vocab, slope,
    intercept, r2). Engine-exact: the rank set is integer-decided
    (count desc, word asc), each ln of an exact integer rounds to 9
    and sums as DECIMAL (order-free, the q161 moment recipe lifted
    to log space), and the closed-form expressions evaluate once in
    double on identical operands.

    Scale shape: one tokenize + vocabulary-bounded word groupBy;
    TakeOrdered top-100 FIRST, then the rank window runs over those
    100 rows only (never a SinglePartition window over the
    vocabulary); moments are a 1-row aggregate; vocab folds from the
    word table. One corpus scan."""
    from product_etl_spark.operators.collocations import zipf_fit

    d = _t(spark, sf_dir, "documents")
    return zipf_fit(d, "text", top_n=100)


@register(
    "q200_heaps_fit",
    r"""
    WITH t AS (
      SELECT doc_id, list_filter(
               string_split_regex(LOWER(COALESCE(text,'')), '\s+'),
               x -> x <> '') AS toks
      FROM documents
    ), r AS (
      SELECT doc_id, toks,
             ROW_NUMBER() OVER (ORDER BY doc_id) AS rank
      FROM t
    ), dd AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS d FROM t
    ), b AS (
      SELECT toks,
             CAST(((rank - 1) * LEAST(10, dd.d)) // dd.d + 1 AS INT)
               AS bucket
      FROM r CROSS JOIN dd
    ), bt AS (
      SELECT bucket, CAST(SUM(LEN(toks)) AS BIGINT) AS tn
      FROM b GROUP BY bucket
    ), nw AS (
      SELECT fb AS bucket, CAST(COUNT(*) AS BIGINT) AS nv FROM (
        SELECT w, MIN(bucket) AS fb FROM (
          SELECT bucket, UNNEST(toks) AS w FROM b
        ) GROUP BY w
      ) GROUP BY fb
    ), curve AS (
      SELECT bt.bucket,
             CAST(SUM(bt.tn) OVER (ORDER BY bt.bucket) AS BIGINT)
               AS n_tokens,
             CAST(SUM(COALESCE(nw.nv, 0)) OVER (ORDER BY bt.bucket)
                  AS BIGINT) AS vocab_cum
      FROM bt LEFT JOIN nw ON nw.bucket = bt.bucket
    ), terms AS (
      SELECT CAST(ROUND(LN(CAST(n_tokens AS DOUBLE)), 9)
                  AS DECIMAL(18,9)) AS x,
             CAST(ROUND(LN(CAST(vocab_cum AS DOUBLE)), 9)
                  AS DECIMAL(18,9)) AS y
      FROM curve WHERE n_tokens > 0 AND vocab_cum > 0
    ), m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_pts,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy
      FROM terms
    ), md AS (
      SELECT n_pts, CAST(n_pts AS DOUBLE) AS nd,
             CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy,
             CAST(sxx AS DOUBLE) AS sxx, CAST(sxy AS DOUBLE) AS sxy,
             CAST(syy AS DOUBLE) AS syy
      FROM m
    ), e AS (
      SELECT n_pts, nd, sx, sy,
             nd * sxy - sx * sy AS cov,
             nd * sxx - sx * sx AS varx,
             nd * syy - sy * sy AS vary
      FROM md
    ), tot AS (
      SELECT CAST(MAX(n_tokens) AS BIGINT) AS total_tokens,
             CAST(MAX(vocab_cum) AS BIGINT) AS total_vocab
      FROM curve
    )
    SELECT e.n_pts, tot.total_tokens, tot.total_vocab,
           ROUND(CASE WHEN varx = 0 THEN 0.0 ELSE cov / varx END, 6)
             AS beta,
           ROUND((sy - (CASE WHEN varx = 0 THEN 0.0
                        ELSE cov / varx END) * sx) / nd, 6) AS intercept,
           ROUND(CASE WHEN (varx * vary) = 0 THEN 0.0
                 ELSE (cov * cov) / (varx * vary) END, 6) AS r2
    FROM e CROSS JOIN tot
    """,
)
def q200_heaps_fit(spark, sf_dir):
    """Heaps'-law vocabulary-growth fit (collocations.heaps_fit):
    V(n) ~ K * n^beta over 10 equal-width corpus prefixes in doc_id
    order — the growth-side sibling of q199's rank-frequency
    fingerprint (natural text: beta ~ 0.4-0.6; closed template
    vocabularies saturate toward 0). One-row surface (n_pts,
    total_tokens, total_vocab, beta, intercept=ln K, r2).
    Engine-exact: ranks and bucket ids are integer-decided, each
    word contributes one row at its MIN bucket, the curve is exact
    integer cumulative sums over 10 rows, and the fit is the shared
    lnln_ols decimal-moment recipe with the same degenerate guards
    on both engines.

    Scale shape: document ranks via linkage.global_sort_ranks (range
    repartition + per-partition offsets, never the single-task
    global window the oracle's ROW_NUMBER plans); one tokenize
    feeding a vocabulary-bounded min-bucket groupBy and a
    bucket-keyed token sum; cumulative window and OLS moments run
    over 10 rows."""
    from product_etl_spark.operators.collocations import heaps_fit

    d = _t(spark, sf_dir, "documents")
    return heaps_fit(d, "text", "doc_id", n_buckets=10)


from product_etl_spark.operators import dedup as _D  # noqa: E402

_Q201_MINHASH_COLS = ",\n             ".join(
    "MIN((%d * hv + %d) %% 2147483647) AS h%d" % (a, b, i)
    for i, (a, b) in enumerate(_D.minhash_params(8))
)

_Q201_SQL = r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(LOWER(COALESCE(text,'')),
                                            '\s+'),
                         x -> x <> '') AS toks
      FROM documents WHERE doc_id >= 150 AND doc_id < 350
    ), sh_arr AS (
      SELECT doc_id,
             list_distinct(CASE WHEN LEN(toks) < 2 THEN []
                  ELSE [array_to_string(toks[i:i+1], ' ')
                        FOR i IN RANGE(1, LEN(toks))] END) AS sh
      FROM t
    ), s AS (
      SELECT doc_id,
             ('0x' || substr(md5(UNNEST(sh)), 1, 15))::BIGINT
               % 2147483647 AS hv
      FROM sh_arr
    ), sig AS (
      SELECT doc_id,
             {MINHASH_COLS}
      FROM s GROUP BY doc_id
    ), bands AS (
      SELECT doc_id, 0 AS band,
             md5(h0::VARCHAR || '|' || h1::VARCHAR) AS bh FROM sig
      UNION ALL SELECT doc_id, 1,
             md5(h2::VARCHAR || '|' || h3::VARCHAR) FROM sig
      UNION ALL SELECT doc_id, 2,
             md5(h4::VARCHAR || '|' || h5::VARCHAR) FROM sig
      UNION ALL SELECT doc_id, 3,
             md5(h6::VARCHAR || '|' || h7::VARCHAR) FROM sig
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
      WHERE a.doc_id < b.doc_id
    ), truth AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh_arr a JOIN sh_arr b ON a.doc_id < b.doc_id
      WHERE LEN(list_intersect(a.sh, b.sh)) > 0
        AND 2 * LEN(list_intersect(a.sh, b.sh))
            >= 1 * (LEN(a.sh) + LEN(b.sh)
                    - LEN(list_intersect(a.sh, b.sh)))
    ), hits AS (
      SELECT t.id_a, t.id_b
      FROM truth t JOIN cand c ON c.id_a = t.id_a AND c.id_b = t.id_b
    ), m AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM cand)
               AS n_candidates,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM hits) AS n_hits
    )
    SELECT n_truth, n_candidates, n_hits,
           CASE WHEN n_truth = 0 THEN 1.0
                ELSE ROUND(CAST(n_hits AS DOUBLE)
                           / CAST(n_truth AS DOUBLE), 6) END AS recall,
           CASE WHEN n_candidates = 0 THEN 1.0
                ELSE ROUND(CAST(n_hits AS DOUBLE)
                           / CAST(n_candidates AS DOUBLE), 6)
                END AS precision
    FROM m
""".replace("{MINHASH_COLS}", _Q201_MINHASH_COLS)


@register("q201_minhash_recall_audit", _Q201_SQL)
def q201_minhash_recall_audit(spark, sf_dir):
    """MinHash-LSH quality evaluation (dedup.minhash_recall_audit) —
    the text-side sibling of q194's embedding recall audit: on the
    q193 document slice (doc_id 150-350), the 4x2-band candidate
    set from the exact q31/q32 production path scored against the
    exact-Jaccard >= 1/2 ground truth. Recall = what the bands miss;
    precision = how much verify work candidates waste — the two
    numbers that pick (bands, rows_per_band) before a corpus run.
    Engine-exact: truth is integer-decided (2*|inter| >= |union|),
    signatures/bands replay bit-for-bit (the q31/q32 oracle), counts
    are BIGINTs, ratios single divisions with a vacuous-1.0 rule on
    empty denominators.

    Scale shape: ground truth is all-pairs BY DESIGN and guarded to
    the bounded sample (raises past 10k docs); the candidate leg is
    the skew-free (band, hash) join; metrics fold as three 1-row
    aggregates."""
    from product_etl_spark.operators.dedup import minhash_recall_audit

    d = _t(spark, sf_dir, "documents").filter(
        (F.col("doc_id") >= 150) & (F.col("doc_id") < 350)
    )
    return minhash_recall_audit(
        d, "text", "doc_id", k=8, bands=4, shingle_n=2, t_num=1, t_den=2
    )


@register(
    "q202_ivf_recall_audit",
    """
    WITH dims AS (
      SELECT e.vec_id, d.pos, CAST(d.val AS DOUBLE) AS val
      FROM embeddings e,
           LATERAL (SELECT unnest(e.embedding) AS val,
                           generate_subscripts(e.embedding, 1) AS pos) d
    ), seeds AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS list_id, vec_id
      FROM embeddings ORDER BY vec_id LIMIT 8
    ), sdims AS (
      SELECT s.list_id, d.pos, d.val AS c
      FROM seeds s JOIN dims d ON d.vec_id = s.vec_id
    ), d0 AS (
      SELECT d.vec_id, s.list_id,
             SUM(CAST(ROUND((d.val - s.c) * (d.val - s.c), 9)
                      AS DECIMAL(18,9))) AS dist
      FROM dims d JOIN sdims s ON s.pos = d.pos
      GROUP BY d.vec_id, s.list_id
    ), a0 AS (
      SELECT vec_id, list_id FROM (
        SELECT vec_id, list_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dist, list_id) AS rn
        FROM d0) WHERE rn = 1
    ), q AS (
      SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 20
    ), qa AS (
      SELECT a0.vec_id AS query_id, a0.list_id
      FROM a0 JOIN q ON q.vec_id = a0.vec_id
    ), csz AS (
      SELECT list_id, CAST(COUNT(*) AS BIGINT) AS csz
      FROM a0 GROUP BY list_id
    ), exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT qe.vec_id AS query_id, ce.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY qe.vec_id
                 ORDER BY CASE WHEN
                     sqrt(list_dot_product(qe.embedding::DOUBLE[],
                                           qe.embedding::DOUBLE[]))
                   * sqrt(list_dot_product(ce.embedding::DOUBLE[],
                                           ce.embedding::DOUBLE[])) = 0
                   THEN 0.0
                   ELSE list_dot_product(qe.embedding::DOUBLE[],
                                         ce.embedding::DOUBLE[])
                        / (sqrt(list_dot_product(qe.embedding::DOUBLE[],
                                                 qe.embedding::DOUBLE[]))
                         * sqrt(list_dot_product(ce.embedding::DOUBLE[],
                                                 ce.embedding::DOUBLE[])))
                   END DESC, ce.vec_id) AS rn
        FROM embeddings qe
        JOIN q ON q.vec_id = qe.vec_id
        JOIN embeddings ce ON ce.vec_id <> qe.vec_id
      ) WHERE rn <= 10
    ), hits AS (
      SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS n FROM exact e
      JOIN qa ON qa.query_id = e.query_id
      JOIN a0 nb ON nb.vec_id = e.neighbor_id
       AND nb.list_id = qa.list_id
      GROUP BY e.query_id
    )
    SELECT qa.query_id, qa.list_id,
           CAST(csz.csz - 1 AS BIGINT) AS n_candidates,
           CAST(COALESCE(h.n, 0) AS BIGINT) AS hits,
           CASE WHEN COALESCE(tn.n, 0) = 0 THEN 1.0
                ELSE ROUND(CAST(COALESCE(h.n, 0) AS DOUBLE)
                           / CAST(tn.n AS DOUBLE), 6) END AS recall
    FROM qa
    JOIN csz ON csz.list_id = qa.list_id
    LEFT JOIN hits h ON h.query_id = qa.query_id
    LEFT JOIN (SELECT query_id, COUNT(*) AS n FROM exact
               GROUP BY query_id) tn ON tn.query_id = qa.query_id
    """,
)
def q202_ivf_recall_audit(spark, sf_dir):
    """IVF nprobe=1 recall audit (similarity.ivf_recall_audit) — the
    cell-probe leg of the ANN evaluation triple (q194 sign-bit
    banding, q201 text MinHash-LSH): for the 20 lowest-id query
    vectors, the share of the exact cosine top-10 that lives in the
    query's own IVF cell, plus the cell's candidate count — the
    recall/fan-out trade a single-probe search pays, measured before
    trusting the index (q93/q115 build it; nothing measured it).
    Engine-exact: the cell assignment replays with the q189
    exact-decimal L2 argmin, the top-k uses the shared fixed-order
    IEEE cosine, counts are BIGINTs, recall is one division.

    Scale shape: map-only assignment checkpointed once (feeds query
    and candidate legs), ground truth only on the bounded query
    sample, candidate counts one vocabulary-bounded aggregate."""
    from product_etl_spark.operators.similarity import ivf_recall_audit

    e = _t(spark, sf_dir, "embeddings")
    return ivf_recall_audit(
        e, "embedding", "vec_id", n_cells=8, n_queries=20, k=10
    )


@register(
    "q203_association_rules",
    """
    WITH b AS (
      SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem
    ), n AS (
      SELECT CAST(COUNT(DISTINCT bk) AS BIGINT) AS nb FROM b
    ), items AS (
      SELECT it, CAST(COUNT(*) AS BIGINT) AS ni FROM b GROUP BY it
    ), pairs AS (
      SELECT a.it AS item_a, c.it AS item_b,
             CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM b a JOIN b c ON a.bk = c.bk AND a.it < c.it
      GROUP BY a.it, c.it
      HAVING COUNT(*) >= 2
    )
    SELECT p.item_a, p.item_b, p.n_ab,
           ia.ni AS n_a, ib.ni AS n_b,
           ROUND(CAST(p.n_ab AS DOUBLE) / CAST(n.nb AS DOUBLE), 6)
             AS support,
           ROUND(CAST(p.n_ab AS DOUBLE) / CAST(ia.ni AS DOUBLE), 6)
             AS confidence_a_to_b,
           ROUND((CAST(p.n_ab AS DOUBLE) * CAST(n.nb AS DOUBLE))
                 / (CAST(ia.ni AS DOUBLE) * CAST(ib.ni AS DOUBLE)), 6)
             AS lift
    FROM pairs p
    JOIN items ia ON ia.it = p.item_a
    JOIN items ib ON ib.it = p.item_b
    CROSS JOIN n
    ORDER BY p.n_ab DESC, p.item_a, p.item_b
    LIMIT 20
    """,
)
def q203_association_rules(spark, sf_dir):
    """Market-basket association rules (basket.association_rules):
    top-20 co-purchased part pairs across orders with support,
    confidence and lift — the Apriori L2 surface; PMI's retail twin
    (q133) and the weighted view of the pair frame q141's triangles
    consume. Engine-exact: counts BIGINT, the three ratios
    single-op trees on exact-integer doubles, integer-decided
    ordering.

    Scale shape: the pair join is keyed on the ORDER id
    (O(sum basket^2), bounded by real basket sizes, never
    vocabulary^2); item/pair counts are map-side-combined groupBys;
    the basket total folds as a broadcast 1-row aggregate; top-N is
    TakeOrderedAndProject."""
    from product_etl_spark.operators.basket import association_rules

    li = _t(spark, sf_dir, "lineitem")
    return association_rules(
        li, "l_orderkey", "l_partkey", min_pair_count=2, top_n=20
    )


@register(
    "q204_rfm_segments",
    """
    WITH cust AS (
      SELECT o_custkey AS ck,
             MAX(o_orderdate) AS last_ts,
             CAST(COUNT(*) AS BIGINT) AS freq,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS mon
      FROM orders GROUP BY o_custkey
    ), n AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM cust
    ), rr AS (
      SELECT ck, ROW_NUMBER() OVER (ORDER BY last_ts DESC, ck) AS r
      FROM cust
    ), rf AS (
      SELECT ck, ROW_NUMBER() OVER (ORDER BY freq DESC, ck) AS r
      FROM cust
    ), rm AS (
      SELECT ck, ROW_NUMBER() OVER (ORDER BY mon DESC, ck) AS r
      FROM cust
    ), scored AS (
      SELECT c.ck, c.mon,
             6 - CAST(((rr.r - 1) * 5) // n.n + 1 AS INT) AS r_score,
             6 - CAST(((rf.r - 1) * 5) // n.n + 1 AS INT) AS f_score,
             6 - CAST(((rm.r - 1) * 5) // n.n + 1 AS INT) AS m_score
      FROM cust c
      JOIN rr ON rr.ck = c.ck
      JOIN rf ON rf.ck = c.ck
      JOIN rm ON rm.ck = c.ck
      CROSS JOIN n
    )
    SELECT r_score, f_score, m_score,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(CAST(SUM(mon) AS DOUBLE), 2) AS total_monetary
    FROM scored
    GROUP BY r_score, f_score, m_score
    ORDER BY r_score, f_score, m_score
    """,
)
def q204_rfm_segments(spark, sf_dir):
    """RFM customer segmentation (segmentation.rfm_segments): the
    classic recency/frequency/monetary quintile report — one row per
    populated (r, f, m) segment with customer count and exact-
    decimal spend. Engine-exact: every score is an integer-decided
    rank (ties by customer key) pushed through the shared
    ((rank-1)*5) DIV n bucket rule; monetary sums as DECIMAL(18,2)
    (order-free) and surfaces as a rounded double.

    Scale shape: one orders groupBy(customer); each quintile rides
    linkage.global_sort_ranks (range repartition + offsets — the
    oracle's ROW_NUMBER OVER (ORDER BY) is exactly the single-task
    window shape this avoids); the report is bounded by 125
    segments."""
    from product_etl_spark.operators.segmentation import rfm_segments

    o = _t(spark, sf_dir, "orders")
    return rfm_segments(o)


@register(
    "q205_cusum_changepoint",
    """
    WITH observed AS (
      SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY CAST(ts AS DATE)
    ), span AS (
      SELECT MIN(day) AS lo, MAX(day) AS hi FROM observed
    ), alldays AS (
      SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY))
                  AS DATE) AS day
      FROM span
    ), daily AS (
      SELECT a.day, CAST(COALESCE(o.n, 0) AS BIGINT) AS n_events
      FROM alldays a LEFT JOIN observed o ON o.day = a.day
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS d,
             CAST(SUM(n_events) AS BIGINT) AS n
      FROM daily
    ), cur AS (
      SELECT day, n_events,
             CAST(SUM(t.d * n_events - t.n) OVER (ORDER BY day)
                  AS BIGINT) AS cusum
      FROM daily CROSS JOIN tot t
    ), r AS (
      SELECT day, n_events, cusum,
             ROW_NUMBER() OVER (ORDER BY ABS(cusum) DESC, day) AS rk
      FROM cur
    )
    SELECT day, n_events, cusum,
           CAST(CASE WHEN rk = 1 THEN 1 ELSE 0 END AS INT) AS is_peak
    FROM r ORDER BY day
    """,
)
def q205_cusum_changepoint(spark, sf_dir):
    """CUSUM changepoint localization (timeseries.cusum_changepoint,
    Page 1954) on the daily event-rate series: S_t = sum(D*n_i - N)
    stays an exact BIGINT (the mean is multiplied through, never a
    float), |S| peaks at the most likely level shift. The WHEN
    companion to the drift monitors' THAT (PSI q139, KS q148).
    Engine-exact: every statistic is an integer; the peak flag is an
    integer-decided rank.

    Scale shape: one day-keyed map-side-combined groupBy is the only
    corpus-sized work; totals broadcast as one row; the cumulative
    window and peak rank run over the #days-bounded curve."""
    from product_etl_spark.operators.timeseries import cusum_changepoint

    ev = _t(spark, sf_dir, "events")
    return cusum_changepoint(ev, "ts")


@register(
    "q206_crossfold_kn_scores",
    r"""
    WITH f AS (
      SELECT doc_id, text,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
               ::BIGINT % 3 AS fold
      FROM documents
    ), tok AS (
      SELECT doc_id, fold,
             list_filter(string_split_regex(LOWER(COALESCE(text,'')),
                                            '\s+'),
                         x -> x <> '') AS toks
      FROM f
    ), bb AS (
      SELECT doc_id, fold, b.w1 AS w1, b.w2 AS w2
      FROM (
        SELECT doc_id, fold,
               UNNEST(CASE WHEN LEN(toks) < 2 THEN []
                    ELSE [struct_pack(w1 := toks[i], w2 := toks[i+1])
                          FOR i IN RANGE(1, LEN(toks))] END) AS b
        FROM tok
      )
    ), pairs AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS pn
      FROM bb WHERE fold <> 0 GROUP BY w1, w2
    ), ctx AS (
      SELECT w1, CAST(SUM(pn) AS BIGINT) AS cw1,
             CAST(COUNT(*) AS BIGINT) AS n_follow
      FROM pairs GROUP BY w1
    ), cont AS (
      SELECT w2, CAST(COUNT(*) AS BIGINT) AS n_cont
      FROM pairs GROUP BY w2
    ), nbt AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nb FROM pairs
    ), scored AS (
      SELECT t.doc_id,
             CAST(ROUND(-LN(
               CASE WHEN p.pn IS NOT NULL THEN
                 (CAST(p.pn AS DOUBLE) - 0.75) / CAST(c.cw1 AS DOUBLE)
                 + ((0.75 * CAST(c.n_follow AS DOUBLE))
                    / CAST(c.cw1 AS DOUBLE))
                   * (CAST(o.n_cont AS DOUBLE) / CAST(n.nb AS DOUBLE))
               WHEN c.cw1 IS NOT NULL THEN
                 ((0.75 * CAST(c.n_follow AS DOUBLE))
                  / CAST(c.cw1 AS DOUBLE))
                 * (CAST(COALESCE(o.n_cont, 0) + 1 AS DOUBLE)
                    / CAST(n.nb + 1 AS DOUBLE))
               ELSE
                 CAST(COALESCE(o.n_cont, 0) + 1 AS DOUBLE)
                 / CAST(n.nb + 1 AS DOUBLE)
               END), 9) AS DECIMAL(18,9)) AS term
      FROM bb t
      LEFT JOIN pairs p ON p.w1 = t.w1 AND p.w2 = t.w2
      LEFT JOIN ctx c ON c.w1 = t.w1
      LEFT JOIN cont o ON o.w2 = t.w2
      CROSS JOIN nbt n
      WHERE t.fold = 0
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(CAST(SUM(term) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 4)
             AS avg_nll
    FROM scored GROUP BY doc_id
    """,
)
def q206_crossfold_kn_scores(spark, sf_dir):
    """Leakage-safe LM quality scoring (collocations.kneser_ney_score
    + the q183 portable fold split): a Kneser-Ney bigram LM trained
    on folds 1-2 scores every fold-0 document by average negative
    log-likelihood — the cross-validated upgrade of q113's add-one
    filter, whose model sees the very documents it scores. Backoff:
    full KN for seen bigrams, lambda(w1) x add-one continuation for
    seen-context-only, add-one continuation alone for unseen
    contexts. Engine-exact: each -ln term is ROUND(.,9)->DECIMAL so
    per-doc sums are order-free, the average is one division, and
    every CASE branch is the identical expression tree the oracle
    replays.

    Scale shape: model tables are train-side vocabulary-bounded
    groupBys; scoring joins test bigram ROWS on the bigram/word keys
    (AQE skew for stop-word heads); NB broadcasts; one per-doc
    groupBy ends it."""
    from product_etl_spark.functions.text import hash64
    from product_etl_spark.operators.collocations import kneser_ney_score

    d = _t(spark, sf_dir, "documents")
    fold = F.pmod(hash64(F.col("doc_id").cast("string")), F.lit(3))
    train = d.filter(fold != 0)
    test = d.filter(fold == 0)
    return kneser_ney_score(train, test, "text", "doc_id", discount=0.75)


@register(
    "q207_kaplan_meier_churn",
    """
    WITH days AS (
      SELECT user_id AS u, CAST(ts AS DATE) AS d FROM events
    ), per_user AS (
      SELECT u, MIN(d) AS firstd, MAX(d) AS lastd FROM days GROUP BY u
    ), e AS (
      SELECT MAX(lastd) AS endd FROM per_user
    ), lf AS (
      SELECT CAST(lastd - firstd AS BIGINT) AS t,
             CASE WHEN (e.endd - lastd) >= 1 THEN 1 ELSE 0 END AS evt
      FROM per_user CROSS JOIN e
    ), g AS (
      SELECT t, CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(evt) AS BIGINT) AS d_evt
      FROM lf GROUP BY t
    ), tot AS (
      SELECT CAST(SUM(m) AS BIGINT) AS tot FROM g
    ), cur AS (
      SELECT t, m, d_evt,
             tot.tot - CAST(SUM(m) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) + m AS n
      FROM g CROSS JOIN tot
    ), terms AS (
      SELECT t, m, d_evt, n,
             SUM(CASE WHEN d_evt < n THEN
                   CAST(ROUND(LN(1.0 - CAST(d_evt AS DOUBLE)
                                 / CAST(n AS DOUBLE)), 9)
                        AS DECIMAL(18,9))
                 END) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS lnsum,
             MAX(CASE WHEN d_evt >= n THEN 1 ELSE 0 END)
               OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS dead
      FROM cur
    )
    SELECT t, n AS n_at_risk, d_evt AS n_events,
           CAST(m - d_evt AS BIGINT) AS n_censored,
           CASE WHEN dead = 1 THEN 0.0
                ELSE ROUND(EXP(CAST(COALESCE(lnsum, 0) AS DOUBLE)), 6)
                END AS survival
    FROM terms ORDER BY t
    """,
)
def q207_kaplan_meier_churn(spark, sf_dir):
    """Kaplan-Meier churn curve (timeseries.kaplan_meier) over user
    lifetimes in the events stream, censoring users still active on
    the final observed day — the survival-analysis rung above
    q98's cohort grid (which silently treats unobserved-as-churned).
    Engine-exact: risk sets and event counts are integers; each
    ln(1 - d/n) term rounds to 1e-9 and sums as DECIMAL (order-free);
    survival is one exp + round; the extinction row is an
    integer-decided flag.

    Scale shape: one user-keyed groupBy is the only corpus-sized
    work; the lifetime curve is bounded by the observation window in
    days, so every window below it is a handful of rows."""
    from product_etl_spark.operators.timeseries import kaplan_meier

    ev = _t(spark, sf_dir, "events")
    return kaplan_meier(ev, "user_id", "ts", censor_last_days=1)


@register(
    "q208_unseen_vocabulary",
    r"""
    WITH tok AS (
      SELECT UNNEST(list_filter(
               string_split_regex(LOWER(COALESCE(text,'')), '\s+'),
               x -> x <> '')) AS tok
      FROM documents
    ), wc AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY tok
    ), m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS vocab,
             CAST(SUM(n) AS BIGINT) AS total_tokens,
             CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
             CAST(SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
      FROM wc
    )
    SELECT vocab, total_tokens, f1, f2,
           ROUND(CAST(vocab AS DOUBLE)
                 + CAST(f1 * (f1 - 1) AS DOUBLE)
                   / CAST(2 * (f2 + 1) AS DOUBLE), 4) AS chao1,
           ROUND(CAST(f1 AS DOUBLE) / CAST(total_tokens AS DOUBLE), 4)
             AS good_turing_p0
    FROM m
    """,
)
def q208_unseen_vocabulary(spark, sf_dir):
    """Unseen-vocabulary estimators (collocations.
    unseen_vocabulary_estimate): bias-corrected Chao1 richness and
    the Good-Turing missing mass from the singleton/doubleton
    profile — "how much vocabulary is still unseen", the estimation
    companion to Heaps' growth fit (q200) and the statistic that
    says whether dedup thresholds and vocab sizes tuned on this
    sample will hold on the next shard. Engine-exact: all counts
    integers, two single divisions, ROUND(.,4).

    Scale shape: one tokenize + vocabulary-bounded word groupBy,
    then a 1-row fold; nothing else."""
    from product_etl_spark.operators.collocations import (
        unseen_vocabulary_estimate,
    )

    d = _t(spark, sf_dir, "documents")
    return unseen_vocabulary_estimate(d, "text")


@register(
    "q209_mad_anomaly_days",
    """
    WITH observed AS (
      SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY CAST(ts AS DATE)
    ), span AS (
      SELECT MIN(day) AS lo, MAX(day) AS hi FROM observed
    ), daily AS (
      SELECT a.day, CAST(COALESCE(o.n, 0) AS BIGINT) AS n_events
      FROM (SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY))
                        AS DATE) AS day FROM span) a
      LEFT JOIN observed o ON o.day = a.day
    ), r1 AS (
      SELECT day, n_events,
             ROW_NUMBER() OVER (ORDER BY n_events, day) AS r,
             COUNT(*) OVER () AS cnt
      FROM daily
    ), m1 AS (
      SELECT CAST(CASE WHEN MAX(cnt) % 2 = 1 THEN MAX(n_events) * 2
                  ELSE SUM(n_events) END AS BIGINT) AS med2n
      FROM r1
      WHERE 2 * r = cnt OR 2 * r = cnt + 1 OR 2 * r = cnt + 2
    ), devs AS (
      SELECT day, n_events,
             CAST(ABS(2 * n_events - m1.med2n) AS BIGINT) AS dev2
      FROM daily CROSS JOIN m1
    ), r2 AS (
      SELECT day, dev2,
             ROW_NUMBER() OVER (ORDER BY dev2, day) AS r,
             COUNT(*) OVER () AS cnt
      FROM devs
    ), m2 AS (
      SELECT CAST(CASE WHEN MAX(cnt) % 2 = 1 THEN MAX(dev2) * 2
                  ELSE SUM(dev2) END AS BIGINT) AS med2d
      FROM r2
      WHERE 2 * r = cnt OR 2 * r = cnt + 1 OR 2 * r = cnt + 2
    )
    SELECT d.day, d.n_events, d.dev2,
           CAST(CASE WHEN 2 * d.dev2 > 3 * m2.med2d THEN 1 ELSE 0 END
                AS INT) AS is_anomaly
    FROM devs d CROSS JOIN m2
    ORDER BY d.day
    """,
)
def q209_mad_anomaly_days(spark, sf_dir):
    """Robust point-anomaly flags on the daily event-rate series
    (timeseries.mad_anomaly_days, |n - median| > 3*MAD): the
    outlier rule a single crazy day cannot poison — the
    point-anomaly companion to q205's CUSUM level shifts and the
    time-series sibling of q153's per-group MAD outliers.
    Engine-exact and float-free: DOUBLED order statistics keep the
    median and the MAD exact integers for any series length, and the
    flag is the integer cross-multiplication 2*dev > k*med2dev.

    Scale shape: one day-keyed groupBy, calendar densification, then
    two row_number medians over the #days-bounded curve — nothing
    corpus-sized past the scan."""
    from product_etl_spark.operators.timeseries import mad_anomaly_days

    ev = _t(spark, sf_dir, "events")
    return mad_anomaly_days(ev, "ts", k=3)


@register(
    "q210_weekday_uniformity",
    """
    WITH counts AS (
      SELECT isodow(CAST(ts AS DATE)) - 1 AS weekday,
             CAST(COUNT(*) AS BIGINT) AS o
      FROM events GROUP BY isodow(CAST(ts AS DATE)) - 1
    ), grid AS (
      SELECT g.weekday, CAST(COALESCE(c.o, 0) AS BIGINT) AS n_events
      FROM (SELECT UNNEST(RANGE(0, 7)) AS weekday) g
      LEFT JOIN counts c ON c.weekday = g.weekday
    ), tot AS (
      SELECT CAST(SUM(n_events) AS BIGINT) AS n FROM grid
    ), withdev AS (
      SELECT g.weekday, g.n_events,
             CAST((7 * g.n_events - t.n) * (7 * g.n_events - t.n)
                  AS BIGINT) AS dev_sq,
             t.n
      FROM grid g CROSS JOIN tot t
    ), m AS (
      SELECT CAST(SUM(dev_sq) AS BIGINT) AS s,
             CAST(MAX(n) AS BIGINT) AS nn
      FROM withdev
    )
    SELECT w.weekday, w.n_events, w.dev_sq,
           ROUND(CAST(m.s AS DOUBLE) / CAST(7 * m.nn AS DOUBLE), 6)
             AS chi2
    FROM withdev w CROSS JOIN m
    ORDER BY w.weekday
    """,
)
def q210_weekday_uniformity(spark, sf_dir):
    """Day-of-week load profile + chi-square uniformity statistic
    (timeseries.weekday_uniformity): is event traffic flat across
    ISO weekdays (chi2 ~ 6 under the null) or does the pipeline need
    weekday-aware capacity — the calendar-margin drift audit next to
    PSI (q139) and KS (q148). Engine-exact: the statistic folds to
    sum((7*o - N)^2) / (7N), so every term is an exact integer and
    the only float is one division; all 7 bins present even at zero.

    Scale shape: one weekday-keyed map-side-combined groupBy; a
    7-row literal grid; one broadcast 1-row fold."""
    from product_etl_spark.operators.timeseries import weekday_uniformity

    ev = _t(spark, sf_dir, "events")
    return weekday_uniformity(ev, "ts")


@register(
    "q211_seasonal_naive_backtest",
    """
    WITH observed AS (
      SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY CAST(ts AS DATE)
    ), span AS (
      SELECT MIN(day) AS lo, MAX(day) AS hi FROM observed
    ), daily AS (
      SELECT a.day, CAST(COALESCE(o.n, 0) AS BIGINT) AS n_events
      FROM (SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY))
                        AS DATE) AS day FROM span) a
      LEFT JOIN observed o ON o.day = a.day
    ), scored AS (
      SELECT n_events,
             LAG(n_events, 7) OVER (ORDER BY day) AS pred
      FROM daily
    ), m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(ABS(n_events - pred)) AS BIGINT) AS total_abs_err,
             CAST(SUM(n_events - pred) AS BIGINT) AS total_err,
             CAST(SUM((n_events - pred) * (n_events - pred)) AS BIGINT)
               AS sq
      FROM scored WHERE pred IS NOT NULL
    )
    SELECT n_days, total_abs_err, total_err,
           ROUND(CAST(total_abs_err AS DOUBLE)
                 / CAST(n_days AS DOUBLE), 6) AS mae,
           ROUND(CAST(total_err AS DOUBLE)
                 / CAST(n_days AS DOUBLE), 6) AS bias,
           ROUND(SQRT(CAST(sq AS DOUBLE) / CAST(n_days AS DOUBLE)), 6)
             AS rmse
    FROM m
    """,
)
def q211_seasonal_naive_backtest(spark, sf_dir):
    """Seasonal-naive forecast backtest (timeseries.
    seasonal_naive_backtest, period 7): MAE/bias/RMSE of predicting
    each day's event count with the same weekday last week — the
    baseline any forecasting model must beat, completing the
    event-rate analytics set (q205 WHEN it shifted, q209 WHICH days
    are anomalous, q210 HOW uneven the weekday load is, q211 HOW
    PREDICTABLE it is). Engine-exact: errors and their folds are
    exact integers over the densified calendar; mae/bias are single
    divisions, rmse one division + one correctly-rounded sqrt.

    Scale shape: one day-keyed groupBy; the lag and the 1-row fold
    run over the #days-bounded dense curve."""
    from product_etl_spark.operators.timeseries import (
        seasonal_naive_backtest,
    )

    ev = _t(spark, sf_dir, "events")
    return seasonal_naive_backtest(ev, "ts", period=7)
