"""Fourteenth extension catalog (q212+): round-12 additions — the
exact-decimal PCA Gram-moment pin (q213, operators/pca.pca_moments —
the driver-hashable sufficient-statistics surface the r11 verdict
asked for so the one remaining pytest-only numeric family gets a
hash row) and the suffix-automaton-free exact duplicated-substring
surface (q212, operators/suffixes — arbitrary-length cross-document
duplicated spans, upgrading the fixed-n gram approximation of
q147/q177 to the exact Lee et al. 2022 semantics).

Reference parity note: the reference (pandas+psycopg2 row loops,
ETL.py / main.py) computes none of this; these rows extend the
training-data-pipeline surface per the build brief.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from product_etl_spark.plans.catalog import _t, register


@register(
    "q213_pca_gram_moments",
    """
    WITH d AS (
      SELECT e.vec_id, u.pos - 1 AS pos,
             CAST(ROUND(CAST(u.val AS DOUBLE), 6) AS DECIMAL(18,6))
               AS val
      FROM embeddings e,
           LATERAL (SELECT unnest(e.embedding) AS val,
                           generate_subscripts(e.embedding, 1) AS pos) u
    )
    SELECT CAST(a.pos AS INT) AS i, CAST(b.pos AS INT) AS j,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(a.val) AS DOUBLE) AS s_i,
           CAST(SUM(b.val) AS DOUBLE) AS s_j,
           CAST(SUM(a.val * b.val) AS DOUBLE) AS gram
    FROM d a
    JOIN d b ON a.vec_id = b.vec_id AND a.pos <= b.pos
    WHERE a.val IS NOT NULL AND b.val IS NOT NULL
    GROUP BY a.pos, b.pos
    ORDER BY i, j
    """,
)
def q213_pca_gram_moments(spark, sf_dir):
    """PCA sufficient statistics as exact decimal Gram moments
    (pca.pca_moments): one row per upper-triangle dim pair with
    (n, s_i, s_j, gram). The mean (s_i / n on the diagonal rows) and
    the sample covariance ((gram - n * mean_i * mean_j) / (n - 1))
    reconstruct from this frame alone, so it is the entire input of
    a PCA eigendecomposition. The eigensolve isn't ANSI-expressible;
    its sufficient statistics are — the q102/q161 exact-moment recipe
    lifted to the Gram matrix.

    Engine-exact: inputs round to 6 dp then DECIMAL(18,6); products
    and sums stay exact decimals (order-free), one double cast at
    the surface; ordering integer-decided.

    Scale shape: PURE MAP (each vector expands its own 2080
    upper-triangle pair structs in one higher-order expression — no
    self-join) + one map-side-combined groupBy on dim(dim+1)/2 keys;
    output is dim-bounded, partials mergeable, so a 100 TB fit is
    one aggregate."""
    from product_etl_spark.operators.pca import pca_moments

    e = _t(spark, sf_dir, "embeddings")
    return pca_moments(e, "embedding", dim=64)


@register(
    "q212_suffix_duplicated_spans",
    r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(LOWER(COALESCE(text,'')), '\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ), g AS (
      SELECT doc_id, r.i - 1 AS pos,
             array_to_string(toks[r.i:r.i+7], ' ') AS gram
      FROM t, LATERAL (SELECT UNNEST(range(1, LEN(toks) - 6)) AS i) r
      WHERE LEN(toks) >= 8
    ), dupg AS (
      SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
    ), dp AS (
      SELECT g.doc_id, g.pos FROM g JOIN dupg USING (gram)
    ), isl AS (
      SELECT doc_id, pos,
             CASE WHEN pos > COALESCE(MAX(pos + 8) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
             THEN 1 ELSE 0 END AS nw
      FROM dp
    ), isl2 AS (
      SELECT doc_id, pos,
             SUM(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS isl_id
      FROM isl
    )
    SELECT doc_id,
           CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos + 7) - MIN(pos) + 1 AS BIGINT) AS span_len
    FROM isl2 GROUP BY doc_id, isl_id
    ORDER BY doc_id, span_start
    """,
)
def q212_suffix_duplicated_spans(spark, sf_dir):
    """EXACT cross-document duplicated spans
    (suffixes.suffix_duplicated_spans; Lee et al. 2022 ExactSubstr
    semantics): one row per MAXIMAL merged token interval
    (>= 8 tokens) shared verbatim with another document, with its
    TRUE arbitrary length — the upgrade over the fixed-n gram rung
    (q147 measures, q177 removes; this names the spans).

    The module's cover-equality contract is both the oracle and the
    implementation: a token lies in a shared span of >= 8 tokens
    exactly when an 8-token window covering it occurs in another
    document, so the merged islands of the shared 8-windows ARE the
    maximal spans, interval for interval. tests/test_suffixes.py pins
    the operator against a brute-force longest-shared-prefix model.

    Scale shape: one window-text aggregate (min/max doc id per
    8-window, map-side combine), one join back to the window
    positions, per-doc island windows over the duplicated positions
    only, and the ordered output — 6 Spark jobs at sf0.01, where the
    suffix-array construction it replaced took 15. No global sort of
    suffixes, no corpus^2, no single-task window."""
    from product_etl_spark.operators.suffixes import (
        suffix_duplicated_spans,
    )

    d = _t(spark, sf_dir, "documents")
    return suffix_duplicated_spans(d, "text", "doc_id", min_len=8)


@register(
    "q214_suffix_span_removal",
    r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(LOWER(COALESCE(text,'')), '\s+'),
                         x -> x <> '') AS ltoks,
             list_filter(string_split_regex(COALESCE(text,''), '\s+'),
                         x -> x <> '') AS otoks
      FROM documents
    ), g AS (
      SELECT doc_id, r.i - 1 AS pos,
             array_to_string(ltoks[r.i:r.i+7], ' ') AS gram
      FROM t, LATERAL (SELECT UNNEST(range(1, LEN(ltoks) - 6)) AS i) r
      WHERE LEN(ltoks) >= 8
    ), dupg AS (
      SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
    ), rem AS (
      SELECT DISTINCT g.doc_id, g.pos + d.o AS pos
      FROM g JOIN dupg USING (gram),
           LATERAL (SELECT UNNEST(range(0, 8)) AS o) d
    ), tokpos AS (
      SELECT doc_id, r.i - 1 AS pos, otoks[r.i] AS tok
      FROM t, LATERAL (SELECT UNNEST(range(1, LEN(otoks) + 1)) AS i) r
    ), kept AS (
      SELECT tp.doc_id, tp.pos, tp.tok
      FROM tokpos tp LEFT JOIN rem
        ON tp.doc_id = rem.doc_id AND tp.pos = rem.pos
      WHERE rem.pos IS NULL
    ), reb AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_clean,
             COUNT(*) AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           COALESCE(reb.text_clean, '') AS text_clean,
           LEN(t.otoks) AS n_tokens,
           CAST(LEN(t.otoks) - COALESCE(reb.n_kept, 0) AS BIGINT)
             AS n_removed
    FROM t LEFT JOIN reb USING (doc_id)
    """,
)
def q214_suffix_span_removal(spark, sf_dir):
    """Suffix-exact duplicated-span REMOVAL
    (suffixes.suffix_remove_duplicates): every token inside a
    cross-document shared span of >= 8 tokens excised from every
    document — the conservative boilerplate strip on TRUE suffix
    semantics, completing the suffix ladder (q212 names the spans,
    this removes them) beside the keeper-preserving gram rule
    (q177). The oracle replays the removed-position set as the
    8-gram covered union — the module's cover-equality contract — and
    the same original-case reconstruction as q177's tail.

    Scale shape: the q212 position frame plus one span-count-bounded
    groupBy and one doc-id join (dedup._excise_intervals)."""
    from product_etl_spark.operators.suffixes import (
        suffix_remove_duplicates,
    )

    d = _t(spark, sf_dir, "documents")
    return suffix_remove_duplicates(d, "text", "doc_id", min_len=8)


@register(
    "q215_suffix_decontam_coverage",
    r"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN doc_id % 50 = 0 THEN 'bench' ELSE 'corpus' END
               AS src,
             list_filter(string_split_regex(LOWER(COALESCE(text,'')), '\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ), g AS (
      SELECT doc_id, src, r.i - 1 AS pos,
             array_to_string(toks[r.i:r.i+5], ' ') AS gram
      FROM t, LATERAL (SELECT UNNEST(range(1, LEN(toks) - 4)) AS i) r
      WHERE LEN(toks) >= 6
    ), bg AS (
      SELECT DISTINCT gram FROM g WHERE src = 'bench'
    ), dp AS (
      SELECT g.doc_id, g.pos FROM g JOIN bg USING (gram)
      WHERE g.src = 'corpus'
    ), isl AS (
      SELECT doc_id, pos,
             CASE WHEN pos > COALESCE(MAX(pos + 5) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
             THEN 1 ELSE 0 END AS nw
      FROM dp
    ), isl2 AS (
      SELECT doc_id, pos,
             SUM(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS isl_id
      FROM isl
    ), spans AS (
      SELECT doc_id, isl_id, MAX(pos + 5) - MIN(pos) + 1 AS len
      FROM isl2 GROUP BY doc_id, isl_id
    ), cov AS (
      SELECT doc_id, CAST(SUM(len) AS BIGINT) AS c
      FROM spans GROUP BY doc_id
    )
    SELECT t.doc_id,
           LEN(t.toks) AS n_tokens,
           COALESCE(cov.c, 0) AS contaminated,
           CASE WHEN LEN(t.toks) <= 0 THEN 0.0
                ELSE ROUND(COALESCE(cov.c, 0)::DOUBLE
                           / LEN(t.toks)::DOUBLE, 4)
           END AS coverage
    FROM t LEFT JOIN cov USING (doc_id)
    WHERE t.src = 'corpus'
    ORDER BY t.doc_id
    """,
)
def q215_suffix_decontam_coverage(spark, sf_dir):
    """TRUE-SPAN benchmark decontamination
    (suffixes.suffix_shared_span_coverage): per corpus document, the
    fraction of tokens inside verbatim spans of >= 6 tokens shared
    with the held-out benchmark set (every 50th doc, the q112
    split) — the exact-span upgrade of q112's fixed 5-gram collision
    flag. Same-color duplication is invisible by construction: a
    corpus doc copying another corpus doc is dedup's business
    (q212), not contamination — a 6-window counts only when its
    min and max source differ.

    The oracle replays the covered set as the cross-source
    duplicated 6-gram cover; by the module's cover-equality contract,
    color-generalized, that is exactly the operator's cover.

    Scale shape: q212's gate with the source as the window key — one
    window-text aggregate taking min/max of struct(isnull(src), src)
    (NULL is one source), one join back, per-doc island windows, one
    doc-id join for the coverage. Benchmark sets are MBs against a
    100 TB corpus; nothing here is corpus x benchmark."""
    from product_etl_spark.operators.suffixes import (
        suffix_shared_span_coverage,
    )

    d = _t(spark, sf_dir, "documents")
    tagged = d.withColumn(
        "src",
        F.when(F.col("doc_id") % 50 == 0, F.lit("bench")).otherwise(
            F.lit("corpus")
        ),
    )
    return (
        suffix_shared_span_coverage(
            tagged, "text", "doc_id", "src", min_len=6
        )
        .filter(F.col("color") == "corpus")
        .select(
            "doc_id",
            "n_tokens",
            F.col("covered").alias("contaminated"),
            "coverage",
        )
        .orderBy("doc_id")
    )


@register(
    "q216_suffix_decontam_removal",
    r"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN doc_id % 50 = 0 THEN 'bench' ELSE 'corpus' END
               AS src,
             list_filter(string_split_regex(LOWER(COALESCE(text,'')), '\s+'),
                         x -> x <> '') AS ltoks,
             list_filter(string_split_regex(COALESCE(text,''), '\s+'),
                         x -> x <> '') AS otoks
      FROM documents
    ), g AS (
      SELECT doc_id, src, r.i - 1 AS pos,
             array_to_string(ltoks[r.i:r.i+5], ' ') AS gram
      FROM t, LATERAL (SELECT UNNEST(range(1, LEN(ltoks) - 4)) AS i) r
      WHERE LEN(ltoks) >= 6
    ), bg AS (
      SELECT DISTINCT gram FROM g WHERE src = 'bench'
    ), rem AS (
      SELECT DISTINCT g.doc_id, g.pos + d.o AS pos
      FROM g JOIN bg USING (gram),
           LATERAL (SELECT UNNEST(range(0, 6)) AS o) d
      WHERE g.src = 'corpus'
    ), tokpos AS (
      SELECT doc_id, r.i - 1 AS pos, otoks[r.i] AS tok
      FROM t, LATERAL (SELECT UNNEST(range(1, LEN(otoks) + 1)) AS i) r
      WHERE src = 'corpus'
    ), kept AS (
      SELECT tp.doc_id, tp.pos, tp.tok
      FROM tokpos tp LEFT JOIN rem
        ON tp.doc_id = rem.doc_id AND tp.pos = rem.pos
      WHERE rem.pos IS NULL
    ), reb AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_clean,
             COUNT(*) AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           COALESCE(reb.text_clean, '') AS text_clean,
           LEN(t.otoks) AS n_tokens,
           CAST(LEN(t.otoks) - COALESCE(reb.n_kept, 0) AS BIGINT)
             AS n_removed
    FROM t LEFT JOIN reb USING (doc_id)
    WHERE t.src = 'corpus'
    """,
)
def q216_suffix_decontam_removal(spark, sf_dir):
    """Benchmark-contamination REMOVAL on exact suffix semantics
    (suffixes.suffix_remove_contaminated): every corpus token inside
    a verbatim span of >= 6 tokens shared with the held-out
    benchmark (the q112 %%50 split) is excised; benchmark documents
    pass through untouched. Completes the decontamination ladder —
    q112 flags gram collisions, q215 measures true-span coverage,
    this removes it — beside the dedup removal twins (q177 gram
    keeper rule, q214 suffix strip).

    The oracle replays the removed set as the cross-source 6-gram
    cover (the color-generalized cover-equality contract) with the
    q177/q214 original-case reconstruction tail.

    Scale shape: the q215 position frame plus one span-count-bounded
    groupBy and one doc-id join (dedup._excise_intervals)."""
    from product_etl_spark.operators.suffixes import (
        suffix_remove_contaminated,
    )

    d = _t(spark, sf_dir, "documents")
    tagged = d.withColumn(
        "src",
        F.when(F.col("doc_id") % 50 == 0, F.lit("bench")).otherwise(
            F.lit("corpus")
        ),
    )
    return suffix_remove_contaminated(
        tagged, "text", "doc_id", "src", "corpus", min_len=6
    )
