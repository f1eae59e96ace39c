"""Twelfth extension catalog (q177+): round-10 additions — the
exact-substring dedup REMOVAL rungs (q177 cross-doc / q178 within-doc,
completing the q29 whole-doc / q136 paragraph / q147 coverage-flag
ladder with actual excision), the l-diversity release gate (q179),
and contrastive hard-negative mining (q180, post-freeze r11 queue).

Every entry keeps the repo invariants: identical column names/aliases
between the Spark plan and the DuckDB oracle, integer-decided ranks,
decimal sums surfaced as DOUBLE/BIGINT only (never Decimal), and a
`Scale shape:` audit in each docstring.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from product_etl_spark.plans.catalog import (
    _MINHASH_ORACLE_COLS,
    _SHINGLE_CTE,
    _t,
    register,
)


@register(
    "q177_duplicate_span_excision",
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
             array_to_string(ltoks[r.i:r.i+4], ' ') AS gram
      FROM t, LATERAL (SELECT UNNEST(range(1, LEN(ltoks) - 3)) AS i) r
      WHERE LEN(ltoks) >= 5
    ), dupg AS (
      SELECT gram, MIN(doc_id) AS keep
      FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
    ), rem AS (
      SELECT DISTINCT g.doc_id, g.pos + d.o AS pos
      FROM g JOIN dupg ON g.gram = dupg.gram AND g.doc_id <> dupg.keep,
           LATERAL (SELECT UNNEST(range(0, 5)) AS o) d
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
def q177_duplicate_span_excision(spark, sf_dir):
    """Exact-substring dedup END-TO-END (operators/dedup.
    remove_duplicate_spans; Lee et al. 2022): excise every maximal
    cross-document duplicated 5-gram span, keeping the lowest-id
    document's copy canonical — the REMOVAL rung completing the
    verbatim-repetition ladder (q29 whole-doc, q136 within-doc
    paragraphs, q147 flags coverage, this excises). Token positions
    covered by a duplicated non-keeper gram are dropped; text_clean
    is the surviving original-case tokens (whitespace normalizes,
    token count exact).

    Scale shape: one gram-keyed groupBy (map-side combine,
    vocab-shaped after), equi-join back that only duplicated
    occurrences survive, n-bounded sequence explode, one
    (id,pos)-keyed anti-join, one doc-sized per-doc groupBy. No
    self-join, no corpus-wide window; pytest pins equivalence with a
    brute-force reference on seeded random corpora
    (tests/test_span_excision.py)."""
    from product_etl_spark.operators.dedup import remove_duplicate_spans

    d = _t(spark, sf_dir, "documents")
    return remove_duplicate_spans(d, "text", "doc_id", n=5, min_df=2)


@register(
    "q178_selfrep_span_excision",
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
             array_to_string(ltoks[r.i:r.i+4], ' ') AS gram
      FROM t, LATERAL (SELECT UNNEST(range(1, LEN(ltoks) - 3)) AS i) r
      WHERE LEN(ltoks) >= 5
    ), rep AS (
      SELECT doc_id, gram, MIN(pos) AS first
      FROM g GROUP BY doc_id, gram HAVING COUNT(*) >= 2
    ), occ AS (
      SELECT g.doc_id, g.pos, rep.first
      FROM g JOIN rep ON g.doc_id = rep.doc_id AND g.gram = rep.gram
    ), ca AS (
      SELECT DISTINCT doc_id, pos + d.o AS pos
      FROM occ, LATERAL (SELECT UNNEST(range(0, 5)) AS o) d
    ), cf AS (
      SELECT DISTINCT doc_id, pos + d.o AS pos
      FROM occ, LATERAL (SELECT UNNEST(range(0, 5)) AS o) d
      WHERE occ.pos = occ.first
    ), rem AS (
      SELECT ca.doc_id, ca.pos
      FROM ca LEFT JOIN cf ON ca.doc_id = cf.doc_id AND ca.pos = cf.pos
      WHERE cf.pos IS NULL
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
def q178_selfrep_span_excision(spark, sf_dir):
    """WITHIN-document repeated-span excision (operators/dedup.
    remove_repeated_spans_within_doc): for every 5-gram a document
    repeats, the FIRST occurrence survives and later occurrences are
    excised (a token goes iff covered only by non-first occurrences —
    so an overlapping run collapses to exactly one canonical copy).
    The removal rung for q144's dup_ngram_fraction flag; catches
    sub-paragraph self-repetition q136's paragraph dedup misses.

    Scale shape: everything keyed by doc id — one (id, gram) groupBy
    (map-side combine), join back on (id, gram), n-bounded explodes,
    (id,pos) anti-joins, doc-sized reconstruction. NO cross-document
    shuffle; pytest pins equivalence with a brute-force reference
    (tests/test_span_excision.py)."""
    from product_etl_spark.operators.dedup import (
        remove_repeated_spans_within_doc,
    )

    d = _t(spark, sf_dir, "documents")
    return remove_repeated_spans_within_doc(d, "text", "doc_id", n=5)


@register(
    "q179_l_diversity_audit",
    """
    SELECT c_nationkey, c_mktsegment,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT CAST(FLOOR(CAST(c_acctbal AS DOUBLE) / 1000.0)
                               AS INT)) AS n_sensitive
    FROM customer
    GROUP BY 1, 2
    HAVING COUNT(DISTINCT CAST(FLOOR(CAST(c_acctbal AS DOUBLE) / 1000.0)
                               AS INT)) < 8
    """,
)
def q179_l_diversity_audit(spark, sf_dir):
    """l-diversity audit (operators/privacy.l_diversity_report) —
    the companion gate to q140's k-anonymity: a quasi-identifier
    group can be large (k-anonymous) yet still leak if everyone in
    it shares the same sensitive value. Here: (nation, segment)
    groups whose members' balance bands take fewer than l=8 distinct
    values — homogeneous groups an attacker can infer a member's
    band from. Empty result == the release is l-diverse.

    Scale shape: ONE groupBy over the quasi-identifiers with a
    distinct-count (partial aggregation map-side); the report is
    quasi-space-bounded, never corpus-bounded."""
    from product_etl_spark.operators.privacy import l_diversity_report

    cu = _t(spark, sf_dir, "customer").withColumn(
        "acctbal_band",
        F.floor(F.col("c_acctbal").cast("double") / F.lit(1000.0)).cast(
            "int"
        ),
    )
    return l_diversity_report(
        cu, ["c_nationkey", "c_mktsegment"], "acctbal_band", l=8
    )


@register(
    "q180_hard_negative_pairs",
    _SHINGLE_CTE
    + f"""
    , sig AS (
      SELECT doc_id,
             {_MINHASH_ORACLE_COLS}
      FROM s GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, 0 AS band, md5(h0::VARCHAR || '|' || h1::VARCHAR) AS bh FROM sig
      UNION ALL SELECT doc_id, 1, md5(h2::VARCHAR || '|' || h3::VARCHAR) FROM sig
      UNION ALL SELECT doc_id, 2, md5(h4::VARCHAR || '|' || h5::VARCHAR) FROM sig
      UNION ALL SELECT doc_id, 3, md5(h6::VARCHAR || '|' || h7::VARCHAR) FROM sig
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
      WHERE a.doc_id < b.doc_id
    ),
    shd AS (SELECT doc_id, UNNEST(sh) AS shingle FROM sh_arr),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS ni
      FROM cand c
      JOIN shd a ON a.doc_id = c.id_a
      JOIN shd b ON b.doc_id = c.id_b AND b.shingle = a.shingle
      GROUP BY c.id_a, c.id_b
    ),
    scored AS (
      SELECT c.id_a, c.id_b, COALESCE(i.ni, 0) AS ni,
             sa.n + sb.n - COALESCE(i.ni, 0) AS un
      FROM cand c
      LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
      JOIN sizes sa ON sa.doc_id = c.id_a
      JOIN sizes sb ON sb.doc_id = c.id_b
      WHERE 10 * COALESCE(i.ni, 0) < 3 * (sa.n + sb.n - COALESCE(i.ni, 0))
    ),
    ranked AS (
      SELECT id_a, id_b, ROUND(ni::DOUBLE / un::DOUBLE, 4) AS jaccard,
             ROW_NUMBER() OVER (
               PARTITION BY id_a
               ORDER BY ROUND(ni::DOUBLE / un::DOUBLE, 4), id_b
             ) AS rank
      FROM scored
    )
    SELECT id_a, id_b, jaccard, rank FROM ranked WHERE rank <= 3
    """,
)
def q180_hard_negative_pairs(spark, sf_dir):
    """Contrastive hard-negative mining (operators/dedup.
    hard_negative_pairs): pairs LSH banding proposes as candidates
    (q32's machinery — textually adjacent enough to collide on a
    full minhash band) whose EXACT shingle Jaccard verifies below
    3/10 — near-miss pairs a contrastive retrieval/embedding trainer
    wants as negatives (informative, yet provably not latent
    positives). Per anchor, the 3 hardest (lowest exact Jaccard,
    ties by neighbor id).

    Determinism: md5 minhash banding, integer cross-multiplied
    ceiling (10*inter < 3*union), ONE IEEE division rounded to 4dp,
    rank ordered by the ROUNDED value in both engines.

    Scale shape: skew-free (band, band-hash) candidate join; exact
    verify touches ONLY candidates (cand equi-joins the shingle frame
    on anchor id, then (shingle, neighbor)); zero-intersection
    band-collisions survive via left join (the hardest negatives);
    one per-anchor window over candidate rows. Registered after the
    r10 window froze; leads the r11 queue."""
    from product_etl_spark.operators.dedup import hard_negative_pairs

    d = _t(spark, sf_dir, "documents")
    return hard_negative_pairs(d, "text", "doc_id")


@register(
    "q181_sorted_neighborhood_pairs",
    """
    WITH ranked AS (
      SELECT p_partkey, p_name,
             ROW_NUMBER() OVER (ORDER BY LOWER(p_name), p_partkey) AS rnk
      FROM part
    )
    SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           a.rnk AS rank_a, b.rnk AS rank_b,
           levenshtein(a.p_name, b.p_name) AS dist
    FROM ranked a JOIN ranked b
      ON b.rnk BETWEEN a.rnk + 1 AND a.rnk + 3
    """,
)
def q181_sorted_neighborhood_pairs(spark, sf_dir):
    """Sorted-neighborhood blocking (operators/linkage.
    sorted_neighborhood_pairs; Hernández–Stolfo SNM): rank parts by
    the fuzzy sort key lower(p_name) and pair each record with its 3
    rank-successors — the entity-resolution complement to equality
    blocking (q137): a typo that breaks every exact block key usually
    moves a record only a few rank positions. Levenshtein on each
    pair (exact integer, engine-portable) is the match score.

    Scale shape: global ranks WITHOUT the single-task global window —
    `global_sort_ranks` range-partitions on the sort key, runs
    per-partition row_number windows in parallel, and adds
    partition-count offsets (a num-partitions-sized collect broadcast
    back as a literal map). The neighbor join is rank against an
    exploded rank+1..rank+3 — window-bounded fan-out, skew-free
    integer keys, O(n*w) work. The oracle's ROW_NUMBER() OVER (ORDER
    BY ...) is the single-task shape this operator exists to avoid."""
    from product_etl_spark.operators.linkage import (
        sorted_neighborhood_pairs,
    )

    p = _t(spark, sf_dir, "part")
    pairs = sorted_neighborhood_pairs(
        p,
        "p_partkey",
        F.lower(F.col("p_name")),
        window=3,
        carry_cols=["p_name"],
    )
    return pairs.select(
        "id_a",
        "id_b",
        "rank_a",
        "rank_b",
        F.levenshtein(F.col("p_name_a"), F.col("p_name_b")).alias("dist"),
    )


@register(
    "q182_k_anonymity_suppression",
    """
    WITH banded AS (
      SELECT c_custkey, c_nationkey, c_mktsegment,
             CAST(FLOOR(CAST(c_acctbal AS DOUBLE) / 2000.0) AS INT)
               AS acctbal_band
      FROM customer
    ), counted AS (
      SELECT *, COUNT(*) OVER (
        PARTITION BY c_nationkey, c_mktsegment, acctbal_band
      ) AS n FROM banded
    )
    SELECT c_custkey,
           CASE WHEN n >= 3 THEN c_nationkey END AS c_nationkey,
           CASE WHEN n >= 3 THEN c_mktsegment END AS c_mktsegment,
           CASE WHEN n >= 3 THEN acctbal_band END AS acctbal_band,
           n < 3 AS suppressed
    FROM counted
    """,
)
def q182_k_anonymity_suppression(spark, sf_dir):
    """k-anonymization BY SUPPRESSION (operators/privacy.
    suppress_risky_groups) — the FIX to q140's flag: rows whose
    (nation, segment, balance-band) combination has fewer than k=3
    members get all three quasi columns NULLed; everything else
    passes through. Same row count, k-anonymous by construction,
    `suppressed` flag for the release audit.

    Scale shape: ONE quasi-keyed groupBy (map-side combine,
    quasi-space-bounded) broadcast back onto the frame — the release
    is never windowed or double-scanned (the oracle's COUNT() OVER
    is the shape avoided)."""
    from product_etl_spark.operators.privacy import suppress_risky_groups

    cu = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal").cast("double") / F.lit(2000.0))
        .cast("int")
        .alias("acctbal_band"),
    )
    return suppress_risky_groups(
        cu, ["c_nationkey", "c_mktsegment", "acctbal_band"], k=3
    )


@register(
    "q183_kfold_assignment",
    """
    WITH folds AS (
      SELECT ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT
               % 5 AS fold,
             c_mktsegment, c_acctbal
      FROM customer
    )
    SELECT fold,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT c_mktsegment) AS n_segments,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_acctbal
    FROM folds GROUP BY fold
    """,
)
def q183_kfold_assignment(spark, sf_dir):
    """Deterministic k-fold assignment + balance audit (completing
    the split family: q61 train/test, q62 stratified cap, q63 source
    mixing): fold = md5-hash(key) mod 5 — reproducible on any engine,
    stable under re-runs and appends (a row's fold never changes), so
    cross-validation folds computed today match folds computed on a
    replica tomorrow. The audit row per fold (count, segment
    diversity, exact decimal mass) is what a training job checks
    before trusting the split.

    Scale shape: pure map (hash mod) + ONE groupBy(fold) with
    map-side combine; 5 result rows."""
    from product_etl_spark.functions.text import hash64

    cu = _t(spark, sf_dir, "customer")
    return (
        cu.select(
            F.pmod(hash64(F.col("c_custkey").cast("string")), F.lit(5)).alias(
                "fold"
            ),
            "c_mktsegment",
            "c_acctbal",
        )
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("c_mktsegment").alias("n_segments"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_acctbal"),
        )
    )


@register(
    "q184_woe_price_bins",
    """
    WITH base AS (
      SELECT o_totalprice AS v, o_orderkey AS tb,
             CAST(o_orderstatus = 'F' AS INT) AS pos
      FROM orders WHERE o_totalprice IS NOT NULL
    ), binned AS (
      SELECT pos, NTILE(10) OVER (ORDER BY v, tb) AS bin FROM base
    ), bins AS (
      SELECT bin, COUNT(*) AS n_rows, SUM(pos) AS n_pos,
             COUNT(*) - SUM(pos) AS n_neg
      FROM binned GROUP BY bin
    ), tot AS (
      SELECT SUM(n_pos) AS tp, SUM(n_neg) AS tn FROM bins
    )
    SELECT bin,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_pos AS BIGINT) AS n_pos,
           CAST(n_neg AS BIGINT) AS n_neg,
           ROUND(LN(((n_pos + 0.5) / (tp + 0.5))
                    / ((n_neg + 0.5) / (tn + 0.5))), 6) AS woe,
           ROUND(((n_pos + 0.5) / (tp + 0.5) - (n_neg + 0.5) / (tn + 0.5))
                 * LN(((n_pos + 0.5) / (tp + 0.5))
                      / ((n_neg + 0.5) / (tn + 0.5))), 6) AS iv_term
    FROM bins, tot
    """,
)
def q184_woe_price_bins(spark, sf_dir):
    """Weight-of-evidence binning (operators/importance.woe_binning):
    decile bins over order price, positive class = finished orders;
    per bin the Laplace-smoothed WOE and information-value term — the
    classic supervised scorecard transform a feature pipeline uses to
    encode continuous columns and rank features by IV.

    Scale shape: exact NTILE semantics WITHOUT NTILE's single-task
    global window — `global_sort_ranks` (range partition + parallel
    local windows + offset map) plus the integer remainder-to-front
    formula (rank-1)*k div N + 1, which reproduces NTILE bucket sizes
    bit-for-bit (the oracle runs real NTILE to prove it). One
    groupBy(bin) with map-side combine; totals broadcast as a 1-row
    frame; floats only at the ROUND(.,6) WOE surface (the
    q113/q133/q138 log policy)."""
    from product_etl_spark.operators.importance import woe_binning

    o = _t(spark, sf_dir, "orders")
    return woe_binning(
        o,
        "o_totalprice",
        F.col("o_orderstatus") == F.lit("F"),
        "o_orderkey",
        n_bins=10,
    )


@register(
    "q185_user_burstiness",
    """
    WITH g AS (
      SELECT user_id, event_id,
             epoch_us(ts) // 1000000
               - LAG(epoch_us(ts) // 1000000) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                 ) AS gap
      FROM events
    ), a AS (
      SELECT user_id, COUNT(*) AS n, SUM(gap) AS s,
             SUM(gap * gap) AS s2
      FROM g WHERE gap IS NOT NULL GROUP BY user_id
    )
    SELECT user_id,
           CAST(n + 1 AS BIGINT) AS n_events,
           ROUND(s::DOUBLE / n::DOUBLE, 6) AS mean_gap_s,
           ROUND(CASE WHEN s = 0 THEN 0.0
                 ELSE SQRT(GREATEST(s2::DOUBLE / n::DOUBLE
                           - (s::DOUBLE / n::DOUBLE)
                             * (s::DOUBLE / n::DOUBLE), 0.0))
                      / (s::DOUBLE / n::DOUBLE) END, 6) AS cv_gap
    FROM a WHERE n >= 2
    """,
)
def q185_user_burstiness(spark, sf_dir):
    """Inter-arrival burstiness per user (operators/timeseries.
    user_burstiness): coefficient of variation of a user's event
    gaps — the bot/spam curation signal (metronomic pollers have
    CV ~ 0, humans ~ 1, bursty sessions > 1). Gaps are whole seconds
    so the moment sums stay exact integers inside bigint; the only
    floats are fixed-order divisions/sqrt at the ROUND(.,6) surface.

    Scale shape: one user-partitioned LAG window (never global) +
    one map-side-combined groupBy(user) of three integer sums."""
    from product_etl_spark.operators.timeseries import user_burstiness

    e = _t(spark, sf_dir, "events")
    return user_burstiness(e, "user_id", "ts", min_events=3)


@register(
    "q186_next_event_pairs",
    """
    WITH w AS (
      SELECT user_id, event_id, event_type,
             COALESCE(STRING_AGG(event_type, ' ') OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING
             ), '') AS ctx
      FROM events
    )
    SELECT user_id, event_id, ctx, event_type AS label,
           LEN(string_split(ctx, ' ')) AS n_ctx
    FROM w WHERE ctx <> ''
    """,
)
def q186_next_event_pairs(spark, sf_dir):
    """Next-event training-pair extraction (operators/packing.
    next_event_training_pairs): for every event, the space-joined
    window of up to 3 preceding same-user event types is the model
    input and the event itself the label — the (context -> next)
    example construction every sequence-model data pipeline runs
    before tokenization/packing (q66 packs what this emits). Order
    totalised by (ts, event_id) so both engines emit identical
    context strings.

    Scale shape: ONE user-partitioned window with a bounded
    ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING frame — per-row state is
    k-bounded, no global window, no self-join."""
    from product_etl_spark.operators.packing import (
        next_event_training_pairs,
    )

    e = _t(spark, sf_dir, "events")
    return next_event_training_pairs(
        e, "user_id", "ts", "event_type", context=3
    )


@register(
    "q187_dedup_cluster_histogram",
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
    ), sizes AS (
      SELECT component, COUNT(*) AS size FROM comp GROUP BY component
    ), allsz AS (
      SELECT size FROM sizes
      UNION ALL
      SELECT 1 AS size FROM t
      WHERE doc_id NOT IN (SELECT node FROM comp)
    )
    SELECT size, CAST(COUNT(*) AS BIGINT) AS n_clusters
    FROM allsz GROUP BY size
    """,
)
def q187_dedup_cluster_histogram(spark, sf_dir):
    """Duplicate-cluster SIZE HISTOGRAM — the report a curation run
    reads before committing a dedup pass: how many size-2 pairs,
    how many big boilerplate families, how much of the corpus is
    singleton (size-1 rows count docs with NO near-duplicate — the
    left-anti complement of the component frame, so the histogram's
    weighted total equals the slice size and removal impact is
    sum((size-1)*n_clusters)). Components via min-label propagation
    on the exact-Jaccard edge set (q170's closure, smaller slice,
    bounded both ends); driver-hashed against the recursive-CTE
    fixpoint. Raises RuntimeError if the slice's graph is deeper
    than ``max_iter=12``.

    Scale shape: q170's propagation closure, then two
    vocab-tiny groupBys (component -> size -> histogram) and one
    anti-join for singletons. The oracle's all-pairs block stays
    block-sized by the two-sided slice."""
    from product_etl_spark.operators.dedup import (
        connected_components,
        set_similarity_pairs,
    )

    d = _t(spark, sf_dir, "documents").filter(
        (F.col("doc_id") >= 150) & (F.col("doc_id") < 350)
    )
    pairs = set_similarity_pairs(d, "text", "doc_id", 3, 5)
    comp = connected_components(
        pairs.select("id_a", "id_b"), max_iter=12
    )
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("size"))
    singles = d.join(
        comp.select(F.col("id").alias("doc_id")), "doc_id", "left_anti"
    ).select(F.lit(1).cast("bigint").alias("size"))
    return (
        sizes.select("size")
        .unionByName(singles)
        .groupBy("size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
    )
