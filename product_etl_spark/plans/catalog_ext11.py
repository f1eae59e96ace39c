"""Eleventh extension catalog (q169-q176): the portable QUANTILE
sketch that completes the cross-engine-verifiable sketch family
(CMS q165 / HLL q167 / KMV q168), connected components on a second
bounded document slice (q156's propagation closure), and the
integer-decided robust/corpus statistics family —
weighted median, vocabulary coverage cutpoints, trimmed mean, and
(registered after the r9 window froze, leading the r10 queue) exact
grouped mode, weight-concentration cutpoints, and the
winsorized mean.

All follow the engine-exact surface contract: picking and trimming
decisions are integer cross-multiplications, sums are decimal, every
float on the surface is a single IEEE operation both engines perform
identically (SCALING.md float policy).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from product_etl_spark.operators.collocations import vocabulary_coverage
from product_etl_spark.operators.dedup import (
    connected_components,
    set_similarity_pairs,
)
from product_etl_spark.operators.profile import (
    grouped_trimmed_mean,
    grouped_weighted_median,
)
from product_etl_spark.operators.sketches import (
    quantile_sample_estimate,
    quantile_sample_partials,
)
from product_etl_spark.plans.catalog import _t, register


@register(
    "q169_quantile_sample_sketch",
    """
    WITH v AS (
      SELECT l_returnflag AS flag,
             l_extendedprice AS val,
             CAST(l_orderkey AS VARCHAR) || '-'
               || CAST(l_linenumber AS VARCHAR) AS key
      FROM lineitem
    ), h AS (
      SELECT flag, val,
             ('0x' || substr(md5(key), 1, 15))::BIGINT AS hv
      FROM v
    ), samp AS (
      SELECT flag, hv, val
      FROM h
      QUALIFY ROW_NUMBER() OVER (PARTITION BY flag ORDER BY hv, val) <= 256
    ), ranked AS (
      SELECT flag, val,
             ROW_NUMBER() OVER (PARTITION BY flag ORDER BY val, hv) AS vr,
             COUNT(*) OVER (PARTITION BY flag) AS n
      FROM samp
    )
    SELECT flag AS l_returnflag,
           CAST(MAX(n) AS BIGINT) AS n_sample,
           MAX(CASE WHEN vr = GREATEST(1, CAST(CEIL(CAST(0.25 AS DOUBLE) * n) AS BIGINT)) THEN val END) AS p25,
           MAX(CASE WHEN vr = GREATEST(1, CAST(CEIL(CAST(0.5 AS DOUBLE) * n) AS BIGINT)) THEN val END) AS p50,
           MAX(CASE WHEN vr = GREATEST(1, CAST(CEIL(CAST(0.75 AS DOUBLE) * n) AS BIGINT)) THEN val END) AS p75,
           MAX(CASE WHEN vr = GREATEST(1, CAST(CEIL(CAST(0.95 AS DOUBLE) * n) AS BIGINT)) THEN val END) AS p95
    FROM ranked GROUP BY flag
    """,
)
def q169_quantile_sample_sketch(spark, sf_dir):
    """Portable deterministic QUANTILE sketch (operators/sketches.
    quantile_sample_partials/-estimate): per returnflag, the bottom-
    256 md5-hash sample of lineitem rows (hash over the
    orderkey-linenumber row key; the synthetic data has DUPLICATE
    keys with different prices, so the cut orders by (hv, val) —
    deterministic on every engine and run) carrying
    l_extendedprice, read out at p25/p50/p75/p95 by EXACT RANK over
    the sample. Completes the cross-engine-verifiable sketch family
    the r8 trio started (CMS q165 / HLL q167 / KMV q168): KLL's
    compaction coin-flips are engine-private, but a bottom-k hash
    sample is a pure predicate any md5-capable engine rebuilds
    cell-for-cell — so a replica can VERIFY quantile partials it
    didn't build. Mergeable like KMV (union re-cut to k); standard
    bottom-k O(1/sqrt(k)) rank error, pytest-bounded.

    Scale shape: one window top-k per group over the scan (map-side
    rank pruning), then ranking 256 rows per group. The sketch rows
    — not the corpus — persist; later quantile reads never rescan.
    Reference anchor: extension beyond parity — the reference's only
    distribution audits are exact COUNT/completeness aggregates
    (utils/importer/verify_collections.py:33-66); this sketch is the
    scale path for the same read-the-distribution need (q43 keeps the
    exact-percentile row)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").alias("price"),
        F.concat_ws(
            "-",
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
        ).alias("rk"),
    )
    parts = quantile_sample_partials(
        li, ["l_returnflag"], "price", "rk", k=256
    )
    return quantile_sample_estimate(
        parts, ["l_returnflag"], [0.25, 0.5, 0.75, 0.95]
    )


@register(
    "q170_star_components",
    r"""
    WITH RECURSIVE t AS (
      SELECT doc_id, list_distinct(list_filter(
               string_split_regex(LOWER(COALESCE(text,'')), '\s+'),
               x -> x <> '')) AS s
      FROM documents WHERE doc_id >= 150 AND doc_id < 500
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
    )
    SELECT node AS doc_id, MIN(lbl) AS component
    FROM reach GROUP BY node
    """,
)
def q170_star_components(spark, sf_dir):
    """Connected components (dedup.connected_components, min-label
    propagation) on the exact-Jaccard edge set of a second document
    slice (150 <= doc_id < 500; q156 reads doc_id < 300),
    driver-hashed against the same recursive-CTE fixpoint as q156.
    The slice is bounded on BOTH sides — a lower-bound-only slice is
    350 docs at the driver's sf0.01 but 4850 at sf0.1, which made the
    all-pairs-shaped oracle block and the closure balloon to ~129 s
    in the r9 bench; the operator itself is corpus-scale, the BLOCK
    the oracle brute-forces must stay block-sized. The registered
    name is kept from when the entry ran star contraction, which gave
    the same labels.

    Scale shape: O(diameter) rounds, each one edge-list join + one
    groupBy-min over the label frame, localCheckpointed. The slice's
    clusters are shallow; a graph deeper than ``max_iter=12`` raises
    RuntimeError rather than return a partial labeling."""
    d = _t(spark, sf_dir, "documents").filter(
        (F.col("doc_id") >= 150) & (F.col("doc_id") < 500)
    )
    pairs = set_similarity_pairs(d, "text", "doc_id", 3, 5)
    comp = connected_components(
        pairs.select("id_a", "id_b"), max_iter=12
    )
    return comp.select(F.col("id").alias("doc_id"), "component")


@register(
    "q171_weighted_median_price",
    """
    WITH gw AS (
      SELECT l_returnflag, l_extendedprice AS v,
             SUM(CAST(l_quantity AS BIGINT)) AS w
      FROM lineitem GROUP BY 1, 2
    ), cum AS (
      SELECT l_returnflag, v, w,
             SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v
                          ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(w) OVER (PARTITION BY l_returnflag) AS tw
      FROM gw
    )
    SELECT l_returnflag,
           CAST(MIN(CASE WHEN 2 * cw >= tw THEN v END) AS DOUBLE) AS w_median,
           CAST(MAX(tw) AS BIGINT) AS total_weight
    FROM cum GROUP BY l_returnflag
    """,
)
def q171_weighted_median_price(spark, sf_dir):
    """Exact QUANTITY-WEIGHTED median price per returnflag
    (profile.grouped_weighted_median): the smallest price at which
    half the total quantity has traded — the volume-weighted robust
    center a plain per-row median misstates whenever weights skew
    (one 50-unit line outvotes fifty 1-unit lines). Integer-decided:
    weights are BIGINT, the pick is the 2*cum >= total cross-
    multiplication, the surfaced median is a SELECTED value (single
    cast, no interpolation arithmetic).

    Scale shape: ties collapse in a map-side-combined (group, value)
    pre-aggregation BEFORE any window; the cumulative pass is a
    group-partitioned window over distinct values — no global
    sort."""
    li = _t(spark, sf_dir, "lineitem")
    return grouped_weighted_median(
        li, ["l_returnflag"], "l_extendedprice", "l_quantity"
    )


@register(
    "q172_vocabulary_coverage",
    """
    WITH terms AS (
      SELECT unnest(regexp_extract_all(
               LOWER(COALESCE(text, '')), '[a-z0-9]+')) AS term
      FROM documents
    ), counts AS (
      SELECT term, COUNT(*) AS cnt FROM terms GROUP BY term
    ), ranked AS (
      SELECT cnt,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, term ASC) AS rank,
             SUM(cnt) OVER (ORDER BY cnt DESC, term ASC
                            ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(cnt) OVER () AS tot
      FROM counts
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
           CAST(MAX(tot) AS BIGINT) AS total_tokens,
           CAST(MIN(CASE WHEN 2 * cum >= 1 * tot THEN rank END) AS BIGINT) AS terms_p50,
           CAST(MIN(CASE WHEN 10 * cum >= 9 * tot THEN rank END) AS BIGINT) AS terms_p90,
           CAST(MIN(CASE WHEN 100 * cum >= 99 * tot THEN rank END) AS BIGINT) AS terms_p99
    FROM ranked
    """,
)
def q172_vocabulary_coverage(spark, sf_dir):
    """Vocabulary coverage cutpoints over the documents corpus
    (collocations.vocabulary_coverage): how many distinct terms —
    most-frequent-first, term-ascending tie-break — cover 50/90/99%
    of all token occurrences. The tokenizer-design statistic (vocab
    size before <unk> is rare) and the Zipf-tail summary of a corpus
    report; the integer-exact complement of q77's top-k vocabulary
    listing. Cutpoints are decided by den*cum >= num*total cross-
    multiplication — no float anywhere. Terms use the shared
    retrieval alphabet (functions/text.TERM_RE), so this cannot
    desynchronize from TF-IDF/BM25.

    Scale shape: term counts are one map-side-combined groupBy
    bounded by VOCABULARY; the ranking window is global but runs
    over vocabulary rows, not corpus rows (swap for a range-
    partitioned prefix sum if vocabulary outgrows one task)."""
    d = _t(spark, sf_dir, "documents")
    return vocabulary_coverage(
        d, "text", [(1, 2), (9, 10), (99, 100)]
    )


@register(
    "q173_trimmed_mean_price",
    """
    WITH v AS (
      SELECT l_returnflag, CAST(l_extendedprice AS DECIMAL(18,2)) AS x
      FROM lineitem
    ), ranked AS (
      SELECT l_returnflag, x,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY x) AS rn,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      FROM v
    ), kept AS (
      SELECT l_returnflag, x FROM ranked
      WHERE rn > (n * 1) // 10 AND rn <= n - (n * 1) // 10
    )
    SELECT l_returnflag,
           CAST(SUM(x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS trimmed_mean,
           COUNT(*) AS n_kept
    FROM kept GROUP BY l_returnflag
    """,
)
def q173_trimmed_mean_price(spark, sf_dir):
    """Exact 10%-TRIMMED mean price per returnflag
    (profile.grouped_trimmed_mean): drop the floor(n/10) smallest and
    largest rows, average the middle — the robust location estimate
    between mean and median, standard for quality-score aggregation
    where a few garbage rows drag a plain mean. Trim counts are pure
    integer arithmetic; kept values SUM as decimals (reorderable-sum
    contract); the mean is ONE IEEE division at the surface — the
    q01/q102 exactness recipe applied to a rank-windowed subset.

    Scale shape: one group-partitioned window rank + one map-side-
    combined groupBy; per-group frames only."""
    li = _t(spark, sf_dir, "lineitem")
    return grouped_trimmed_mean(
        li, ["l_returnflag"], "l_extendedprice", 1, 10
    )


@register(
    "q174_brand_mode_type",
    """
    WITH counted AS (
      SELECT p_brand, p_type AS v, COUNT(*) AS c
      FROM part WHERE p_type IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT p_brand, v AS mode_value, CAST(c AS BIGINT) AS mode_count
    FROM counted
    QUALIFY ROW_NUMBER() OVER (PARTITION BY p_brand
                               ORDER BY c DESC, v ASC) = 1
    """,
)
def q174_brand_mode_type(spark, sf_dir):
    """Exact MODE per brand (profile.grouped_mode): the most frequent
    part type with a deterministic tie-break (highest count, then
    smallest value) — categorical imputation / dominant-category
    audit. Spark realizes the pick as ONE min-struct aggregate over
    (-count, value) — no window, no sort, two bounded map-side-
    combined shuffles; the oracle's ordered-MIN is the same total
    order. Registered after the r9 window froze; leads the r10
    queue."""
    from product_etl_spark.operators.profile import grouped_mode

    p = _t(spark, sf_dir, "part")
    return grouped_mode(p, ["p_brand"], "p_type")


@register(
    "q175_customer_revenue_concentration",
    """
    WITH per AS (
      SELECT o_custkey AS id,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS w
      FROM orders GROUP BY 1
    ), ranked AS (
      SELECT ROW_NUMBER() OVER (ORDER BY w DESC, id ASC) AS rank,
             SUM(w) OVER (ORDER BY w DESC, id ASC
                          ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(w) OVER () AS tot
      FROM per
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MIN(CASE WHEN 2 * cum >= 1 * tot THEN rank END) AS BIGINT) AS members_p50,
           CAST(MIN(CASE WHEN 10 * cum >= 9 * tot THEN rank END) AS BIGINT) AS members_p90
    FROM ranked
    """,
)
def q175_customer_revenue_concentration(spark, sf_dir):
    """Weight-concentration cutpoints
    (profile.grouped_weight_concentration, the grouped twin of q172's
    vocabulary coverage): how many customers — heaviest spenders
    first — carry 50% / 90% of total order revenue. The source-
    concentration audit a training-mixture pipeline runs per domain
    ("how few sources dominate the tokens"); integer-decided
    cutpoints over exact decimal revenue sums. Here the group is
    global (one row), so the window is member-bounded; per-segment
    calls partition the same windows by the group keys. Registered
    after the r9 window froze; leads the r10 queue."""
    from product_etl_spark.operators.profile import (
        grouped_weight_concentration,
    )

    o = _t(spark, sf_dir, "orders")
    return grouped_weight_concentration(
        o, [], "o_custkey", "o_totalprice", [(1, 2), (9, 10)]
    )


@register(
    "q176_winsorized_mean_price",
    """
    WITH v AS (
      SELECT l_returnflag, CAST(l_extendedprice AS DECIMAL(18,2)) AS x
      FROM lineitem
    ), ranked AS (
      SELECT l_returnflag, x,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY x) AS rn,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      FROM v
    ), fenced AS (
      SELECT l_returnflag, x, rn, n, (n * 1) // 10 AS cut,
             MAX(CASE WHEN rn = (n * 1) // 10 + 1 THEN x END)
               OVER (PARTITION BY l_returnflag) AS lo,
             MAX(CASE WHEN rn = n - (n * 1) // 10 THEN x END)
               OVER (PARTITION BY l_returnflag) AS hi
      FROM ranked
    )
    SELECT l_returnflag,
           CAST(SUM(CAST(GREATEST(LEAST(x, hi), lo) AS DECIMAL(18,2))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS winsorized_mean,
           COUNT(*) AS n_rows
    FROM fenced GROUP BY l_returnflag
    """,
)
def q176_winsorized_mean_price(spark, sf_dir):
    """Exact 10%-WINSORIZED mean price per returnflag
    (profile.grouped_winsorized_mean): tail rows are CLAMPED to the
    rank-decided fences instead of dropped — q173's trimmed-mean
    sibling that keeps sample size (the robust pair every curation
    scorecard wants side by side). Fences are integer rank picks;
    clamped decimals sum exactly; one IEEE division at the surface.
    Registered after the r9 window froze; leads the r10 queue."""
    from product_etl_spark.operators.profile import (
        grouped_winsorized_mean,
    )

    li = _t(spark, sf_dir, "lineitem")
    return grouped_winsorized_mean(
        li, ["l_returnflag"], "l_extendedprice", 1, 10
    )
