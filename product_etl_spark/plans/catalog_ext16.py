"""Sixteenth extension catalog (q226+): round-14 additions — the
incremental twin of the balanced-shard manifest deal (q226,
operators/sampling.append_balanced_shards — a NEW batch dealt into
EXISTING shard totals lightest-first, the r13 verdict's missing
incremental rung for the sharding family).

Reference parity note: the reference (pandas+psycopg2 row loops,
ETL.py / main.py) computes none of this; these rows extend the
training-data-pipeline surface per the build brief.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from product_etl_spark.plans.catalog import _t, register


@register(
    "q226_incremental_shard_append",
    r"""
    WITH sized AS (
      SELECT doc_id,
             LEN(list_filter(string_split_regex(COALESCE(text,''), '\s+'),
                             x -> x <> '')) AS n_tokens
      FROM documents
    ), b1 AS (
      SELECT doc_id, n_tokens,
             ROW_NUMBER() OVER (ORDER BY n_tokens DESC, doc_id) AS rn,
             COUNT(*) OVER () AS nr
      FROM sized WHERE doc_id % 3 <> 2
    ), a1 AS (
      -- trailing PARTIAL pass deals forward (the _snake_slot rule)
      SELECT doc_id, n_tokens,
             CAST(CASE WHEN rn > (nr // 8) * 8 THEN (rn - 1) % 8
                       WHEN ((rn - 1) // 8) % 2 = 0 THEN (rn - 1) % 8
                       ELSE 7 - ((rn - 1) % 8)
                  END AS INT) AS shard
      FROM b1
    ), totals AS (
      SELECT shard, SUM(CAST(n_tokens AS DOUBLE)) AS total_weight
      FROM a1 GROUP BY shard
    ), perm AS (
      -- lightest-first permutation over ALL n_shards slots: a shard
      -- with no history document folds in at weight 0 (the Spark
      -- side's totals.get(s, 0.0)) — an inner join on observed
      -- shards alone would DROP batch docs whose slot maps to an
      -- unseen shard on degenerate corpora (r14 review finding)
      SELECT g.shard,
             ROW_NUMBER() OVER (
               ORDER BY COALESCE(t.total_weight, 0.0), g.shard) - 1
               AS slot
      FROM (SELECT UNNEST(range(8)) AS shard) g
      LEFT JOIN totals t USING (shard)
    ), b2 AS (
      SELECT doc_id, n_tokens,
             ROW_NUMBER() OVER (ORDER BY n_tokens DESC, doc_id) AS rn,
             COUNT(*) OVER () AS nr
      FROM sized WHERE doc_id % 3 = 2
    ), a2 AS (
      SELECT b2.doc_id, b2.n_tokens, CAST(perm.shard AS INT) AS shard
      FROM b2 JOIN perm
        ON perm.slot = CASE WHEN b2.rn > (b2.nr // 8) * 8
                            THEN (b2.rn - 1) % 8
                            WHEN ((b2.rn - 1) // 8) % 2 = 0
                            THEN (b2.rn - 1) % 8
                            ELSE 7 - ((b2.rn - 1) % 8)
                       END
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, shard
    FROM (SELECT * FROM a1 UNION ALL SELECT * FROM a2)
    ORDER BY doc_id
    """,
)
def q226_incremental_shard_append(spark, sf_dir):
    """Incremental balanced-shard manifest growth
    (sampling.append_balanced_shards, r13 verdict item 5): an
    accepted corpus (doc_id % 3 != 2) is dealt into 8 shards by the
    q220 snake, then an ARRIVING batch (doc_id % 3 == 2) is dealt
    into the resulting totals LIGHTEST-FIRST — each snake pass hands
    the batch's heaviest remaining documents to the lightest shards,
    so manifests keep growing balanced without re-dealing history.
    Surface: every document's final (doc_id, n_tokens, shard) — the
    union of both manifests, which pins the whole assignment.

    Engine-exact: ranks are integer-decided (n_tokens desc, doc_id),
    snake arithmetic is pure integers, and the lightest-first
    permutation orders exact double totals tie-broken by shard id.

    Scale shape: one two-level global rank per batch
    (linkage.global_sort_ranks — never the single-task
    row_number() OVER (ORDER BY) the oracle is allowed), pure
    expressions, and an n_shards-bounded collect for the
    permutation; history documents are never re-read (the state is
    8 rows)."""
    from product_etl_spark.functions import text as T_
    from product_etl_spark.operators.sampling import (
        append_balanced_shards,
        shard_weight_totals,
    )

    d = _t(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id", T_.token_count(F.col("text")).alias("n_tokens")
    )
    hist = sized.filter(F.col("doc_id") % 3 != 2)
    batch = sized.filter(F.col("doc_id") % 3 == 2)
    a1 = append_balanced_shards(hist, "n_tokens", "doc_id", 8)
    a2 = append_balanced_shards(
        batch, "n_tokens", "doc_id", 8,
        shard_weight_totals(a1, "n_tokens"),
    )
    return (
        a1.unionByName(a2)
        .select(
            "doc_id",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            "shard",
        )
        .orderBy("doc_id")
    )


@register(
    "q227_curriculum_interleave",
    r"""
    WITH t AS (
      SELECT doc_id, source,
             LEN(list_filter(string_split_regex(COALESCE(text,''), '\s+'),
                             x -> x <> '')) AS n_tokens
      FROM documents
    ), s AS (
      SELECT source,
             ROW_NUMBER() OVER (ORDER BY source) AS sidx,
             COUNT(*) OVER () AS ns
      FROM (SELECT DISTINCT source FROM t)
    ), r AS (
      SELECT doc_id, source, n_tokens,
             ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY n_tokens, doc_id) AS srank
      FROM t
    )
    SELECT r.doc_id, r.source, CAST(r.n_tokens AS BIGINT) AS n_tokens,
           CAST((r.srank - 1) * s.ns + (s.sidx - 1) AS BIGINT)
             AS curriculum_key
    FROM r JOIN s USING (source)
    ORDER BY curriculum_key
    """,
)
def q227_curriculum_interleave(spark, sf_dir):
    """Curriculum training order with source interleaving
    (sampling.curriculum_interleave): within each source documents
    rank easy-first (token count ascending, doc_id tie-break) and
    the global key cycles sources round-robin — the WHEN of the
    sampling family (mix_sources = what stays, balanced_shards =
    where it lives). Key = (rank_in_source - 1) * n_sources +
    source_index: a strictly-increasing sort key along the schedule.

    Engine-exact: ranks and the key are pure integers.

    Scale shape: vocabulary-sized counted source rank
    (global_sort_ranks_counted — n_sources from the offsets collect,
    no extra COUNT job), a SEGMENTED two-level prefix sum of 1s per
    source over the (difficulty, id) struct order (never a
    single-task per-source window — the oracle's PARTITION BY
    window is the cliff the Spark side must avoid), one
    vocabulary-sized join back."""
    from product_etl_spark.functions import text as T_
    from product_etl_spark.operators.sampling import curriculum_interleave

    d = _t(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id", "source", T_.token_count(F.col("text")).alias("n_tokens")
    )
    return (
        curriculum_interleave(sized, "source", "n_tokens", "doc_id")
        .select(
            "doc_id",
            "source",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            "curriculum_key",
        )
        .orderBy("curriculum_key")
    )


@register(
    "q228_token_budget_select",
    r"""
    WITH t AS (
      SELECT doc_id, n_chars,
             LEN(list_filter(string_split_regex(COALESCE(text,''), '\s+'),
                             x -> x <> '')) AS n_tokens
      FROM documents
    ), c AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (
               ORDER BY n_chars DESC, doc_id) AS cum_tokens
      FROM t
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM c WHERE cum_tokens <= 20000
    ORDER BY doc_id
    """,
)
def q228_token_budget_select(spark, sf_dir):
    """Greedy data-budget selection (sampling.token_budget_select):
    the best-first prefix of the corpus — here richest-content-first
    (n_chars descending, doc_id tie-break) — whose cumulative token
    count fits a 20k budget; the boundary document that would
    overflow is dropped (no partial documents). The step between
    scoring (quality/importance) and packing that "give me the best
    N tokens" runs at every ablation.

    Engine-exact: integer weights over an integer-decided order;
    cum_tokens is an exact BIGINT running total.

    Scale shape: ONE distributed two-level prefix sum over the total
    order (suffixes._prefix_sum on the struct sort key) + a filter —
    never the single-task SUM() OVER (ORDER BY) the oracle is
    allowed to use."""
    from product_etl_spark.functions import text as T_
    from product_etl_spark.operators.sampling import token_budget_select

    d = _t(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id",
        (-F.col("n_chars")).alias("_negc"),
        T_.token_count(F.col("text")).alias("n_tokens"),
    )
    return (
        token_budget_select(sized, "n_tokens", ["_negc", "doc_id"], 20000)
        .select(
            "doc_id",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            # cum_weight is an exact DECIMAL; integral here (integer
            # token weights) — surface as BIGINT per the exact-hash
            # contract (decimal surfaces never hash-match DuckDB)
            F.col("cum_weight").cast("bigint").alias("cum_tokens"),
        )
        .orderBy("doc_id")
    )


@register(
    "q229_quota_backfill",
    r"""
    WITH t AS (
      SELECT doc_id, lang, n_chars FROM documents
    ), cnt AS (
      SELECT lang, COUNT(*) AS n FROM t GROUP BY lang
    ), pool AS (
      SELECT COALESCE(SUM(CASE WHEN n < 80 THEN 80 - n END), 0) AS unused,
             COALESCE(SUM(CASE WHEN n > 80 THEN 1 END), 0) AS n_over
      FROM cnt
    ), ovr AS (
      SELECT lang, ROW_NUMBER() OVER (ORDER BY lang) AS orank
      FROM cnt WHERE n > 80
    ), allowed AS (
      SELECT cnt.lang,
             CASE WHEN ovr.orank IS NULL THEN 80
                  ELSE 80 + (pool.unused // pool.n_over)
                       + CASE WHEN ovr.orank <= pool.unused % pool.n_over
                              THEN 1 ELSE 0 END
             END AS allowed
      FROM cnt LEFT JOIN ovr USING (lang) CROSS JOIN pool
    ), r AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rn
      FROM t
    )
    SELECT r.doc_id, r.lang
    FROM r JOIN allowed USING (lang)
    WHERE r.rn <= allowed.allowed
    ORDER BY r.lang, r.doc_id
    """,
)
def q229_quota_backfill(spark, sf_dir):
    """Per-language quota sampling with BACKFILL
    (sampling.stratified_quota_backfill): each language keeps its 80
    richest documents (n_chars descending, doc_id tie-break); the
    budget the small languages leave unused flows to the over-full
    ones (floor share + remainder one-each in key order) — so the
    corpus budget stays min(n_rows, cap * n_groups) where q62's
    plain stratified cap silently shrinks it under domain skew.

    Engine-exact: counts, quotas and in-group ranks are all
    integer-decided.

    Scale shape: one map-side-combined group count, a 1-row pool
    aggregate, a two-level rank over the GROUP-cardinality frame,
    the segmented two-level prefix sum of 1s for in-group ranks
    (never a single-task per-group window — the oracle's PARTITION
    BY window is the cliff), one broadcast-sized join back."""
    from product_etl_spark.operators.sampling import (
        stratified_quota_backfill,
    )

    d = _t(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", "lang", (-F.col("n_chars")).alias("_negc")
    )
    return (
        stratified_quota_backfill(base, "lang", ["_negc", "doc_id"], 80)
        .select("doc_id", "lang")
        .orderBy("lang", "doc_id")
    )


@register(
    "q230_kruskal_wallis",
    r"""
    WITH s AS (
      SELECT c_acctbal AS v, c_mktsegment AS g
      FROM customer
      WHERE c_acctbal IS NOT NULL AND c_mktsegment IS NOT NULL
    ), vals AS (
      SELECT v, COUNT(*) AS cnt FROM s GROUP BY v
    ), c AS (
      SELECT v, cnt, SUM(cnt) OVER (ORDER BY v) AS cum FROM vals
    ), vg AS (
      SELECT v, g, COUNT(*) AS cvg FROM s GROUP BY v, g
    ), rg AS (
      SELECT g,
             SUM(cvg * (2 * cum - cnt + 1)) AS r2g,
             SUM(cvg) AS ng
      FROM vg JOIN c USING (v) GROUP BY g
    ), tot AS (
      SELECT SUM(ng) AS n FROM rg
    )
    SELECT g AS c_mktsegment,
           CAST(ng AS BIGINT) AS n_g,
           CAST(r2g AS BIGINT) AS r2_g,
           ROUND(3.0 * CAST(r2g AS DOUBLE) * CAST(r2g AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)
                    * CAST(ng AS DOUBLE)), 6) AS h_term
    FROM rg CROSS JOIN tot
    ORDER BY c_mktsegment
    """,
)
def q230_kruskal_wallis(spark, sf_dir):
    """Kruskal-Wallis H across ALL five market segments at once
    (profile.kruskal_wallis) — the k-sample generalization of the
    q223 Mann-Whitney on the same doubled-midrank machinery: one
    test instead of k*(k-1)/2 pairwise rank-sums when a corpus has
    many segments. Surface: per-group (n_g, r2_g) BIGINTs plus the
    group's H contribution as one ROUND(.,6) float tree; H =
    SUM(h_term) - 3*(N+1) (kruskal_wallis_h adds the exact-decimal
    term sum and tie correction).

    Engine-exact: doubled midranks keep every rank sum integral;
    each h_term is a single deterministic IEEE tree from
    integer-decided inputs — no cross-engine float-summation order
    enters the hash.

    Scale shape: ties collapse in one map-side groupBy on the value;
    the distinct-value prefix sum is the two-level scan
    (suffixes._prefix_sum — never the oracle's single-task window);
    one value-keyed join-back, one group aggregate, a 1-row total
    broadcast."""
    from product_etl_spark.operators.profile import kruskal_wallis

    c = _t(spark, sf_dir, "customer")
    return kruskal_wallis(c, "c_acctbal", "c_mktsegment")


@register(
    "q231_html_clean_text",
    r"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(COALESCE(text,''), '\s+'),
                         x -> x <> '') AS t
      FROM documents
    ), f AS (
      SELECT doc_id,
             array_to_string(t[1:6], ' ') AS a,
             array_to_string(t[7:14], ' ') AS b,
             array_to_string(t[15:20], ' ') AS c
      FROM tok WHERE LEN(t) >= 20
    ), built AS (
      SELECT doc_id,
             a || chr(10) || b || ' & <' || c || '>' || chr(10)
               || 'tail "line"' AS text
      FROM f
    )
    SELECT doc_id, text, LENGTH(text) AS n_chars
    FROM built ORDER BY doc_id
    """,
)
def q231_html_clean_text(spark, sf_dir):
    """HTML -> clean training text (operators/html_text.html_to_text,
    the WET rung; r14 verdict item 2): each document's tokens are
    wrapped in a deterministic HTML page — head with style AND
    script blocks (script body containing '<' and quotes), an h1,
    a comment hiding fake markup, a paragraph with escaped entities
    (&amp; &lt; &gt;), and a div with &nbsp;/&quot; — and the
    codegen extractor must recover exactly the visible text, one
    line per block element. The oracle CONSTRUCTS the expected clean
    text independently from the same tokens (the q132/q135
    independent-derivation pattern) — it never runs a parser or a
    regexp chain, so the two sides share nothing but the token
    split.

    Scale shape: the extractor is a fixed codegen
    regexp_replace/replace chain — map-only, zero shuffles, cost
    bounded by the scan. The tolerant html.parser path is pinned
    equal to this chain on the same fixtures in
    tests/test_html_text.py.

    Reference anchor: details_html populated at
    db_orchestrator.py:65-68, parsed for <img> at
    1_image_extractor_from_html.py:21-23 — the reference harvests
    URLs and never the text; this operator is the text side.
    """
    from product_etl_spark.functions import text as T
    from product_etl_spark.operators.html_text import html_to_text

    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", T.tokens("text").alias("t")).filter(
        F.size("t") >= 20
    )
    a = F.array_join(F.slice("t", 1, 6), " ")
    b = F.array_join(F.slice("t", 7, 8), " ")
    c = F.array_join(F.slice("t", 15, 6), " ")
    html = F.concat(
        F.lit(
            '<html><head><style type="text/css">p { margin: 0; }'
            '</style><script>if (a < b) { f("x&y"); }</script>'
            '</head>\n<body>\n  <h1 class="t">'
        ),
        a,
        F.lit('</h1>\n  <!-- hidden <p>not text</p> -->\n  <p>'),
        b,
        F.lit(" &amp; &lt;"),
        c,
        F.lit(
            '&gt;</p>\n  <div>tail&nbsp;&quot;line&quot;</div>'
            "\n</body></html>"
        ),
    )
    return (
        toks.select("doc_id", html_to_text(html).alias("text"))
        .select("doc_id", "text", F.length("text").alias("n_chars"))
        .orderBy("doc_id")
    )


@register(
    "q232_incremental_budget_select",
    r"""
    WITH t AS (
      SELECT doc_id, n_chars,
             LEN(list_filter(string_split_regex(COALESCE(text,''), '\s+'),
                             x -> x <> '')) AS n_tokens
      FROM documents
    ), c AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (
               ORDER BY n_chars DESC, doc_id) AS cum_tokens
      FROM t
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM c WHERE cum_tokens <= 30000
    ORDER BY doc_id
    """,
)
def q232_incremental_budget_select(spark, sf_dir):
    """Incremental twin of the greedy budget selection (r14 verdict
    item 6; sampling.append_token_budget_select): the corpus arrives
    as TWO order-aligned batches — richer documents (n_chars > 300)
    first, the rest second — each folded against the (spent, hwm)
    remaining-budget state, accepted documents never re-read. The
    oracle is the ONE-SHOT greedy prefix over the union (the exact
    fold-equals-one-shot contract, also pytest-pinned at the
    operator level), so a fold that loses the boundary document,
    double-counts dropped weight, or mis-carries the global
    cum_weight across the batch seam hash-mismatches.

    Scale shape: one two-level prefix sum PER BATCH plus a 1-row
    state aggregate."""
    from product_etl_spark.functions import text as T_
    from product_etl_spark.operators.sampling import (
        append_token_budget_select,
    )

    d = _t(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id",
        (-F.col("n_chars")).alias("_negc"),
        T_.token_count(F.col("text")).alias("n_tokens"),
    )
    b1 = sized.filter(F.col("_negc") < -300)
    b2 = sized.filter(F.col("_negc") >= -300)
    sel1, st = append_token_budget_select(
        b1, "n_tokens", ["_negc", "doc_id"], 30000, None
    )
    sel2, _ = append_token_budget_select(
        b2, "n_tokens", ["_negc", "doc_id"], 30000, st
    )
    return (
        sel1.unionByName(sel2)
        .select(
            "doc_id",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.col("cum_weight").cast("bigint").alias("cum_tokens"),
        )
        .orderBy("doc_id")
    )
