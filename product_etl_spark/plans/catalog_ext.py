"""Extended query catalog: operator families beyond the reference's
own surface that a complete analytics engine must cover — grouping
sets, exact percentiles, statistical aggregates, range (theta) joins,
as-of joins, pivot/unpivot, JSON extraction, ranking windows,
correlated-subquery shapes. Registered into the same CATALOG /
oracle registry as catalog.py.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from product_etl_spark.plans.catalog import _t, dec, register


@register(
    "q41_rollup_region_nation",
    """
    SELECT r.r_name, n.n_name, COUNT(*) AS n_suppliers,
           CAST(SUM(CAST(s.s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY ROLLUP(r.r_name, n.n_name)
    """,
)
def q41_rollup_region_nation(spark, sf_dir):
    """GROUP BY ROLLUP: per-nation, per-region subtotal, grand total
    in one pass (partial aggregation applies to every grouping set)."""
    s, n, r = _t(spark, sf_dir, "supplier", "nation", "region")
    return (
        s.join(F.broadcast(n), n.n_nationkey == s.s_nationkey)
        .join(F.broadcast(r), r.r_regionkey == n.n_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum(dec("s_acctbal")).cast("double").alias("total_acctbal"),
        )
    )


@register(
    "q42_cube_flag_status",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n
    FROM lineitem
    GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
)
def q42_cube_flag_status(spark, sf_dir):
    """GROUP BY CUBE over the two low-cardinality lineitem flags."""
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "q43_price_percentiles",
    """
    SELECT o_orderpriority,
           ROUND(quantile_cont(o_totalprice, 0.25), 4) AS p25,
           ROUND(quantile_cont(o_totalprice, 0.50), 4) AS p50,
           ROUND(quantile_cont(o_totalprice, 0.75), 4) AS p75
    FROM orders GROUP BY o_orderpriority
    """,
)
def q43_price_percentiles(spark, sf_dir):
    """Exact linear-interpolation percentiles (not approx — the
    oracle is exact; at 100 TB swap in approx_percentile and drop the
    oracle to rows-only — see test_catalog_ext.py's approx-distinct
    error-bound pattern)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.25)"), 4).alias("p25"),
        F.round(F.expr("percentile(o_totalprice, 0.50)"), 4).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.75)"), 4).alias("p75"),
    )


@register(
    "q44_acctbal_stats",
    """
    SELECT c_mktsegment,
           CAST(ROUND(AVG(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS mean_bal,
           ROUND(STDDEV_SAMP(c_acctbal), 3) AS stddev_bal,
           ROUND(MIN(c_acctbal), 2) AS min_bal,
           ROUND(MAX(c_acctbal), 2) AS max_bal
    FROM customer GROUP BY c_mktsegment
    """,
)
def q44_acctbal_stats(spark, sf_dir):
    """Statistical aggregates; the mean goes through decimal for
    exactness (summation-order-proof), then lands as DOUBLE so the
    driver's typed hash agrees with the oracle's ROUND(...)::DOUBLE."""
    cu = _t(spark, sf_dir, "customer")
    return cu.groupBy("c_mktsegment").agg(
        F.round(F.avg(dec("c_acctbal")), 2).cast("double").alias("mean_bal"),
        F.round(F.stddev_samp("c_acctbal"), 3).alias("stddev_bal"),
        F.round(F.min("c_acctbal"), 2).alias("min_bal"),
        F.round(F.max("c_acctbal"), 2).alias("max_bal"),
    )


@register(
    "q45_price_band_range_join",
    """
    WITH bands(band, lo, hi) AS (
      VALUES ('small', 0.0, 50000.0),
             ('medium', 50000.0, 150000.0),
             ('large', 150000.0, 1000000000.0)
    )
    SELECT b.band, COUNT(*) AS n,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders o
    JOIN bands b ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY b.band
    """,
)
def q45_price_band_range_join(spark, sf_dir):
    """Range (theta) join against a band dimension — broadcast nested
    loop on the tiny side; the fact side streams through unshuffled."""
    o = _t(spark, sf_dir, "orders")
    # inline literal dimension (exploded struct array): no driver-side
    # createDataFrame round-trip, trivially broadcastable
    band_rows = [
        ("small", 0.0, 50_000.0),
        ("medium", 50_000.0, 150_000.0),
        ("large", 150_000.0, 1_000_000_000.0),
    ]
    bands = (
        spark.range(1)
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.lit(lo).alias("lo"),
                            F.lit(hi).alias("hi"),
                        )
                        for b, lo, hi in band_rows
                    ]
                )
            ).alias("b")
        )
        .select("b.*")
    )
    return (
        o.join(
            F.broadcast(bands),
            (o.o_totalprice >= bands.lo) & (o.o_totalprice < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("o_totalprice")).cast("double").alias("total"),
        )
    )


@register(
    "q46_asof_purchase_signup",
    """
    WITH w AS (
      SELECT user_id, event_id, event_type, ts,
             last_value(CASE WHEN event_type = 'signup' THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_signup_ts
      FROM events
    )
    SELECT user_id, event_id,
           epoch_us(ts) AS ts_us,
           epoch_us(last_signup_ts) AS signup_ts_us
    FROM w WHERE event_type = 'purchase'
    """,
)
def q46_asof_purchase_signup(spark, sf_dir):
    """As-of join (nearest preceding match): each purchase paired
    with the user's latest prior-or-same-instant signup. The union-
    window formulation needs no range join at all: one window over
    (user, time) — the canonical Spark shape for as-of semantics."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    last_signup = F.last(
        F.when(F.col("event_type") == "signup", F.col("ts")), ignorenulls=True
    ).over(w)
    return (
        ev.withColumn("last_signup_ts", last_signup)
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            F.unix_micros("last_signup_ts").alias("signup_ts_us"),
        )
    )


EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


@register(
    "q47_event_pivot",
    """
    SELECT user_id,
           COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
           COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view,
           COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
           COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
           COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error
    FROM events GROUP BY user_id
    """,
)
def q47_event_pivot(spark, sf_dir):
    """Pivot event types to columns. Explicit value list — at scale an
    implicit pivot triggers a distinct-values job first; never do that
    on a high-cardinality column."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, EVENT_TYPES)
    )


@register(
    "q48_lineitem_unpivot",
    """
    SELECT l_orderkey, l_linenumber, 'quantity' AS measure, l_quantity AS val
    FROM lineitem WHERE l_orderkey < 100
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice
    FROM lineitem WHERE l_orderkey < 100
    """,
)
def q48_lineitem_unpivot(spark, sf_dir):
    """Unpivot (wide -> long): two measures melted into rows."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_orderkey") < 100)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .withColumnsRenamed(
            {"l_quantity": "quantity", "l_extendedprice": "extendedprice"}
        )
        .unpivot(
            ["l_orderkey", "l_linenumber"],
            ["quantity", "extendedprice"],
            "measure",
            "val",
        )
    )


@register(
    "q49_distinct_users_by_type",
    """
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
)
def q49_distinct_users_by_type(spark, sf_dir):
    """Exact per-type distinct users (oracle-checkable). The 100 TB
    form is approx_count_distinct (HyperLogLog++), which can't
    hash-match an exact oracle — that variant lives in
    tests/test_catalog_ext.py::test_approx_distinct_error_bound with a
    1%-rsd error assertion against this exact count. Exact twin: q08."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q50_bpe_token_count",
    r"""
    SELECT doc_id,
           LEN(regexp_extract_all(COALESCE(text,''),
               '[A-Za-z]+|[0-9]|[^\sA-Za-z0-9]')) AS n_bpe_tokens
    FROM documents
    """,
)
def q50_bpe_token_count(spark, sf_dir):
    """Sub-word-ish token counting (BPE proxy regex)."""
    from product_etl_spark.functions import text as T

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", T.bpe_ish_token_count("text").alias("n_bpe_tokens")
    )


@register(
    "q51_props_json_extract",
    """
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
           COUNT(*) AS n
    FROM events
    WHERE props IS NOT NULL AND props <> ''
    GROUP BY 1
    """,
)
def q51_props_json_extract(spark, sf_dir):
    """JSON field extraction from the events props column (F21 — the
    reference has no JSON, this is the engine extension)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(F.col("props").isNotNull() & (F.col("props") != ""))
        .groupBy(
            (F.get_json_object("props", "$.k").cast("long") % 10).alias("k_mod")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "q52_value_delta_lag",
    """
    SELECT user_id, event_id,
           ROUND(value - LAG(value) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id), 2) AS delta
    FROM events WHERE user_id < 10
    """,
)
def q52_value_delta_lag(spark, sf_dir):
    """LAG-based per-user deltas (window beyond row_number/sum)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.filter(F.col("user_id") < 10).select(
        "user_id",
        "event_id",
        F.round(F.col("value") - F.lag("value").over(w), 2).alias("delta"),
    )


@register(
    "q53_order_rank_in_customer",
    """
    SELECT o_custkey, o_orderkey,
           RANK() OVER w AS price_rank,
           DENSE_RANK() OVER w AS price_dense_rank,
           ROUND(PERCENT_RANK() OVER w, 4) AS price_pct_rank
    FROM orders WHERE o_custkey < 50
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def q53_order_rank_in_customer(spark, sf_dir):
    """rank / dense_rank / percent_rank coverage."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return o.filter(F.col("o_custkey") < 50).select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).alias("price_rank"),
        F.dense_rank().over(w).alias("price_dense_rank"),
        F.round(F.percent_rank().over(w), 4).alias("price_pct_rank"),
    )


@register(
    "q54_above_nation_average",
    """
    WITH nation_avg AS (
      SELECT c_nationkey,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_bal
      FROM customer GROUP BY c_nationkey
    )
    SELECT c.c_custkey, c.c_nationkey
    FROM customer c JOIN nation_avg a ON a.c_nationkey = c.c_nationkey
    WHERE c.c_acctbal > a.avg_bal
    """,
)
def q54_above_nation_average(spark, sf_dir):
    """Correlated-scalar-subquery shape (customers above their
    nation's average balance) decorrelated into an aggregate + join —
    what Catalyst's RewriteCorrelatedScalarSubquery does; written
    explicitly so the plan is join-reorderable."""
    cu = _t(spark, sf_dir, "customer")
    nation_avg = cu.groupBy("c_nationkey").agg(
        (F.sum(dec("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("avg_bal")
    )
    return (
        cu.join(F.broadcast(nation_avg), "c_nationkey")
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .select("c_custkey", "c_nationkey")
    )


@register(
    "q55_events_per_day_of_week",
    """
    SELECT dayofweek(ts) AS dow, event_type, COUNT(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def q55_events_per_day_of_week(spark, sf_dir):
    """Calendar extraction parity (dayofweek: Sunday=1 in Spark;
    DuckDB dayofweek is Sunday=0 — normalized in the Spark expression
    to match ISO-ish DuckDB numbering)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        (F.dayofweek("ts") - 1).cast("long").alias("dow"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))


@register(
    "q56_ivf_assignment",
    """
    WITH cents AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS list_id,
             embedding AS centroid
      FROM embeddings ORDER BY vec_id LIMIT 4
    )
    SELECT vec_id, list_id, ROUND(dist, 4) AS centroid_dist
    FROM (
      SELECT e.vec_id, c.list_id,
             list_distance(e.embedding::DOUBLE[], c.centroid::DOUBLE[]) AS dist,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                ORDER BY dist, c.list_id) AS rn
      FROM embeddings e CROSS JOIN cents c
    ) WHERE rn = 1
    """,
)
def q56_ivf_assignment(spark, sf_dir):
    """IVF inverted-list build: every vector assigned to its nearest
    coarse centroid (operators/similarity.ivf_assign) — the part
    whose distribution matters at 100 TB (broadcast centroids, corpus
    never shuffles, one window argmin)."""
    from product_etl_spark.operators import similarity as SIM_

    e = _t(spark, sf_dir, "embeddings")
    cents = SIM_.ivf_centroids(e, "embedding", "vec_id", n_lists=4)
    return SIM_.ivf_assign(e, cents, "embedding", "vec_id")


@register(
    "q57_winnowing_fingerprints",
    r"""
    WITH g AS (
      SELECT doc_id,
             [('0x'||substr(md5(substr(LOWER(COALESCE(text,'')), i, 4)),1,15))::BIGINT
                % 2147483647
              FOR i IN RANGE(1, LEN(LOWER(COALESCE(text,''))) - 2)] AS hs
      FROM documents WHERE doc_id < 200
    ),
    sel AS (
      SELECT doc_id,
             UNNEST(list_distinct([list_min(hs[i:i+2])
                                   FOR i IN RANGE(1, LEN(hs) - 1)])) AS fingerprint
      FROM g WHERE LEN(hs) >= 3
    )
    SELECT doc_id, COUNT(*) AS n_fingerprints, MIN(fingerprint) AS min_fp
    FROM sel GROUP BY doc_id
    """,
)
def q57_winnowing_fingerprints(spark, sf_dir):
    """Winnowing (rolling-hash) fingerprint selection per document,
    summarized as counts (the raw fingerprint rows are the overlap-
    join input; operators/dedup.winnowing_fingerprints)."""
    from product_etl_spark.operators import dedup as D_

    d = _t(spark, sf_dir, "documents")
    fp = D_.winnowing_fingerprints(
        d.filter(F.col("doc_id") < 200), "text", "doc_id", gram=4, window=3
    )
    return fp.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fingerprints"),
        F.min("fingerprint").alias("min_fp"),
    )


@register(
    "q58_gopher_quality_filters",
    r"""
    WITH t AS (
      SELECT doc_id, COALESCE(text,'') AS s,
             list_filter(string_split_regex(COALESCE(text,''), '\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             LEN(toks) AS n_words,
             CASE WHEN LEN(toks) = 0 THEN 0.0
                  ELSE list_sum(list_transform(toks, x -> LENGTH(x)))::DOUBLE
                       / LEN(toks) END AS mean_len,
             CASE WHEN LEN(toks) = 0 THEN 1.0
                  ELSE LEN(regexp_extract_all(s, '#|\.\.\.'))::DOUBLE / LEN(toks)
                  END AS symbol_ratio,
             CASE WHEN LEN(toks) = 0 THEN 0.0
                  ELSE LEN(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
                       / LEN(toks) END AS alpha_ratio
      FROM t
    )
    SELECT (n_words >= 50 AND n_words <= 100000)
           AND (mean_len >= 3.0 AND mean_len <= 10.0)
           AND (symbol_ratio <= 0.1)
           AND (alpha_ratio >= 0.8) AS keep,
           COUNT(*) AS n_docs
    FROM m GROUP BY 1
    """,
)
def q58_gopher_quality_filters(spark, sf_dir):
    """Gopher-style quality-filter battery over the corpus,
    summarized as keep/drop counts (functions/text.gopher_quality_flags
    exposes the per-flag breakdown for filter tuning)."""
    from product_etl_spark.functions import text as T_

    d = _t(spark, sf_dir, "documents")
    return (
        d.select(T_.gopher_quality_flags("text")["keep"].alias("keep"))
        .groupBy("keep")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "q59_master_variant_split",
    """
    WITH numbered AS (
      SELECT o_custkey, o_orderkey,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    )
    SELECT o_custkey AS group_key,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_templates,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_variants,
           CAST(MAX(CASE WHEN rn > 1 THEN rn - 1 END) AS BIGINT) AS max_variant_index
    FROM numbered GROUP BY o_custkey
    """,
)
def q59_master_variant_split(spark, sf_dir):
    """The master/variant split semantics (operators/split.py: first
    row per group = template, later rows = variants carrying a
    1-based in-group index) exercised on the orders table — the exact
    window shape of the product ingest, oracle-checked."""
    from product_etl_spark.operators.split import split_master_variants

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey"), F.col("o_orderkey"), F.col("o_orderdate")
    )
    # file order analog: (o_orderdate, o_orderkey)
    ordered = o.withColumn(
        "_source_row_idx",
        F.row_number().over(
            Window.orderBy("o_orderdate", "o_orderkey")
        ),
    )
    templates, variants = split_master_variants(
        ordered.withColumn("o_custkey_str", F.col("o_custkey").cast("string")),
        master_code_col="o_custkey_str",
    )
    t = templates.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_templates"))
    v = variants.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_variants"),
        F.max("in_collection_index").cast("long").alias("max_variant_index"),
    )
    return (
        t.join(v, "o_custkey", "left")
        .select(
            F.col("o_custkey").alias("group_key"),
            "n_templates",
            F.coalesce("n_variants", F.lit(0)).alias("n_variants"),
            "max_variant_index",
        )
    )


_HASH_BUCKET = (
    "('0x' || substr(md5(CAST({key} AS VARCHAR)), 1, 15))::BIGINT % 10000"
)


@register(
    "q60_deterministic_sample",
    f"""
    SELECT COUNT(*) AS n_sampled,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_finished
    FROM orders
    WHERE {_HASH_BUCKET.format(key='o_orderkey')} < 1000
    """,
)
def q60_deterministic_sample(spark, sf_dir):
    """Hash-based 10% sample (operators/sampling.deterministic_sample):
    reproducible across engines/reruns/partitionings, unlike
    seed-based df.sample. The oracle picks the identical rows."""
    from product_etl_spark.operators.sampling import deterministic_sample

    o = _t(spark, sf_dir, "orders")
    s = deterministic_sample(o, "o_orderkey", 0.10)
    return s.agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias(
            "n_finished"
        ),
    )


@register(
    "q61_train_test_split",
    f"""
    WITH b AS (
      SELECT doc_id, {_HASH_BUCKET.format(key='doc_id')} AS bucket FROM documents
    )
    SELECT CASE WHEN bucket < 1000 THEN 'test' ELSE 'train' END AS split,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS min_doc_id
    FROM b GROUP BY 1
    """,
)
def q61_train_test_split(spark, sf_dir):
    """Hash-stable train/test split summary: disjoint, exhaustive,
    and the same document always lands in the same split."""
    from product_etl_spark.operators.sampling import train_test_split

    d = _t(spark, sf_dir, "documents")
    train, test = train_test_split(d, "doc_id", test_fraction=0.10)
    return (
        train.select(F.lit("train").alias("split"), "doc_id")
        .unionByName(test.select(F.lit("test").alias("split"), "doc_id"))
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
    )


@register(
    "q62_stratified_cap",
    """
    SELECT lang, COUNT(*) AS n_docs, MAX(doc_id) AS max_doc_id
    FROM (
      SELECT lang, doc_id,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn <= 25
    GROUP BY lang
    """,
)
def q62_stratified_cap(spark, sf_dir):
    """Balanced subset: at most 25 docs per language, deterministic
    doc_id order (operators/sampling.stratified_cap)."""
    from product_etl_spark.operators.sampling import stratified_cap

    d = _t(spark, sf_dir, "documents")
    capped = stratified_cap(d, ["lang"], 25, "doc_id")
    return capped.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"), F.max("doc_id").alias("max_doc_id")
    )


@register(
    "q63_source_mixing",
    f"""
    WITH b AS (
      SELECT source, doc_id, {_HASH_BUCKET.format(key='doc_id')} AS bucket
      FROM documents
    )
    SELECT source, COUNT(*) AS n_docs
    FROM b
    WHERE (source = 'src0' AND bucket < 10000)
       OR (source = 'src1' AND bucket < 5000)
       OR (source = 'src2' AND bucket < 2500)
    GROUP BY source
    """,
)
def q63_source_mixing(spark, sf_dir):
    """Mixture-recipe step: per-source deterministic keep fractions
    (src0 100%, src1 50%, src2 25%; other sources dropped)."""
    from product_etl_spark.operators.sampling import mix_sources

    d = _t(spark, sf_dir, "documents")
    mixed = mix_sources(
        d, "source", "doc_id", {"src0": 1.0, "src1": 0.5, "src2": 0.25}
    )
    return mixed.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))


@register(
    "q64_pii_redaction",
    r"""
    WITH raw AS (
      SELECT p_partkey,
             CONCAT('contact x', p_partkey, '@example.com or visit https://x.co/',
                    p_brand, ' ref ', CAST(p_partkey + 10000000 AS VARCHAR)) AS s
      FROM part WHERE p_partkey < 400
    )
    SELECT p_partkey,
           regexp_replace(regexp_replace(regexp_replace(s,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             'https?://[^ ]+', '<URL>', 'g'),
             '\b\d{7,}\b', '<DIGITS>', 'g') AS redacted
    FROM raw
    """,
)
def q64_pii_redaction(spark, sf_dir):
    """PII scrub (emails/URLs/long digit runs) over synthesized
    strings; oracle replicates the exact regex chain. NB the URL
    pattern here is [^\\s]+ — both engines treat the synthesized
    single-space strings identically."""
    from product_etl_spark.functions import text as T_

    p = _t(spark, sf_dir, "part")
    raw = p.filter(F.col("p_partkey") < 400).select(
        "p_partkey",
        F.concat(
            F.lit("contact x"),
            F.col("p_partkey").cast("string"),
            F.lit("@example.com or visit https://x.co/"),
            "p_brand",
            F.lit(" ref "),
            (F.col("p_partkey") + 10_000_000).cast("string"),
        ).alias("s"),
    )
    return raw.select("p_partkey", T_.redact_pii("s").alias("redacted"))


@register(
    "q65_line_repetition",
    r"""
    WITH raw AS (
      SELECT doc_id,
             CONCAT(text, CHR(10), text, CHR(10),
                    CASE WHEN doc_id % 2 = 0 THEN text ELSE 'unique tail' END) AS s
      FROM documents WHERE doc_id < 300
    ),
    t AS (
      SELECT doc_id,
             list_filter(string_split(s, CHR(10)), x -> TRIM(x) <> '') AS lines
      FROM raw
    )
    SELECT doc_id,
           CASE WHEN LEN(lines) <= 1 THEN 0.0
                ELSE ROUND(1.0 - LEN(list_distinct(lines))::DOUBLE / LEN(lines), 4)
           END AS rep_ratio
    FROM t
    """,
)
def q65_line_repetition(spark, sf_dir):
    """Duplicate-line ratio (Gopher repetition-filter family) over
    documents synthesized to contain repeated lines."""
    from product_etl_spark.functions import text as T_

    d = _t(spark, sf_dir, "documents")
    raw = d.filter(F.col("doc_id") < 300).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\n"),
            F.col("text"),
            F.lit("\n"),
            F.when(F.col("doc_id") % 2 == 0, F.col("text")).otherwise(
                F.lit("unique tail")
            ),
        ).alias("s"),
    )
    return raw.select(
        "doc_id", T_.line_repetition_ratio("s").alias("rep_ratio")
    )


@register(
    "q66_context_packing",
    r"""
    WITH t AS (
      SELECT doc_id,
             LEN(list_filter(string_split_regex(COALESCE(text,''), '\s+'),
                             x -> x <> '')) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS cum_before
      FROM t
    )
    SELECT CAST(COALESCE(cum_before, 0) // 512 AS BIGINT) AS pack_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
    FROM c GROUP BY 1
    """,
)
def q66_context_packing(spark, sf_dir):
    """Context-window packing: documents (in deterministic doc_id
    order) assigned to ~512-token packs by cumulative token count —
    the sequence-packing step of a pretraining pipeline. Spark side
    uses the two-phase bucketed cumsum (operators/packing.py): no
    whole-corpus window; bucket_width=64 so the multi-bucket path is
    actually exercised at test scale."""
    from product_etl_spark.functions import text as T_
    from product_etl_spark.operators.packing import pack_contexts

    d = _t(spark, sf_dir, "documents")
    t = d.select("doc_id", T_.token_count("text").cast("long").alias("n_tokens"))
    packed = pack_contexts(t, "doc_id", "n_tokens", pack_size=512, bucket_width=64)
    return packed.groupBy("pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("pack_tokens"),
    )


@register(
    "q67_nations_intersect",
    """
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def q67_nations_intersect(spark, sf_dir):
    """INTERSECT (set semantics) — completes the set-op family
    (union q12, except q13)."""
    cu, s = _t(spark, sf_dir, "customer", "supplier")
    return cu.select(F.col("c_nationkey").alias("nationkey")).intersect(
        s.select(F.col("s_nationkey").alias("nationkey"))
    )


@register(
    "q68_user_event_type_sets",
    """
    SELECT user_id,
           array_to_string(list_sort(list_distinct(list(event_type))), ',')
             AS event_types,
           COUNT(DISTINCT event_type) AS n_types
    FROM events WHERE user_id < 30
    GROUP BY user_id
    """,
)
def q68_user_event_type_sets(spark, sf_dir):
    """Array aggregation: the distinct set of event types per user as
    a sorted array (collect_set + sort_array), serialized to a comma
    string at the result boundary — the driver's compare harness
    sorts result columns through pandas, and a raw array column there
    is an unhashable numpy.ndarray (r5 q68 driver error). The array
    semantics stay under test; only the output representation is
    scalar."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(F.col("user_id") < 30)
        .groupBy("user_id")
        .agg(
            F.array_join(F.sort_array(F.collect_set("event_type")), ",").alias(
                "event_types"
            ),
            F.countDistinct("event_type").alias("n_types"),
        )
    )


@register(
    "q69_null_aware_not_in",
    """
    WITH probe AS (
      SELECT c_custkey FROM customer WHERE c_custkey < 100
      UNION ALL SELECT NULL
    )
    SELECT COUNT(*) AS n_orders_kept,
           (SELECT COUNT(*) FROM orders) AS n_orders_total
    FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM probe)
    """,
)
def q69_null_aware_not_in(spark, sf_dir):
    """NOT IN with a NULL in the subquery — the classic three-valued-
    logic trap: one NULL makes NOT IN never-true, so zero rows
    survive. A naive left_anti translation gets this WRONG (it would
    keep custkeys >= 100); Catalyst's null-aware anti join
    (RewritePredicateSubquery) implements SQL semantics, so the
    engine expresses this via SQL, not a hand-rolled anti-join."""
    _t(spark, sf_dir, "orders", "customer")  # registers the views
    return spark.sql(
        """
        WITH probe AS (
          SELECT c_custkey FROM customer WHERE c_custkey < 100
          UNION ALL SELECT NULL
        )
        SELECT COUNT(*) AS n_orders_kept,
               (SELECT COUNT(*) FROM orders) AS n_orders_total
        FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM probe)
        """
    )


@register(
    "q70_null_safe_join",
    """
    WITH a AS (
      SELECT CASE WHEN c_custkey % 10 = 0 THEN NULL
                  ELSE c_nationkey END AS k, c_custkey
      FROM customer WHERE c_custkey < 200
    ),
    b AS (
      SELECT CASE WHEN n_nationkey % 5 = 0 THEN NULL
                  ELSE n_nationkey END AS k, n_name
      FROM nation
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_matches,
           CAST(SUM(CASE WHEN a.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null_matches
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
)
def q70_null_safe_join(spark, sf_dir):
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL
    keys match each other — needed when dimension keys are genuinely
    optional. Spark's eqNullSafe compiles to the same null-safe hash
    join."""
    cu, n = _t(spark, sf_dir, "customer", "nation")
    a = cu.filter(F.col("c_custkey") < 200).select(
        F.when(F.col("c_custkey") % 10 == 0, F.lit(None))
        .otherwise(F.col("c_nationkey"))
        .alias("k"),
        "c_custkey",
    )
    b = n.select(
        F.when(F.col("n_nationkey") % 5 == 0, F.lit(None))
        .otherwise(F.col("n_nationkey"))
        .alias("bk"),
        "n_name",
    )
    joined = a.join(b, a.k.eqNullSafe(b.bk))
    return joined.agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.sum(F.when(F.col("k").isNull(), 1).otherwise(0)).alias("n_null_matches"),
    )


# ---------------------------------------------------------------------------
# Classic TPC-H shapes (adapted to the columns present in the driver's
# synthetic tables) — the canonical relational benchmarks, each with
# the standard scale story in its docstring.


@register(
    "q71_tpch_q6_forecast_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q71_tpch_q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6: pure scan + filter + agg — the pushdown benchmark.
    Every predicate reaches the parquet reader; zero joins, one
    map-side partial sum."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.sum(dec("l_extendedprice") * dec("l_discount"))
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q72_tpch_q3_shipping_priority",
    """
    SELECT l.l_orderkey,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 - l.l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           CAST(o.o_orderdate AS DATE) AS orderdate
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1997-06-30 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1997-06-30 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q72_tpch_q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3: selective dimension filter -> join -> top-k. The
    segment filter cuts customer before the join (semi-join
    pushdown); per-order aggregation keys on the join key so the
    lineitem exchange is reused."""
    cu, o, li = _t(spark, sf_dir, "customer", "orders", "lineitem")
    cutoff = F.lit("1997-06-30 00:00:00").cast("timestamp")
    return (
        cu.filter(F.col("c_mktsegment") == "BUILDING")
        .join(o.filter(F.col("o_orderdate") < cutoff), o.o_custkey == cu.c_custkey)
        .join(li.filter(F.col("l_shipdate") > cutoff), li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.sum(dec("l_extendedprice") * dec(F.lit(1) - F.col("l_discount")))
            .cast("double")
            .alias("revenue")
        )
        .select(
            "l_orderkey", "revenue", F.to_date("o_orderdate").alias("orderdate")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "q73_tpch_q5_local_supplier_volume",
    """
    SELECT n.n_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 - l.l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
)
def q73_tpch_q5_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5: the 6-way join with the customer-nation = supplier-
    nation correlation. nation/region broadcast; the c/o/l spine
    shuffles on its join keys once each; Catalyst orders the joins."""
    cu, o, li, s, n, r = _t(
        spark, sf_dir, "customer", "orders", "lineitem", "supplier", "nation", "region"
    )
    return (
        cu.join(o, o.o_custkey == cu.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(
            s,
            (s.s_suppkey == li.l_suppkey) & (s.s_nationkey == cu.c_nationkey),
        )
        .join(F.broadcast(n), n.n_nationkey == s.s_nationkey)
        .join(F.broadcast(r.filter(F.col("r_name") == "ASIA")), r.r_regionkey == n.n_regionkey)
        .groupBy("n_name")
        .agg(
            F.sum(dec("l_extendedprice") * dec(F.lit(1) - F.col("l_discount")))
            .cast("double")
            .alias("revenue")
        )
    )


@register(
    "q74_tpch_q10_returned_items",
    """
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 - l.l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q74_tpch_q10_returned_items(spark, sf_dir):
    """TPC-H Q10: returned-item reporting — fact filter, 3 joins,
    top-k customers by lost revenue.

    Aggregate-below-join (SCALING.md): returned-lineitem revenue is
    pre-summed per orderkey BEFORE the orders/customer joins, so the
    exchange carries one row per qualifying order instead of ~4
    lineitems per order. Decimal addition is associative, so the
    two-level sum is bit-identical to summing raw products after the
    join. Nation stays broadcast; the final top-20 is
    TakeOrderedAndProject.
    """
    cu, o, li, n = _t(spark, sf_dir, "customer", "orders", "lineitem", "nation")
    order_rev = (
        li.filter(F.col("l_returnflag") == "R")
        .groupBy("l_orderkey")
        .agg(
            F.sum(dec("l_extendedprice") * dec(F.lit(1) - F.col("l_discount")))
            .alias("order_revenue")
        )
    )
    return (
        order_rev.join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(cu, o.o_custkey == cu.c_custkey)
        .join(F.broadcast(n), n.n_nationkey == cu.c_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum("order_revenue").cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "q75_having_filter",
    """
    SELECT o_custkey, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 5
    """,
)
def q75_having_filter(spark, sf_dir):
    """GROUP BY ... HAVING (post-aggregation predicate)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(dec("o_totalprice")).cast("double").alias("total"),
        )
        .filter(F.col("n_orders") >= 5)
    )


@register(
    "q76_ntile_quartiles",
    """
    SELECT quartile, COUNT(*) AS n,
           CAST(MIN(o_totalprice) AS DOUBLE) AS min_price,
           CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
    FROM (
      SELECT o_totalprice,
             NTILE(4) OVER (ORDER BY o_totalprice, o_orderkey) AS quartile
      FROM orders
    ) GROUP BY quartile
    """,
)
def q76_ntile_quartiles(spark, sf_dir):
    """NTILE bucketing (equal-frequency quartiles) with a total
    tiebreak order so bucket membership is deterministic."""
    o = _t(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return (
        o.select("o_totalprice", F.ntile(4).over(w).alias("quartile"))
        .groupBy("quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
    )


@register(
    "q77_vocabulary_topk",
    r"""
    WITH tok AS (
      SELECT UNNEST(list_filter(string_split_regex(LOWER(COALESCE(text,'')),
             '\s+'), x -> x <> '')) AS word
      FROM documents
    )
    SELECT word, COUNT(*) AS freq
    FROM tok GROUP BY word
    ORDER BY freq DESC, word ASC
    LIMIT 20
    """,
)
def q77_vocabulary_topk(spark, sf_dir):
    """Vocabulary build: corpus word frequencies, top-20 — explode +
    count with map-side combine; the first step of any tokenizer
    training run."""
    from product_etl_spark.functions import text as T_

    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(T_.tokens(F.lower(F.col("text")))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("word"))
        .limit(20)
    )


@register(
    "q78_array_higher_order",
    """
    SELECT vec_id,
           LEN(list_filter(embedding, x -> x > 0)) AS n_positive,
           ROUND(list_max(list_transform(embedding::DOUBLE[], x -> ABS(x))), 4)
             AS max_abs,
           ROUND(list_sum(list_transform(embedding[1:8]::DOUBLE[], x -> x)), 4)
             AS head_sum
    FROM embeddings WHERE vec_id < 200
    """,
)
def q78_array_higher_order(spark, sf_dir):
    """Array higher-order functions at the query surface: filter /
    transform / slice / aggregate over the embedding arrays (the
    Spark lambda-expression family vs DuckDB list lambdas)."""
    e = _t(spark, sf_dir, "embeddings")
    head = F.slice(F.col("embedding"), 1, 8)
    return e.filter(F.col("vec_id") < 200).select(
        "vec_id",
        F.size(F.filter(F.col("embedding"), lambda x: x > 0)).alias("n_positive"),
        F.round(
            F.array_max(
                F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))
            ),
            4,
        ).alias("max_abs"),
        F.round(
            F.aggregate(
                head, F.lit(0.0), lambda acc, x: acc + x.cast("double")
            ),
            4,
        ).alias("head_sum"),
    )


@register(
    "q79_json_schema_on_read",
    """
    SELECT k_bucket, COUNT(*) AS n,
           CAST(MIN(k_val) AS BIGINT) AS min_k, CAST(MAX(k_val) AS BIGINT) AS max_k
    FROM (
      SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k_val,
             CAST(json_extract(props, '$.k') AS BIGINT) // 25 AS k_bucket
      FROM events WHERE props IS NOT NULL
    ) GROUP BY k_bucket
    """,
)
def q79_json_schema_on_read(spark, sf_dir):
    """Typed schema-on-read JSON parsing: from_json with an explicit
    schema (vs q51's string extraction) -> typed struct column,
    then bucketed stats."""
    ev = _t(spark, sf_dir, "events")
    parsed = ev.filter(F.col("props").isNotNull()).select(
        F.from_json("props", "k BIGINT").alias("p")
    )
    k = F.col("p.k")
    return (
        parsed.select(k.alias("k_val"), F.floor(k / 25).alias("k_bucket"))
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k_val").alias("min_k"),
            F.max("k_val").alias("max_k"),
        )
    )


@register(
    "q80_running_distinct_types",
    """
    SELECT user_id, event_id,
           LEN(list_distinct(list(event_type)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)))
             AS n_types_so_far
    FROM events WHERE user_id < 10
    """,
)
def q80_running_distinct_types(spark, sf_dir):
    """Running distinct count over a window (how many distinct event
    types has this user produced so far) — collect_set over a running
    frame; the exact windowed-distinct shape (at 100 TB the same
    query ships as a stateful streaming aggregation instead of an
    ever-growing frame)."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.filter(F.col("user_id") < 10).select(
        "user_id",
        "event_id",
        F.size(F.collect_set("event_type").over(w)).alias("n_types_so_far"),
    )
