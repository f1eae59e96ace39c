"""Query catalog: every operator family from SURVEY.md §2 as a
(name -> DataFrame builder, name -> DuckDB oracle SQL) registry.

Each builder takes ``(spark, sf_dir)`` and returns a DataFrame built
with the DataFrame API (Catalyst plans the physical execution); the
oracle is the equivalent ANSI SQL executed by DuckDB over the same
parquet tables. Column names are aligned on both sides because the
driver's compare sorts columns by name before hashing.

Cross-engine determinism rules used throughout:
- money/double sums are computed over ``decimal(18,2)`` casts (exact,
  order-insensitive), surfaced as decimal or cast to double at the end;
- every top-k has a total tiebreak order;
- all hashing is md5-based (portable), never engine hash functions;
- timestamps are compared as epoch seconds or dates (UTC semantics on
  the Spark side via session timezone).

Section markers (S/P/J/A/W/O/SO/F/M numbers) refer to SURVEY.md §2's
operator inventory; reference citations are in the docstrings there.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from product_etl_spark.functions import cleaners as C
from product_etl_spark.operators import dedup as D
from product_etl_spark.operators import similarity as SIM
from product_etl_spark.functions import text as T
from product_etl_spark.functions import vectors as V
from product_etl_spark.session import load_tables

# ---------------------------------------------------------------------------
# registry plumbing

CATALOG: dict[str, dict] = {}


def register(name: str, oracle: str | None):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        CATALOG[name] = {"fn": fn, "oracle": oracle}
        return fn

    return deco


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec["fn"] for name, spec in CATALOG.items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec["oracle"]
        for name, spec in CATALOG.items()
        if spec["oracle"] is not None
    }


def _t(spark: SparkSession, sf_dir: str, *names: str):
    tables = load_tables(spark, sf_dir, list(names))
    if len(names) == 1:
        return tables[names[0]]
    return [tables[n] for n in names]


def dec(col, p: int = 18, s: int = 2):
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({p},{s})")


# ---------------------------------------------------------------------------
# Relational core (S1/P*/J*/A*/W*/O*/SO* families)


@register(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark, sf_dir):
    """Flagship TPC-H-Q1-style rollup (A1/A5 + F17 arithmetic).

    The plan we want at 100 TB: partial aggregation map-side, single
    shuffle on the 2 low-cardinality keys, decimal math inside
    codegen — verified in tests/test_plans.py.
    """
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(dec("l_extendedprice") * dec(F.lit(1) - F.col("l_discount")))
            .cast("double")
            .alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q02_top_revenue_orders",
    """
    SELECT o.o_orderkey, c.c_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 - l.l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey, c.c_name
    ORDER BY revenue DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def q02_top_revenue_orders(spark, sf_dir):
    """3-way join + agg + total-order top-k (J1/J2/A6/O3).

    Aggregate below the join: lineitem reduces to one row per
    orderkey *before* touching orders/customer (the group key is the
    join key, so revenue is unchanged), then both dimension joins
    broadcast. The naive join-first plan shuffles the full lineitem
    with customer names attached — 4x the exchanged bytes at any
    scale.
    """
    cu, o, li = _t(spark, sf_dir, "customer", "orders", "lineitem")
    rev = li.groupBy("l_orderkey").agg(
        F.sum(dec("l_extendedprice") * dec(F.lit(1) - F.col("l_discount")))
        .cast("double")
        .alias("revenue")
    )
    return (
        rev.join(o, rev.l_orderkey == o.o_orderkey)
        .join(cu, o.o_custkey == cu.c_custkey)
        .select("o_orderkey", "c_name", "revenue")
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@register(
    "q03_region_nation_rollup",
    """
    SELECT r.r_name, n.n_name, COUNT(*) AS n_suppliers,
           CAST(SUM(CAST(s.s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def q03_region_nation_rollup(spark, sf_dir):
    """Dim-chain join (J2) with broadcast-able small sides (A5/A10).

    nation (25) and region (5) broadcast; no shuffle on the fact side
    until the final low-cardinality aggregation.
    """
    s, n, r = _t(spark, sf_dir, "supplier", "nation", "region")
    return (
        s.join(F.broadcast(n), n.n_nationkey == s.s_nationkey)
        .join(F.broadcast(r), r.r_regionkey == n.n_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum(dec("s_acctbal")).cast("double").alias("total_acctbal"),
        )
    )


@register(
    "q04_customers_without_orders",
    """
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q04_customers_without_orders(spark, sf_dir):
    """Anti-join — the reference's core incremental pattern (J4/J5:
    LEFT JOIN ... IS NULL / NOT EXISTS -> left_anti)."""
    cu, o = _t(spark, sf_dir, "customer", "orders")
    return cu.join(o, cu.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "q05_customers_with_urgent_orders",
    """
    SELECT DISTINCT c.c_custkey, c.c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
    """,
)
def q05_customers_with_urgent_orders(spark, sf_dir):
    """Semi-join (J7: EXISTS/IN -> left_semi)."""
    cu, o = _t(spark, sf_dir, "customer", "orders")
    return cu.join(
        o.filter(F.col("o_orderpriority") == "1-URGENT"),
        cu.c_custkey == o.o_custkey,
        "left_semi",
    ).select("c_custkey", "c_mktsegment")


@register(
    "q06_order_counts_left",
    """
    SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
    """,
)
def q06_order_counts_left(spark, sf_dir):
    """Left outer join preserving zero-order customers (J3 + A2)."""
    cu, o = _t(spark, sf_dir, "customer", "orders")
    return (
        cu.join(o, o.o_custkey == cu.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@register(
    "q07_order_date_range",
    """
    SELECT o_orderstatus,
           CAST(MIN(o_orderdate) AS DATE) AS first_order,
           CAST(MAX(o_orderdate) AS DATE) AS last_order,
           COUNT(*) AS n
    FROM orders GROUP BY o_orderstatus
    """,
)
def q07_order_date_range(spark, sf_dir):
    """MIN/MAX over timestamps (A7) surfaced as dates."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.to_date(F.min("o_orderdate")).alias("first_order"),
        F.to_date(F.max("o_orderdate")).alias("last_order"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q08_segment_distinct_nations",
    """
    SELECT c_mktsegment,
           COUNT(DISTINCT c_nationkey) AS n_nations,
           COUNT(*) AS n_customers
    FROM customer GROUP BY c_mktsegment
    """,
)
def q08_segment_distinct_nations(spark, sf_dir):
    """COUNT(DISTINCT) (A4). At 100 TB the same query ships as
    approx_count_distinct; exact here because the oracle is exact."""
    cu = _t(spark, sf_dir, "customer")
    return cu.groupBy("c_mktsegment").agg(
        F.countDistinct("c_nationkey").alias("n_nations"),
        F.count(F.lit(1)).alias("n_customers"),
    )


@register(
    "q09_priority_status_matrix",
    """
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
           CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F','O') THEN 1 ELSE 0 END) AS BIGINT) AS n_other
    FROM orders GROUP BY o_orderpriority
    """,
)
def q09_priority_status_matrix(spark, sf_dir):
    """Conditional aggregation (A3: COUNT(CASE WHEN ...))."""
    o = _t(spark, sf_dir, "orders")
    flag = F.col("o_orderstatus")
    return o.groupBy("o_orderpriority").agg(
        F.sum(F.when(flag == "F", 1).otherwise(0)).alias("n_finished"),
        F.sum(F.when(flag == "O", 1).otherwise(0)).alias("n_open"),
        F.sum(F.when(~flag.isin("F", "O"), 1).otherwise(0)).alias("n_other"),
    )


@register(
    "q10_topk_brands",
    """
    SELECT p_brand, COUNT(*) AS n_parts
    FROM part GROUP BY p_brand
    ORDER BY n_parts DESC, p_brand ASC
    LIMIT 5
    """,
)
def q10_topk_brands(spark, sf_dir):
    """GROUP BY + count + top-k (A6) — plans TakeOrderedAndProject."""
    p = _t(spark, sf_dir, "part")
    return (
        p.groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .orderBy(F.desc("n_parts"), F.asc("p_brand"))
        .limit(5)
    )


@register(
    "q11_distinct_flag_status",
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def q11_distinct_flag_status(spark, sf_dir):
    """DISTINCT projection (A9)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select("l_returnflag", "l_linestatus").distinct()


@register(
    "q12_active_nations_union",
    """
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def q12_active_nations_union(spark, sf_dir):
    """UNION with dedup (SO3)."""
    cu, s = _t(spark, sf_dir, "customer", "supplier")
    return (
        cu.select(F.col("c_nationkey").alias("nationkey"))
        .unionByName(s.select(F.col("s_nationkey").alias("nationkey")))
        .distinct()
    )


@register(
    "q13_customer_only_nations",
    """
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def q13_customer_only_nations(spark, sf_dir):
    """Set difference (SO1). ``subtract`` = EXCEPT DISTINCT — set
    semantics, matching SQL EXCEPT (``exceptAll`` would keep leftover
    duplicate multiplicities)."""
    cu, s = _t(spark, sf_dir, "customer", "supplier")
    return cu.select(F.col("c_nationkey").alias("nationkey")).subtract(
        s.select(F.col("s_nationkey").alias("nationkey"))
    )


@register(
    "q14_first_order_per_customer",
    """
    SELECT o_custkey, o_orderkey AS first_orderkey,
           CAST(o_orderdate AS DATE) AS first_orderdate
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
)
def q14_first_order_per_customer(spark, sf_dir):
    """First-row-per-group — the reference's master/template selection
    (W1: ETL.py iloc[0] semantics) as a window."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("first_orderkey"),
            F.to_date("o_orderdate").alias("first_orderdate"),
        )
    )


@register(
    "q15_running_customer_revenue",
    """
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_revenue
    FROM orders
    WHERE o_custkey < 100
    """,
)
def q15_running_customer_revenue(spark, sf_dir):
    """Running windowed aggregate with an explicit frame (W-family).

    Decimal inside the frame so the running sum is exact and
    order-of-addition independent across engines.
    """
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        o.filter(F.col("o_custkey") < 100)
        .select(
            "o_custkey",
            "o_orderkey",
            F.sum(dec("o_totalprice")).over(w).cast("double").alias("running_revenue"),
        )
    )


@register(
    "q16_like_filter",
    """
    SELECT p_brand, COUNT(*) AS n
    FROM part
    WHERE p_type LIKE '%STEEL%' OR p_name LIKE '%red%'
    GROUP BY p_brand
    """,
)
def q16_like_filter(spark, sf_dir):
    """LIKE-pattern predicates (P6) pushed to the scan."""
    p = _t(spark, sf_dir, "part")
    return (
        p.filter(F.col("p_type").like("%STEEL%") | F.col("p_name").like("%red%"))
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "q17_null_empty_guards",
    """
    SELECT event_type, COUNT(*) AS n
    FROM events
    WHERE props IS NOT NULL AND props <> '' AND value IS NOT NULL
    GROUP BY event_type
    """,
)
def q17_null_empty_guards(spark, sf_dir):
    """NULL / empty-string guards (P7: the reference's
    'IS NOT NULL AND != '' driving-set predicate)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(
            F.col("props").isNotNull()
            & (F.col("props") != "")
            & F.col("value").isNotNull()
        )
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "q18_price_buckets",
    """
    SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
                WHEN o_totalprice < 150000 THEN 'medium'
                ELSE 'large' END AS bucket,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders GROUP BY 1
    """,
)
def q18_price_buckets(spark, sf_dir):
    """CASE expression buckets (F17) + agg."""
    o = _t(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 150000, "medium")
        .otherwise("large")
        .alias("bucket")
    )
    return o.groupBy(bucket).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("o_totalprice")).cast("double").alias("total"),
    )


@register(
    "q19_orders_by_year",
    """
    SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS order_year,
           COUNT(*) AS n,
           COUNT(CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
                      THEN 1 END) AS n_recent
    FROM orders GROUP BY 1
    """,
)
def q19_orders_by_year(spark, sf_dir):
    """Date extraction + interval-style predicates (F14/F15)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(
        F.year("o_orderdate").cast("long").alias("order_year")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.count(
            F.when(
                F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"),
                1,
            )
        ).alias("n_recent"),
    )


@register(
    "q20_string_projection",
    """
    SELECT p_partkey,
           UPPER(p_brand) AS brand_uc,
           TRIM(SUBSTR(p_name, 1, 12)) AS name_prefix,
           LENGTH(p_name) AS name_len,
           CONCAT(p_brand, '/', p_type) AS brand_type
    FROM part WHERE p_size >= 40
    """,
)
def q20_string_projection(spark, sf_dir):
    """String scalar functions (F1/F10-ish projection)."""
    p = _t(spark, sf_dir, "part")
    return p.filter(F.col("p_size") >= 40).select(
        "p_partkey",
        F.upper("p_brand").alias("brand_uc"),
        F.trim(F.substring("p_name", 1, 12)).alias("name_prefix"),
        F.length("p_name").cast("long").alias("name_len"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
    )


# ---------------------------------------------------------------------------
# Reference-specific parser semantics exercised over synthesized strings
# (the oracle replicates the parse in SQL, proving the semantics match)


@register(
    "q21_attribute_parse_explode",
    """
    WITH raw AS (
      SELECT p_partkey,
             CONCAT('brand:', p_brand, '-type:', p_type, ';size:', p_size) AS attrs
      FROM part WHERE p_partkey < 500
    ),
    pairs AS (
      SELECT p_partkey, UNNEST(string_split(attrs, '-')) AS dash_part FROM raw
    ),
    subpairs AS (
      SELECT p_partkey, UNNEST(string_split(dash_part, ';')) AS pair FROM pairs
    )
    SELECT p_partkey,
           TRIM(split_part(pair, ':', 1)) AS attr_key,
           TRIM(SUBSTR(pair, POSITION(':' IN pair) + 1)) AS attr_value
    FROM subpairs
    WHERE POSITION(':' IN pair) > 0 AND TRIM(split_part(pair, ':', 1)) <> ''
    """,
)
def q21_attribute_parse_explode(spark, sf_dir):
    """The reference's attribute-string parser (F3: split on '-' then
    ';' then first ':') as pure Catalyst expressions, UDTF-style
    explode (§2.11). The oracle re-implements the same grammar in SQL
    — proving parse semantics, not just plumbing."""
    p = _t(spark, sf_dir, "part")
    raw = p.filter(F.col("p_partkey") < 500).select(
        "p_partkey",
        F.concat(
            F.lit("brand:"),
            "p_brand",
            F.lit("-type:"),
            "p_type",
            F.lit(";size:"),
            F.col("p_size").cast("string"),
        ).alias("attrs"),
    )
    return raw.select(
        "p_partkey", F.explode(C.parse_attributes("attrs")).alias("kv")
    ).select("p_partkey", F.col("kv.attr_key"), F.col("kv.attr_value"))


@register(
    "q22_url_extraction",
    """
    WITH raw AS (
      SELECT p_partkey,
             CONCAT('img: https://img.example.com/', p_partkey,
                    '.jpg?s=1, alt https://cdn.example.com/', p_brand, '/x.png junk') AS s
      FROM part WHERE p_partkey < 300
    )
    SELECT p_partkey,
           regexp_extract(s, 'https?://[^ ,\\]]+', 0) AS first_url,
           LENGTH(s) - LENGTH(REPLACE(s, 'https://', '')) AS n_urls_times_8,
           '.jpg' AS default_ext
    FROM raw
    """,
)
def q22_url_extraction(spark, sf_dir):
    """URL regex extraction with the reference's terminator set (F2)."""
    p = _t(spark, sf_dir, "part")
    raw = p.filter(F.col("p_partkey") < 300).select(
        "p_partkey",
        F.concat(
            F.lit("img: https://img.example.com/"),
            F.col("p_partkey").cast("string"),
            F.lit(".jpg?s=1, alt https://cdn.example.com/"),
            "p_brand",
            F.lit("/x.png junk"),
        ).alias("s"),
    )
    return raw.select(
        "p_partkey",
        C.extract_urls("s")[0].alias("first_url"),
        (F.length("s") - F.length(F.regexp_replace("s", "https://", "")))
        .cast("long")
        .alias("n_urls_times_8"),
        F.lit(".jpg").alias("default_ext"),
    )


# ---------------------------------------------------------------------------
# Events: time-series / sessionization (streaming-shaped batch)


@register(
    "q23_hourly_event_rollup",
    """
    SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q23_hourly_event_rollup(spark, sf_dir):
    """Tumbling-window rollup (the batch shape of a streaming
    windowed agg)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.unix_timestamp(F.date_trunc("hour", "ts")).alias("hour_epoch"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("value")).cast("double").alias("total_value"),
    )


@register(
    "q24_sessionization",
    """
    WITH gaps AS (
      SELECT user_id, event_id, ts,
             CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800 * 1000000
                  OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, event_id,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM gaps
    ),
    per_session AS (
      SELECT user_id, session_id, COUNT(*) AS n_events
      FROM sessions GROUP BY user_id, session_id
    )
    SELECT user_id, COUNT(*) AS n_sessions,
           CAST(MAX(n_events) AS BIGINT) AS max_session_events
    FROM per_session GROUP BY user_id
    """,
)
def q24_sessionization(spark, sf_dir):
    """Gaps-and-islands sessionization (30-min inactivity gap): lag +
    running sum. A streaming form would be a session window with
    watermark; batch semantics here are oracle-checkable.
    """
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lag_us = F.unix_micros(F.lag("ts").over(w))
    new_sess = F.when(
        lag_us.isNull() | (F.unix_micros("ts") - lag_us > 1800 * 1_000_000), 1
    ).otherwise(0)
    sessions = ev.withColumn("new_session", new_sess).withColumn(
        "session_id", F.sum("new_session").over(run)
    )
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.max("n_events").alias("max_session_events"),
    )


@register(
    "q25_event_type_share",
    """
    WITH counts AS (
      SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type
    )
    SELECT event_type, n,
           ROUND(n * 100.0 / SUM(n) OVER (), 4) AS pct
    FROM counts
    """,
)
def q25_event_type_share(spark, sf_dir):
    """Percent-of-total (F18) via an unpartitioned window."""
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return counts.select(
        "event_type",
        "n",
        F.round(F.col("n") * 100.0 / F.sum("n").over(Window.partitionBy()), 4).alias(
            "pct"
        ),
    )


@register(
    "q26_user_event_timeline",
    """
    SELECT user_id,
           string_agg(event_type, ' ' ORDER BY ts, event_id) AS timeline
    FROM events WHERE user_id < 20
    GROUP BY user_id
    """,
)
def q26_user_event_timeline(spark, sf_dir):
    """Ordered string-concat group agg (A8) — the reference's OCR
    fragment join: collect_list(struct(order_keys, value)) sorted,
    then concat — order preserved via the struct sort."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(F.col("user_id") < 20)
        .groupBy("user_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
            ).alias("timeline")
        )
    )


# ---------------------------------------------------------------------------
# Documents: text analysis + dedup family (training-data operators)


@register(
    "q27_doc_token_stats",
    r"""
    WITH t AS (
      SELECT doc_id, n_chars,
             list_filter(string_split_regex(COALESCE(text,''), '\s+'),
                         x -> x <> '') AS toks
      FROM documents
    )
    SELECT doc_id,
           CAST(LEN(toks) AS INTEGER) AS n_tokens,
           n_chars,
           ROUND(CASE WHEN LEN(toks) = 0 THEN 0.0
                 ELSE list_sum(list_transform(toks, x -> LENGTH(x)))::DOUBLE / LEN(toks)
                 END, 4) AS mean_word_len
    FROM t
    """,
)
def q27_doc_token_stats(spark, sf_dir):
    """Token counting + per-doc stats (text-analysis operator)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        T.token_count("text").alias("n_tokens"),
        "n_chars",
        F.round(T.mean_word_length("text"), 4).alias("mean_word_len"),
    )


@register(
    "q28_doc_quality",
    r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(LOWER(COALESCE(text,'')), '\s+'),
                         x -> x <> '') AS toks,
             COALESCE(text,'') AS s
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             LEN(toks)::DOUBLE AS n_tok,
             CASE WHEN LEN(toks) = 0 THEN 0.0
                  ELSE LEN(list_filter(toks, x -> x IN
                    ('the','a','an','and','or','of','to','in','is','are','was',
                     'were','be','been','it','this','that','for','on','with',
                     'as','at','by','from')))::DOUBLE / LEN(toks) END AS stop_ratio,
             CASE WHEN LENGTH(s) = 0 THEN 0.0
                  ELSE (LENGTH(s) - LENGTH(regexp_replace(s, '[^\p{L}\p{N}\s]', '', 'g')))::DOUBLE
                       / LENGTH(s) END AS punct_ratio
      FROM t
    )
    SELECT doc_id,
           ROUND((LEAST(n_tok / 20.0, 1.0)
                  + (1.0 - LEAST(punct_ratio * 4, 1.0))
                  + LEAST(stop_ratio * 5, 1.0)) / 3, 4) AS quality
    FROM m
    """,
)
def q28_doc_quality(spark, sf_dir):
    """Quality-score heuristic (length/punct/stopword mix); the oracle
    replicates the exact formula so the semantics are pinned."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", T.quality_score("text").alias("quality"))


@register(
    "q29_doc_fingerprint_dedup",
    r"""
    WITH fp AS (
      SELECT doc_id,
             md5(TRIM(regexp_replace(regexp_replace(LOWER(COALESCE(text,'')),
                       '[^\p{L}\p{N}\s]', '', 'g'), '\s+', ' ', 'g'))) AS fingerprint
      FROM documents
    )
    SELECT fingerprint,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS canonical_doc_id
    FROM fp GROUP BY fingerprint
    """,
)
def q29_doc_fingerprint_dedup(spark, sf_dir):
    """Exact dedup via canonical fingerprint: hash-groupBy, keep min
    id as canonical survivor. One shuffle on the hash; at 100 TB the
    same plan holds (hash distributes uniformly, no skew)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select("doc_id", T.fingerprint("text").alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
    )
    # (operators/dedup.fingerprint_dedup is the library form of this)


@register(
    "q30_doc_script_langid",
    r"""
    WITH t AS (
      SELECT doc_id, lang,
             regexp_replace(COALESCE(text,''), '\s', '', 'g') AS s
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN LENGTH(s) = 0 THEN 'unknown'
                WHEN LENGTH(regexp_replace(s, '[^A-Za-z]', '', 'g'))::DOUBLE
                     / LENGTH(s) >= 0.3 THEN 'latin'
                ELSE 'unknown' END AS script
    FROM t
    """,
)
def q30_doc_script_langid(spark, sf_dir):
    """Language-ID heuristic (script detection stage). The synthetic
    corpus is all-latin; the zh/ru/th paths are covered by unit tests
    with real multilingual strings (tests/test_cleaners.py)."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", T.detect_script("text").alias("script"))


_MINHASH_ORACLE_COLS = ",\n           ".join(
    "MIN((%d * hv + %d) %% 2147483647) AS h%d" % (a, b, i)
    for i, (a, b) in enumerate(D.minhash_params(8))
)

_SHINGLE_CTE = r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(LOWER(COALESCE(text,'')), '\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    sh_arr AS (
      SELECT doc_id,
             list_distinct(CASE WHEN LEN(toks) < 2 THEN []
                  ELSE [array_to_string(toks[i:i+1], ' ')
                        FOR i IN RANGE(1, LEN(toks))] END) AS sh
      FROM t
    ),
    s AS (
      SELECT doc_id,
             ('0x' || substr(md5(UNNEST(sh)), 1, 15))::BIGINT % 2147483647 AS hv
      FROM sh_arr
    )
"""


@register(
    "q31_minhash_signatures",
    _SHINGLE_CTE
    + f"""
    SELECT doc_id,
           {_MINHASH_ORACLE_COLS}
    FROM s GROUP BY doc_id
    """,
)
def q31_minhash_signatures(spark, sf_dir):
    """MinHash sketch (k=8) over word-bigram shingles — pure built-in
    expressions, zero UDFs; one shuffle on doc_id with map-side
    combine. Docs with <2 tokens have no shingles and drop out, same
    as the oracle's empty-list unnest."""
    d = _t(spark, sf_dir, "documents")
    return D.minhash_signatures(d, "text", "doc_id", k=8)


@register(
    "q32_lsh_near_dup_pairs",
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
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
    WHERE a.doc_id < b.doc_id
    """,
)
def q32_lsh_near_dup_pairs(spark, sf_dir):
    """MinHash-LSH candidate pairs: 4 bands x 2 rows; docs agreeing on
    any full band become candidates. The join is on (band, band_hash)
    — uniformly distributed keys, so the shuffle is skew-free at any
    scale (unlike joining on raw shingles)."""
    d = _t(spark, sf_dir, "documents")
    sig = D.minhash_signatures(d, "text", "doc_id", k=8)
    pairs = D.lsh_candidate_pairs(sig, "doc_id", bands=4, rows_per_band=2)
    return pairs.select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )


@register(
    "q33_ngram_jaccard_pairs",
    r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(LOWER(COALESCE(text,'')), '\s+'),
                         x -> x <> '') AS toks
      FROM documents WHERE doc_id < 100
    ),
    sh AS (
      SELECT doc_id,
             UNNEST(list_distinct(CASE WHEN LEN(toks) < 2 THEN []
                  ELSE [array_to_string(toks[i:i+1], ' ')
                        FOR i IN RANGE(1, LEN(toks))] END)) AS shingle
      FROM t
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.doc_a, i.doc_b,
           ROUND(i.n_inter::DOUBLE / (sa.n + sb.n - i.n_inter), 4) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE i.n_inter::DOUBLE / (sa.n + sb.n - i.n_inter) >= 0.2
    """,
)
def q33_ngram_jaccard_pairs(spark, sf_dir):
    """Exact n-gram Jaccard similarity on a bounded candidate set
    (doc_id < 100). This is the verification stage behind LSH: at
    scale, q32 proposes candidates and this computes true Jaccard on
    the (tiny) candidate set only."""
    d = _t(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(
        d.filter(F.col("doc_id") < 100), "text", "doc_id",
        shingle_n=2, threshold=0.2,
    )
    return pairs.select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        "jaccard",
    )


@register(
    "q34_simhash",
    r"""
    WITH tok AS (
      SELECT doc_id,
             UNNEST(list_filter(string_split_regex(LOWER(COALESCE(text,'')),
                    '\s+'), x -> x <> '')) AS tok
      FROM documents
    ),
    h AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv FROM tok
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN ((hv >> 0) & 1) = 1 THEN 1 ELSE -1 END) > 0 AS INTEGER)
           + 2 * CAST(SUM(CASE WHEN ((hv >> 1) & 1) = 1 THEN 1 ELSE -1 END) > 0 AS INTEGER)
           + 4 * CAST(SUM(CASE WHEN ((hv >> 2) & 1) = 1 THEN 1 ELSE -1 END) > 0 AS INTEGER)
           + 8 * CAST(SUM(CASE WHEN ((hv >> 3) & 1) = 1 THEN 1 ELSE -1 END) > 0 AS INTEGER)
           + 16 * CAST(SUM(CASE WHEN ((hv >> 4) & 1) = 1 THEN 1 ELSE -1 END) > 0 AS INTEGER)
           + 32 * CAST(SUM(CASE WHEN ((hv >> 5) & 1) = 1 THEN 1 ELSE -1 END) > 0 AS INTEGER)
           + 64 * CAST(SUM(CASE WHEN ((hv >> 6) & 1) = 1 THEN 1 ELSE -1 END) > 0 AS INTEGER)
           + 128 * CAST(SUM(CASE WHEN ((hv >> 7) & 1) = 1 THEN 1 ELSE -1 END) > 0 AS INTEGER)
           + 256 * CAST(SUM(CASE WHEN ((hv >> 8) & 1) = 1 THEN 1 ELSE -1 END) > 0 AS INTEGER)
           + 512 * CAST(SUM(CASE WHEN ((hv >> 9) & 1) = 1 THEN 1 ELSE -1 END) > 0 AS INTEGER)
           + 1024 * CAST(SUM(CASE WHEN ((hv >> 10) & 1) = 1 THEN 1 ELSE -1 END) > 0 AS INTEGER)
           + 2048 * CAST(SUM(CASE WHEN ((hv >> 11) & 1) = 1 THEN 1 ELSE -1 END) > 0 AS INTEGER)
           + 4096 * CAST(SUM(CASE WHEN ((hv >> 12) & 1) = 1 THEN 1 ELSE -1 END) > 0 AS INTEGER)
           + 8192 * CAST(SUM(CASE WHEN ((hv >> 13) & 1) = 1 THEN 1 ELSE -1 END) > 0 AS INTEGER)
           + 16384 * CAST(SUM(CASE WHEN ((hv >> 14) & 1) = 1 THEN 1 ELSE -1 END) > 0 AS INTEGER)
           + 32768 * CAST(SUM(CASE WHEN ((hv >> 15) & 1) = 1 THEN 1 ELSE -1 END) > 0 AS INTEGER)
           AS simhash16
    FROM h GROUP BY doc_id
    """,
)
def q34_simhash(spark, sf_dir):
    """16-bit SimHash over token frequencies: per-bit signed vote,
    reassembled as an int. One explode + one groupBy — the standard
    scalable shape (map-side partial aggregation applies)."""
    d = _t(spark, sf_dir, "documents")
    return D.simhash16(d, "text", "doc_id")


# ---------------------------------------------------------------------------
# Embeddings: similarity search


@register(
    "q35_knn_bruteforce",
    """
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
    sims AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             list_dot_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[])
             / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
                * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])))
             AS sim
      FROM q CROSS JOIN embeddings e
      WHERE e.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, ROUND(sim, 4) AS cos_sim
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS rn
      FROM sims
    ) WHERE rn <= 5
    """,
)
def q35_knn_bruteforce(spark, sf_dir):
    """Brute-force cosine top-k ANN baseline: broadcast the (small)
    query set against the full corpus; per-query top-k via window.
    At 100 TB the corpus side stays partitioned, queries broadcast —
    no shuffle of the big side at all."""
    e = _t(spark, sf_dir, "embeddings")
    return SIM.knn_bruteforce(
        e, e.filter(F.col("vec_id") < 10), "embedding", "vec_id", k=5
    )


def _hyperplanes(n_planes: int = 4, dim: int = 64) -> list[list[float]]:
    return SIM.hyperplanes(n_planes, dim)


def _lsh_bucket_sql() -> str:
    planes = _hyperplanes()
    terms = []
    for p, row in enumerate(planes):
        arr = "[" + ", ".join(str(v) for v in row) + "]"
        terms.append(
            f"{2**p} * CAST(list_dot_product(embedding::DOUBLE[], {arr}::DOUBLE[]) > 0 AS INTEGER)"
        )
    bucket = " + ".join(terms)
    return f"""
    SELECT bucket, COUNT(*) AS n_vectors, MIN(vec_id) AS min_vec_id
    FROM (SELECT vec_id, {bucket} AS bucket FROM embeddings)
    GROUP BY bucket
    """


@register("q36_lsh_bucket_histogram", _lsh_bucket_sql())
def q36_lsh_bucket_histogram(spark, sf_dir):
    """Random-hyperplane LSH bucketing — the scale path for ANN:
    vectors hash to 2^4 buckets; queries probe only their bucket.
    Map-only + one tiny aggregation; the bucket id computation is
    pure array math inside codegen."""
    e = _t(spark, sf_dir, "embeddings")
    return (
        SIM.lsh_assign_buckets(e, "embedding")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vectors"), F.min("vec_id").alias("min_vec_id"))
    )


@register(
    "q37_label_centroid_norms",
    """
    WITH expanded AS (
      SELECT label, dim,
             CAST(embedding[dim] AS DECIMAL(18,9)) AS val
      FROM embeddings CROSS JOIN RANGE(1, 65) t(dim)
    ),
    avgs AS (
      SELECT label, dim, CAST(SUM(val) AS DOUBLE) / COUNT(*) AS avg_val
      FROM expanded GROUP BY label, dim
    )
    SELECT label, ROUND(SQRT(SUM(avg_val * avg_val)), 4) AS centroid_norm,
           CAST(MAX(dim) AS BIGINT) AS n_dims
    FROM avgs GROUP BY label
    """,
)
def q37_label_centroid_norms(spark, sf_dir):
    """Per-label centroid (posexplode + exact decimal mean per dim),
    reduced to its L2 norm. The explode shape distributes the
    per-dimension aggregation — the standard way to average vectors
    without collecting them."""
    e = _t(spark, sf_dir, "embeddings")
    expanded = e.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    ).select(
        "label",
        (F.col("pos") + 1).cast("long").alias("dim"),
        F.col("v").cast("decimal(18,9)").alias("val"),
    )
    avgs = expanded.groupBy("label", "dim").agg(
        (F.sum("val").cast("double") / F.count(F.lit(1))).alias("avg_val")
    )
    return avgs.groupBy("label").agg(
        F.round(F.sqrt(F.sum(F.col("avg_val") * F.col("avg_val"))), 4).alias(
            "centroid_norm"
        ),
        F.max("dim").alias("n_dims"),
    )


# ---------------------------------------------------------------------------
# Audit / verification queries (the reference's de-facto test suite)


@register(
    "q38_referential_integrity",
    """
    SELECT
      (SELECT COUNT(*) FROM lineitem l
       WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
      AS orphan_lineitems,
      (SELECT COUNT(*) FROM orders o
       WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
      AS orphan_orders,
      (SELECT COUNT(*) FROM customer c
       WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
      AS orphan_customers
    """,
)
def q38_referential_integrity(spark, sf_dir):
    """Orphan-detection audit (the reference's verify_etl_results
    LEFT-JOIN-IS-NULL integrity checks, J3/J4) as one row of counts.

    One job, not three: the three anti-join counts are 1-row aggs
    cross-joined so all scans run in a single action (no serialized
    driver round-trips)."""
    li, o, cu, n = _t(spark, sf_dir, "lineitem", "orders", "customer", "nation")
    a = (
        li.join(o, li.l_orderkey == o.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("orphan_lineitems"))
    )
    b = (
        o.join(cu, o.o_custkey == cu.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("orphan_orders"))
    )
    c = (
        cu.join(n, cu.c_nationkey == n.n_nationkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("orphan_customers"))
    )
    return a.crossJoin(b).crossJoin(c)


@register(
    "q39_completeness_report",
    """
    SELECT 'orders' AS table_name,
           COUNT(*) AS n_rows,
           ROUND(COUNT(o_orderdate) * 100.0 / COUNT(*), 2) AS orderdate_pct,
           ROUND(COUNT(o_totalprice) * 100.0 / COUNT(*), 2) AS totalprice_pct
    FROM orders
    """,
)
def q39_completeness_report(spark, sf_dir):
    """Column-completeness report (verify_collections.py:49-66: A2 +
    F18 percent-of-total)."""
    o = _t(spark, sf_dir, "orders")
    return o.agg(
        F.lit("orders").alias("table_name"),
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.count("o_orderdate") * 100.0 / F.count(F.lit(1)), 2).alias(
            "orderdate_pct"
        ),
        F.round(F.count("o_totalprice") * 100.0 / F.count(F.lit(1)), 2).alias(
            "totalprice_pct"
        ),
    )


@register(
    "q40_brand_dictionary",
    """
    SELECT p_brand AS attr_value,
           DENSE_RANK() OVER (ORDER BY p_brand) AS value_id,
           COUNT(*) AS n_parts
    FROM part GROUP BY p_brand
    """,
)
def q40_brand_dictionary(spark, sf_dir):
    """Get-or-create dictionary build (J10): distinct values gain
    deterministic ids. The SQL-checkable id here is a dense_rank; the
    production path uses uuid5 (ids.py) — same determinism property,
    tested in tests/test_ids.py."""
    p = _t(spark, sf_dir, "part")
    w = Window.orderBy("attr_value")
    return (
        p.groupBy(F.col("p_brand").alias("attr_value"))
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .withColumn("value_id", F.dense_rank().over(w))
        .select("attr_value", "value_id", "n_parts")
    )
