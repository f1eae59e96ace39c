"""Tenth extension catalog (q156-q168): dedup clustering and its
incremental maintenance with RECURSIVE-CTE oracles, driver-proven
plan rewrites (salting, Morton keys), asymmetric/weighted set
similarity, interval-overlap and as-of attribution joins, grouped
OLS and per-segment divergence, and the portable-sketch trio.

q156/q164 close the same class of hole q142 closed for k-means:
iterative transitive closure (dedup.connected_components — the
post-dedup step every near-dup pipeline ends with) and its
star-collapse incremental MERGE rule were pytest-only because they
aren't single-pass SQL; DuckDB's WITH RECURSIVE reaches the same
fixpoint, so both are now driver-hashed. q157/q158 driver-prove plan
REWRITES result-invariant (skew salting; the bit-exact Morton
interleave). q159/q166 extend exact set similarity beyond symmetric
unweighted Jaccard: one-sided containment (the near-superset case
Jaccard structurally misses) and rarity-weighted Jaccard (integer
df-tier weights + the weighted prefix pigeonhole). q160/q162 give
range-shaped joins equi-key plans (interval grid cells; the as-of
union-window). q161/q163 extend the engine-exact analytics family
(closed-form OLS from decimal moments; per-segment PSI-style
divergence). q165/q167/q168 pin the SKETCH families cross-engine via
portable md5 hashing — CMS cells, HLL registers (exact-integer
harmonic sum), and KMV set overlap — so a replica can verify
sketches it didn't build; the binary DataSketches forms stay the
fast defaults.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from product_etl_spark.operators.dedup import (
    connected_components,
    containment_pairs,
    merge_components,
    set_similarity_pairs,
)
from product_etl_spark.operators.skew import salted_join
from product_etl_spark.operators.zorder import interleave_bits
from product_etl_spark.plans.catalog import _t, register


@register(
    "q156_dedup_cluster_components",
    r"""
    WITH RECURSIVE t AS (
      SELECT doc_id, list_distinct(list_filter(
               string_split_regex(LOWER(COALESCE(text,'')), '\s+'),
               x -> x <> '')) AS s
      FROM documents WHERE doc_id < 300
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
def q156_dedup_cluster_components(spark, sf_dir):
    """Transitive closure of the exact-Jaccard near-dup pairs (q154's
    edge set) into dedup CLUSTERS — (doc_id, component = min reachable
    id) via dedup.connected_components' iterative min-label
    propagation. This is the step every near-dup pipeline ends with
    (pair lists don't dedup; clusters pick one survivor each) and the
    clustering rule resolve_entities (q137's closure) keys entities
    on. The oracle reaches the same fixpoint with a recursive CTE, so
    the iterative algorithm's RESULT is driver-hashed, not just
    pytest-bounded — the q142 treatment, applied to graph closure.

    Scale shape: each round is one edge-list join + (src) groupBy-min
    — shuffles bounded by the EDGE list, never materializing
    reachability (the oracle's reach set is quadratic in cluster
    size; the Spark plan's state is one label row per node).
    Converges in O(diameter) rounds with early exit; near-dup
    clusters are shallow, and a graph deeper than ``max_iter=20``
    raises RuntimeError rather than return a partial labeling.
    localCheckpoint per round cuts the growing lineage
    (dedup.py:connected_components)."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    pairs = set_similarity_pairs(d, "text", "doc_id", 3, 5)
    comp = connected_components(
        pairs.select("id_a", "id_b"), max_iter=20
    )
    return comp.select(F.col("id").alias("doc_id"), "component")


@register(
    "q157_salted_join_rollup",
    """
    WITH big AS (
      SELECT l_suppkey % 25 AS n_nationkey, l_quantity FROM lineitem
    )
    SELECT n.n_name,
           COUNT(*) AS n_rows,
           CAST(SUM(b.l_quantity) AS DOUBLE) AS sum_qty
    FROM big b JOIN nation n ON n.n_nationkey = b.n_nationkey
    GROUP BY n.n_name
    """,
)
def q157_salted_join_rollup(spark, sf_dir):
    """Skew-salted join (operators/skew.salted_join) driver-proven
    RESULT-invariant: the fact side takes a salt in [0, 8), the
    25-key dim side explodes across all 8 salts, the join keys on
    (key, salt) — so each hot key's rows spread over 8 tasks instead
    of pinning one — and the rollup over the joined output must hash
    identically to the plain unsalted join the oracle runs. The salt
    is pure plan rewriting: ANY salt assignment (even rand()) yields
    the same join result, which is exactly what this entry proves.

    The 25-value synthetic key makes every key hot (~4% of a 100 TB
    fact table each) — the regime where AQE's skew splitting stops
    helping (it splits partitions, not the single hash bucket a
    hot key occupies) and explicit salting is the standard fix.
    Decimal quantity sums are exact, surfaced as DOUBLE
    (driver-surface rule)."""
    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_suppkey") % 25).alias("n_nationkey"), "l_quantity"
    )
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = salted_join(li, nation, on="n_nationkey", n_salts=8)
    return joined.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_quantity").cast("double").alias("sum_qty"),
    )


def _zorder_oracle_sql() -> str:
    """The oracle's Morton interleave, unrolled bit-by-bit exactly as
    operators/zorder.interleave_bits unrolls it (bit i of column j ->
    position i*2+j; j=0 is the partkey bucket)."""
    terms = []
    for i in range(4):
        terms.append(f"((((l_partkey % 16) >> {i}) & 1) << {2 * i})")
        terms.append(f"((((l_suppkey % 16) >> {i}) & 1) << {2 * i + 1})")
    z = " | ".join(terms)
    return f"""
    SELECT ({z}) AS zkey, COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY 1
    """


@register("q158_zorder_bucket_stats", _zorder_oracle_sql())
def q158_zorder_bucket_stats(spark, sf_dir):
    """Morton (z-order) key distribution over (l_partkey, l_suppkey)
    buckets — the bit-exact interleave zorder.write_zordered clusters
    parquet files by (each output file owns a contiguous z-range = a
    small hyper-box of the value space, so min-max stats prune scans
    on EITHER dimension; a plain sort clusters one column and
    scrambles the rest). The oracle unrolls the identical shift/and/or
    expression, pinning the layout key cross-engine: a file written by
    Spark and compacted by another engine sorts into the same curve.

    Scale shape: the key is a pure unrolled codegen expression (no
    UDF, no sketch here — deterministic modulo buckets so the oracle
    can mirror; production zorder_key buckets by distributed quantile
    sketch first), one map-side-combined groupBy on 256 keys."""
    li = _t(spark, sf_dir, "lineitem")
    z = interleave_bits(
        [F.col("l_partkey") % 16, F.col("l_suppkey") % 16], bits=4
    )
    return li.select(z.alias("zkey")).groupBy("zkey").agg(
        F.count(F.lit(1)).alias("n_rows")
    )


@register(
    "q159_containment_pairs",
    r"""
    WITH t AS (
      SELECT doc_id, list_distinct(list_filter(
               string_split_regex(LOWER(COALESCE(text,'')), '\s+'),
               x -> x <> '')) AS s
      FROM documents WHERE doc_id < 150
    )
    SELECT a.doc_id AS id_small, b.doc_id AS id_big,
           LEN(a.s) AS n_small,
           LEN(list_intersect(a.s, b.s)) AS n_inter,
           ROUND(LEN(list_intersect(a.s, b.s))::DOUBLE
                 / LEN(a.s)::DOUBLE, 4) AS containment
    FROM t a JOIN t b ON a.doc_id <> b.doc_id
    WHERE 10 * LEN(list_intersect(a.s, b.s)) >= 9 * LEN(a.s)
    """,
)
def q159_containment_pairs(spark, sf_dir):
    """EXACT set-CONTAINMENT join at |A∩B|/|A| >= 9/10
    (dedup.containment_pairs): the asymmetric near-SUPERSET detector
    the symmetric Jaccard join (q154/q156) structurally misses — a
    short document embedded in a long one (boilerplate-wrapped page,
    quoted post, README pasted into a bundle) has tiny Jaccard
    because the union is dominated by the big side, but containment
    1.0. Candidates use the ONE-SIDED prefix filter (only the
    contained side needs a prefix; pigeonhole: missing all of A's
    first |A|-ceil(t|A|)+1 rare-first tokens caps the overlap below
    ceil(t|A|)); verification is array_intersect on candidates; the
    keep decision is the integer cross-multiplication 10*inter >=
    9*|A|. The oracle brute-forces all ordered pairs in the block, so
    equality proves the one-sided prefix filter loses no pair."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    return containment_pairs(d, "text", "doc_id", 9, 10)


@register(
    "q160_interval_overlap_join",
    """
    WITH iv AS (
      SELECT user_id, event_id AS id,
             epoch_us(ts) // 1000000 AS s,
             epoch_us(ts) // 1000000 + 600 + (event_id % 1800) AS e
      FROM events
    )
    SELECT a.user_id, a.id AS id_a, b.id AS id_b,
           GREATEST(a.s, b.s) AS ov_start,
           LEAST(a.e, b.e) AS ov_end
    FROM iv a JOIN iv b
      ON a.user_id = b.user_id AND a.id < b.id
     AND a.s < b.e AND b.s < a.e
    """,
)
def q160_interval_overlap_join(spark, sf_dir):
    """Interval-overlap join (operators/timeseries.
    interval_overlap_pairs): all same-user pairs of half-open activity
    windows [ts, ts + 600 + event_id%1800) that intersect, with the
    intersection bounds — visit/session alignment, concurrent-usage
    and double-booking detection. The oracle runs the naive per-key
    RANGE self-join; the Spark plan explodes each interval into the
    fixed 900s grid cells it spans and joins on the EQUI key
    (user, cell) — any intersecting pair shares the cell of any
    overlap point, so the gate is lossless — then verifies
    s_a < e_b AND s_b < e_a exactly and dedups grid artifacts. A
    range predicate has no shuffle key and a hot user degenerates to
    all-pairs; the grid gives Spark a uniform equi-key whose fan-out
    is bounded by duration/cell + 1 per interval."""
    from product_etl_spark.operators.timeseries import (
        interval_overlap_pairs,
    )

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.col("event_id").alias("id"),
        F.unix_timestamp("ts").alias("s"),
        (
            F.unix_timestamp("ts")
            + F.lit(600)
            + (F.col("event_id") % 1800)
        ).alias("e"),
    )
    return interval_overlap_pairs(ev, "user_id", "id", "s", "e", cell=900)


@register(
    "q161_brand_size_price_ols",
    """
    WITH m AS (
      SELECT p_brand,
             COUNT(*) AS n,
             SUM(CAST(p_size AS DECIMAL(18,2))) AS sx,
             SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS sy,
             SUM(CAST(p_size AS DECIMAL(18,2))
                 * CAST(p_size AS DECIMAL(18,2))) AS sxx,
             SUM(CAST(p_size AS DECIMAL(18,2))
                 * CAST(p_retailprice AS DECIMAL(18,2))) AS sxy
      FROM part GROUP BY p_brand
    )
    SELECT p_brand, n,
           ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
             AS slope,
           ROUND((CAST(sy AS DOUBLE)
                  - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                    * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6)
             AS intercept
    FROM m
    """,
)
def q161_brand_size_price_ols(spark, sf_dir):
    """Grouped closed-form OLS (price ~ size per brand) from EXACT
    decimal moment sums — the q102 engine-exact recipe extended from
    descriptive moments to model fitting: the five sums aggregate as
    exact decimals in ONE map-side-combined groupBy (order-free), are
    converted to double once, and slope/intercept evaluate with the
    identical single-rounded IEEE expression on both engines, so the
    driver hash matches bit-for-bit before the cosmetic round. The
    distributed-OLS shape scales: moments are mergeable partials
    (the same contract as the integrity checksums), so a 100 TB fit
    is one aggregate, never an iterative pass."""
    p = _t(spark, sf_dir, "part")
    x = F.col("p_size").cast("decimal(18,2)")
    y = F.col("p_retailprice").cast("decimal(18,2)")
    m = p.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(x * y).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, sxy = F.col("sxx").cast("double"), F.col("sxy").cast("double")
    slope = (nd * sxy - sx * sy) / (nd * sxx - sx * sx)
    return m.select(
        "p_brand",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / nd, 6).alias("intercept"),
    )


@register(
    "q162_last_touch_attribution",
    """
    WITH v AS (
      SELECT user_id, ts, MAX(event_id) AS view_event_id
      FROM events WHERE event_type = 'view' GROUP BY user_id, ts
    ), p AS (
      SELECT user_id, event_id AS purchase_id, ts
      FROM events WHERE event_type = 'purchase'
    ), j AS (
      SELECT p.purchase_id, p.user_id, v.view_event_id,
             epoch_us(p.ts) - epoch_us(v.ts) AS gap_us,
             ROW_NUMBER() OVER (PARTITION BY p.purchase_id
                                ORDER BY v.ts DESC) AS rn
      FROM p LEFT JOIN v
        ON v.user_id = p.user_id AND v.ts <= p.ts
       AND epoch_us(p.ts) - epoch_us(v.ts) <= 3600000000
    )
    SELECT purchase_id, user_id, view_event_id, gap_us
    FROM j WHERE rn = 1
    """,
)
def q162_last_touch_attribution(spark, sf_dir):
    """Batch last-touch attribution: every purchase
    attributes to the same user's LATEST prior view within 1 hour
    (NULL when none), gap surfaced in exact integer microseconds.
    Built on timeseries.asof_join (the q46 union-window shape): both
    sides union into one frame, ONE window partitioned by user
    ordered by (ts, side) carries the last view forward, purchases
    filter back out — no range join, no per-purchase subquery, one
    shuffle on the user key. The oracle runs the naive
    lateral-style LEFT JOIN + ROW_NUMBER pick, so equality proves
    the union-window rewrite (including the inclusive same-instant
    rule and the tolerance NULLing) pair-exact. Views pre-aggregate
    to one row per (user, instant) — asof_join's determinism
    contract."""
    from product_etl_spark.operators.timeseries import asof_join

    ev = _t(spark, sf_dir, "events")
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_event_id"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts"
    )
    j = asof_join(
        purchases,
        views,
        by="user_id",
        ts_col="ts",
        value_cols=["view_event_id"],
        direction="backward",
        tolerance=F.expr("INTERVAL 1 HOUR"),
    )
    return j.select(
        "purchase_id",
        "user_id",
        F.col("view_event_id_asof").alias("view_event_id"),
        (
            F.unix_micros("ts") - F.unix_micros("ts_asof")
        ).alias("gap_us"),
    )


@register(
    "q163_segment_balance_divergence",
    """
    WITH vals AS (
      SELECT c_mktsegment AS seg, CAST(c_acctbal AS DOUBLE) AS v
      FROM customer WHERE c_acctbal IS NOT NULL
    ),
    st AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM vals),
    b AS (SELECT seg, CAST(GREATEST(0, LEAST(9,
            FLOOR((v - lo) / ((hi - lo) / 10.0)))) AS INT) AS bin
          FROM vals, st),
    g AS (SELECT bin, COUNT(*) AS n_global FROM b GROUP BY bin),
    s AS (SELECT seg, bin, COUNT(*) AS n_seg FROM b GROUP BY seg, bin),
    ts AS (SELECT seg, COUNT(*) AS t_seg FROM b GROUP BY seg),
    tg AS (SELECT SUM(n_global)::DOUBLE AS t_glob FROM g)
    SELECT ts.seg, g.bin, g.n_global,
           COALESCE(s.n_seg, 0) AS n_seg,
           ROUND(((COALESCE(s.n_seg, 0) + 1)::DOUBLE
                    / (ts.t_seg::DOUBLE + 10.0)
                  - (g.n_global + 1)::DOUBLE / (tg.t_glob + 10.0))
                 * (LN((COALESCE(s.n_seg, 0) + 1)::DOUBLE
                       / (ts.t_seg::DOUBLE + 10.0))
                    - LN((g.n_global + 1)::DOUBLE / (tg.t_glob + 10.0))),
                 6) AS psi_term
    FROM ts CROSS JOIN g
    LEFT JOIN s ON s.seg = ts.seg AND s.bin = g.bin
    CROSS JOIN tg
    """,
)
def q163_segment_balance_divergence(spark, sf_dir):
    """Per-SEGMENT distribution divergence (operators/profile.
    segment_divergence): each market segment's account-balance
    distribution scored against the GLOBAL population with PSI-style
    Laplace-smoothed per-bin terms over globally-framed equi-width
    bins. The grouped twin of the q139 drift gate: a single source
    (one marketplace, one crawler) silently shifting lights up its
    segment while the global monitor stays flat — the slice-level
    bias check a training-data mixture needs. Per-bin surface keeps
    the float policy order-free (q139's convention); SUM(psi_term)
    per segment is the caller's gate.

    Scale shape: one broadcast 1-row min/max, one groupBy(bin), one
    groupBy(seg, bin) — at most segments x bins rows shuffle; totals
    broadcast onto the grid."""
    from product_etl_spark.operators.profile import segment_divergence

    c = _t(spark, sf_dir, "customer").select("c_mktsegment", "c_acctbal")
    return segment_divergence(c, "c_mktsegment", "c_acctbal", 10)


@register(
    "q164_incremental_component_merge",
    r"""
    WITH RECURSIVE t AS (
      SELECT doc_id, list_distinct(list_filter(
               string_split_regex(LOWER(COALESCE(text,'')), '\s+'),
               x -> x <> '')) AS s
      FROM documents WHERE doc_id < 200
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
def q164_incremental_component_merge(spark, sf_dir):
    """Driver proof of the INCREMENTAL clustering rule
    (dedup.merge_components): the near-dup edge set splits into an
    'already-processed' half and a 'new-batch' half by edge-id
    parity; the old half is clustered, star-collapsed to one row per
    node, and the new edges fold in via one more propagation pass —
    and the result must hash identically to the oracle's recursive
    closure over ALL edges. This is the q156 treatment applied to the
    MAINTENANCE rule rather than the algorithm: at 100 TB you never
    re-cluster history (one row per historical NODE folds in, edge
    lists stay per-batch), and this entry pins that fold's
    losslessness cross-engine — including cluster merges caused by a
    new bridging edge."""
    pairs = (
        set_similarity_pairs(
            _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200),
            "text", "doc_id", 3, 5,
        )
        .select("id_a", "id_b")
        # both the old-half clustering and the merge derive edge
        # frames from this; materialize the PPJoin once
        .localCheckpoint(eager=True)
    )
    parity = (F.col("id_a") + F.col("id_b")) % 2
    old = pairs.filter(parity == 0)
    new = pairs.filter(parity == 1)
    merged = merge_components(connected_components(old), new)
    return merged.select(F.col("id").alias("doc_id"), "component")


@register(
    "q165_cms_event_type_freq",
    """
    WITH v AS (
      SELECT event_type AS val FROM events WHERE event_type IS NOT NULL
    ),
    rows_j AS (SELECT unnest(range(4)) AS row_idx),
    cells AS (
      SELECT j.row_idx,
             ('0x' || substr(md5(v.val || chr(31) || '7' || chr(31)
                || CAST(j.row_idx AS VARCHAR)), 1, 15))::BIGINT % 64
               AS bucket,
             COUNT(*) AS n
      FROM v CROSS JOIN rows_j j
      GROUP BY 1, 2
    ),
    probes AS (SELECT DISTINCT val FROM v),
    est AS (
      SELECT p.val,
             MIN(COALESCE(c.n, 0)) AS est_count
      FROM probes p
      CROSS JOIN rows_j j
      LEFT JOIN cells c
        ON c.row_idx = j.row_idx
       AND c.bucket = ('0x' || substr(md5(p.val || chr(31) || '7'
             || chr(31) || CAST(j.row_idx AS VARCHAR)), 1, 15))::BIGINT % 64
      GROUP BY p.val
    ),
    exact AS (SELECT val, COUNT(*) AS exact_count FROM v GROUP BY val)
    SELECT est.val AS event_type, est.est_count, exact.exact_count
    FROM est JOIN exact ON exact.val = est.val
    """,
)
def q165_cms_event_type_freq(spark, sf_dir):
    """Count-min sketch point-frequency estimates (operators/cms.py,
    Cormode & Muthukrishnan 2005) driver-pinned END-TO-END: the
    portable-hash mode (md5-based hash64 — the q143 checksum
    convention) lets the oracle rebuild the IDENTICAL depth x width
    cell table and take the same min-over-rows estimate, so the
    sketch arithmetic — not just a tolerance band — hashes equal
    cross-engine. A deliberately tight width (64) forces real bucket
    collisions; the one-sided overestimate property
    (est_count >= exact_count, surfaced side by side) must then agree
    bit-for-bit in both engines. First sketch family with a full
    driver row (HLL/theta/KLL keep exact twins + pytest bounds).

    Scale shape: build is ONE map-side-combined groupBy on (row,
    bucket) — key space depth*width, never vocabulary-sized; probes
    broadcast-join the bounded sketch. The xxhash64 default trades
    the portability for ~3x cheaper hashing when no cross-engine
    verification is needed."""
    from product_etl_spark.operators.cms import cms_estimate, cms_partials

    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull()
    ).select("event_type")
    sk = cms_partials(ev, [], "event_type", depth=4, width=64, seed=7,
                      portable=True)
    est = cms_estimate(sk, ev, "event_type", depth=4, width=64, seed=7,
                       portable=True)
    exact = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("exact_count")
    )
    return est.join(exact, "event_type")


@register(
    "q166_weighted_jaccard_pairs",
    r"""
    WITH aug AS (
      SELECT doc_id,
             COALESCE(text, '') || ' xk' || CAST(doc_id % 40 AS VARCHAR)
               || ' xu' || CAST(doc_id AS VARCHAR) AS text
      FROM documents WHERE doc_id < 120
    ), toks AS (
      SELECT doc_id, unnest(list_distinct(list_filter(
               string_split_regex(LOWER(text), '\s+'),
               x -> x <> ''))) AS tok
      FROM aug
    ), dfc AS (
      SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
    ), w AS (
      SELECT t.doc_id, t.tok,
             CASE WHEN d.c <= 2 THEN 3 WHEN d.c <= 10 THEN 2 ELSE 1 END
               AS wt
      FROM toks t JOIN dfc d ON d.tok = t.tok
    ), tot AS (
      SELECT doc_id, SUM(wt) AS W FROM w GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, SUM(a.wt) AS w_inter
      FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.id_a, i.id_b,
           CAST(i.w_inter AS BIGINT) AS w_inter,
           CAST(ta.W + tb.W - i.w_inter AS BIGINT) AS w_union,
           ROUND(i.w_inter::DOUBLE
                 / (ta.W + tb.W - i.w_inter)::DOUBLE, 4) AS wjaccard
    FROM inter i
    JOIN tot ta ON ta.doc_id = i.id_a
    JOIN tot tb ON tb.doc_id = i.id_b
    WHERE 5 * i.w_inter >= 3 * (ta.W + tb.W - i.w_inter)
    """,
)
def q166_weighted_jaccard_pairs(spark, sf_dir):
    """EXACT rarity-WEIGHTED Jaccard join at >= 3/5 (operators/dedup.
    weighted_set_similarity_pairs): each distinct token weighs by
    document-frequency tier (df<=2 -> 3, df<=10 -> 2, else 1; integer
    weights keep the keep decision in exact cross-multiplied
    arithmetic), so shared boilerplate counts less than shared rare
    content — the boilerplate-insensitive variant of q154 that
    templated corpora need (unweighted Jaccard scores a
    boilerplate-only pair and a rare-token pair identically; the
    pytest fixture demonstrates the split). Rarity is synthesized
    deterministically (per-doc ' xu<id>' df-1 tokens and 40-bucket
    ' xk<id%40>' mid-tier tokens — the q137 synthesis pattern) since
    the 30-word synthetic vocabulary is uniformly hot.

    Scale shape: the weighted PREFIX filter generalizes PPJoin's
    pigeonhole — a doc's prefix is every position whose preceding
    cumulative weight fits under W - ceil(t*W), so candidates join
    prefix rows x prefix rows only and hot tokens still suppress
    structurally; verification is a candidate-pair-restricted token
    join summing shared weights. The brute all-pairs join exists only
    in the oracle's bounded block."""
    from product_etl_spark.operators.dedup import (
        weighted_set_similarity_pairs,
    )

    aug = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 120)
        .select(
            "doc_id",
            F.concat(
                F.coalesce(F.col("text"), F.lit("")),
                F.lit(" xk"),
                (F.col("doc_id") % 40).cast("string"),
                F.lit(" xu"),
                F.col("doc_id").cast("string"),
            ).alias("text"),
        )
    )
    return weighted_set_similarity_pairs(aug, "text", "doc_id", 3, 5)


@register(
    "q167_hll_portable_distinct",
    """
    WITH v AS (
      SELECT event_type, CAST(user_id AS VARCHAR) AS val
      FROM events WHERE user_id IS NOT NULL
    ),
    h AS (
      SELECT event_type, val,
             ('0x' || substr(md5(val), 1, 15))::BIGINT AS hv
      FROM v
    ),
    regs AS (
      SELECT event_type,
             CAST(hv % 64 AS INT) AS bucket,
             MAX(CASE WHEN CAST(FLOOR(hv / 64) AS BIGINT) = 0 THEN 55
                 ELSE 55 - LENGTH(bin(CAST(FLOOR(hv / 64) AS BIGINT)))
                 END) AS r
      FROM h GROUP BY 1, 2
    ),
    agg AS (
      SELECT event_type,
             SUM((1::BIGINT << (55 - r))) AS s_hit,
             COUNT(*) AS n_buckets_hit
      FROM regs GROUP BY event_type
    ),
    exact AS (
      SELECT event_type, COUNT(DISTINCT val) AS exact_distinct
      FROM v GROUP BY event_type
    )
    SELECT a.event_type, a.n_buckets_hit,
           ROUND((0.709 * 64 * 64) * CAST((1::BIGINT << 55) AS DOUBLE)
                 / CAST(a.s_hit
                        + (64 - a.n_buckets_hit) * (1::BIGINT << 55)
                        AS DOUBLE), 4) AS est_distinct,
           e.exact_distinct
    FROM agg a JOIN exact e ON e.event_type = a.event_type
    """,
)
def q167_hll_portable_distinct(spark, sf_dir):
    """Register-level HyperLogLog distinct-user estimates per event
    type (operators/sketches.hll_portable_*) driver-pinned END-TO-END
    next to the exact counts: the portable md5 hash lets the oracle
    rebuild every (bucket, max-rho) register identically, and the
    harmonic sum aggregates as the EXACT INTEGER sum(2^(55-r)) —
    order-free by construction — so the raw estimate
    alpha*m^2*2^55/S_num is one deterministic IEEE division in both
    engines. The second sketch family with a full driver row (q165
    pinned CMS the same way); the binary DataSketches hll_* path
    stays the fast default with error-bound pytest coverage.

    Scale shape: one groupBy to at most m=64 register rows per group,
    register-wise MAX merges per-batch partials, estimation reads
    registers only — the scan-once/answer-forever sketch contract."""
    from product_etl_spark.operators.sketches import (
        hll_portable_estimate,
        hll_portable_partials,
    )

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select("event_type", F.col("user_id").cast("string").alias("val"))
    )
    parts = hll_portable_partials(ev, ["event_type"], "val", p=6)
    est = hll_portable_estimate(parts, ["event_type"], p=6)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("val").alias("exact_distinct")
    )
    return est.join(exact, "event_type")


@register(
    "q168_kmv_event_type_overlap",
    """
    WITH v AS (
      SELECT event_type AS g, CAST(user_id AS VARCHAR) AS val
      FROM events WHERE user_id IS NOT NULL
    ),
    sets AS (SELECT DISTINCT g, val FROM v),
    hv AS (
      SELECT DISTINCT g,
             ('0x' || substr(md5(val), 1, 15))::BIGINT AS hv
      FROM sets
    ),
    sk AS (
      SELECT g, hv FROM (
        SELECT g, hv,
               ROW_NUMBER() OVER (PARTITION BY g ORDER BY hv) AS rk
        FROM hv) WHERE rk <= 64
    ),
    gs AS (SELECT DISTINCT g FROM sk),
    pairs AS (
      SELECT a.g AS g_a, b.g AS g_b FROM gs a JOIN gs b ON a.g < b.g
    ),
    merged AS (
      SELECT p.g_a, p.g_b, s.hv FROM pairs p JOIN sk s ON s.g = p.g_a
      UNION
      SELECT p.g_a, p.g_b, s.hv FROM pairs p JOIN sk s ON s.g = p.g_b
    ),
    topk AS (
      SELECT g_a, g_b, hv, rk FROM (
        SELECT g_a, g_b, hv,
               ROW_NUMBER() OVER (PARTITION BY g_a, g_b ORDER BY hv) AS rk
        FROM merged) WHERE rk <= 64
    ),
    agg AS (
      SELECT t.g_a, t.g_b, COUNT(*) AS n_kmv,
             MAX(CASE WHEN t.rk = 64 THEN t.hv END) AS theta,
             SUM(CASE WHEN sa.hv IS NOT NULL AND sb.hv IS NOT NULL
                 THEN 1 ELSE 0 END) AS n_both
      FROM topk t
      LEFT JOIN sk sa ON sa.g = t.g_a AND sa.hv = t.hv
      LEFT JOIN sk sb ON sb.g = t.g_b AND sb.hv = t.hv
      GROUP BY 1, 2
    ),
    sizes AS (SELECT g, COUNT(*) AS n FROM sets GROUP BY g),
    einter AS (
      SELECT a.g AS g_a, b.g AS g_b, COUNT(*) AS n_inter
      FROM sets a JOIN sets b ON a.val = b.val AND a.g < b.g
      GROUP BY 1, 2
    )
    SELECT a.g_a AS type_a, a.g_b AS type_b, a.n_kmv,
           ROUND(CASE WHEN a.n_kmv < 64 THEN a.n_kmv::DOUBLE
                 ELSE 63.0 * 1152921504606846976.0 / a.theta::DOUBLE
                 END, 4) AS est_union,
           ROUND((a.n_both::DOUBLE / a.n_kmv::DOUBLE)
                 * CASE WHEN a.n_kmv < 64 THEN a.n_kmv::DOUBLE
                   ELSE 63.0 * 1152921504606846976.0 / a.theta::DOUBLE
                   END, 4) AS est_inter,
           sa.n + sb.n - i.n_inter AS exact_union,
           i.n_inter AS exact_inter
    FROM agg a
    JOIN einter i ON i.g_a = a.g_a AND i.g_b = a.g_b
    JOIN sizes sa ON sa.g = a.g_a
    JOIN sizes sb ON sb.g = a.g_b
    """,
)
def q168_kmv_event_type_overlap(spark, sf_dir):
    """K-Minimum-Values set-overlap estimates between every event-type
    pair's distinct-user sets (operators/sketches.kmv_*, Beyer et al.
    2007) next to the exact union/intersection — the third portable
    sketch family driver-pinned end-to-end (CMS q165, HLL q167): the
    oracle rebuilds the k smallest md5-hash rows per set, merges each
    pair to its union top-k, and derives est_union from the k-th value
    and est_inter from the both-members fraction with the identical
    single-division IEEE expressions, so sketch construction, union
    AND estimation all hash equal cross-engine. q104 keeps the exact
    audience-overlap row; the binary theta path (theta_overlap) stays
    the fast default.

    Scale shape: sketches are <= k rows per group and merge by
    re-ranking; the pair machinery touches sketch rows only — the
    corpus is scanned once into bounded state (the
    scan-once/answer-forever contract the sketch family exists for)."""
    from product_etl_spark.operators.sketches import (
        kmv_pair_overlap,
        kmv_partials,
    )

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select(
            F.col("event_type").alias("g"),
            F.col("user_id").cast("string").alias("val"),
        )
    )
    parts = kmv_partials(ev, ["g"], "val", k=64)
    est = kmv_pair_overlap(parts, "g", k=64).select(
        F.col("g_a").alias("type_a"),
        F.col("g_b").alias("type_b"),
        "n_kmv",
        "est_union",
        "est_inter",
    )
    sets = ev.distinct()
    sizes = sets.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        sets.alias("a")
        .join(
            sets.alias("b"),
            (F.col("a.val") == F.col("b.val"))
            & (F.col("a.g") < F.col("b.g")),
        )
        .groupBy(F.col("a.g").alias("type_a"), F.col("b.g").alias("type_b"))
        .agg(F.count(F.lit(1)).alias("exact_inter"))
    )
    sa = sizes.select(F.col("g").alias("type_a"), F.col("n").alias("_na"))
    sb = sizes.select(F.col("g").alias("type_b"), F.col("n").alias("_nb"))
    return (
        est.join(inter, ["type_a", "type_b"])
        .join(sa, "type_a")
        .join(sb, "type_b")
        .select(
            "type_a",
            "type_b",
            "n_kmv",
            "est_union",
            "est_inter",
            (F.col("_na") + F.col("_nb") - F.col("exact_inter")).alias(
                "exact_union"
            ),
            "exact_inter",
        )
    )
