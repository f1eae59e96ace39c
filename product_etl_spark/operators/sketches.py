"""Mergeable-sketch pre-aggregation (Apache DataSketches via the
Spark 4 built-in `hll_*` / `theta_*` functions) plus portable
hash-sample sketches (KMV overlap, bottom-k quantile sample).

THE 100 TB pattern: scan the raw data ONCE into kilobyte-sized
per-segment sketch partials, persist those, and answer every later
rollup/overlap/quantile question by merging sketches — never by
rescanning terabytes. All sketch unions are commutative and
associative, so partial results can be built per partition, per day,
or per ingest batch and combined in any order (asserted in
tests/test_sketches.py).

Relation to the catalog's exactness contract: these are the scale
twins of exact operators, in the same way q49's approx-distinct
twins q08's exact COUNT(DISTINCT) — the exact forms stay
oracle-checked, the sketch forms carry error-bound pytest coverage.
JVM-side expressions only: no UDF, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hll_rollup(
    sketch_df: DataFrame, coarser_cols: list[str], estimate_alias: str = "n_distinct"
) -> DataFrame:
    """Merge fine-grained HLL partials up a hierarchy (day->week,
    (day,type)->type, ...) and estimate. Input is per-group HLL
    sketch binaries (column ``sketch``, from ``hll_sketch_agg``); no
    raw data is touched."""
    return sketch_df.groupBy(*coarser_cols).agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias(estimate_alias)
    )


def theta_partials(
    df: DataFrame, group_cols: list[str], col: str
) -> DataFrame:
    """Per-group theta sketches (column ``sketch``) — unlike HLL,
    theta supports intersection and difference, so stored partials
    answer overlap questions between any two segments."""
    return df.groupBy(*group_cols).agg(
        F.theta_sketch_agg(F.col(col)).alias("sketch")
    )


def theta_overlap(
    theta_df: DataFrame, seg_col: str, seg_a: str, seg_b: str
) -> DataFrame:
    """Audience overlap from stored theta partials: estimates of
    |A|, |B|, |A∩B|, |A∪B|, |A\\B| for two segment values. Merges the
    (possibly many) partials of each segment first, then combines the
    two sketches — a driver-sized operation regardless of raw scale.
    Below the sketch's nominal-entries threshold (default 2^12) theta
    is a full-retention sample and every estimate is EXACT."""
    a = theta_df.filter(F.col(seg_col) == seg_a).agg(
        F.theta_union_agg("sketch").alias("a")
    )
    b = theta_df.filter(F.col(seg_col) == seg_b).agg(
        F.theta_union_agg("sketch").alias("b")
    )
    return (
        a.crossJoin(b)
        .select(
            F.lit(seg_a).alias("seg_a"),
            F.lit(seg_b).alias("seg_b"),
            F.theta_sketch_estimate("a").alias("n_a"),
            F.theta_sketch_estimate("b").alias("n_b"),
            F.theta_sketch_estimate(F.theta_intersection("a", "b")).alias("n_both"),
            F.theta_sketch_estimate(F.theta_union("a", "b")).alias("n_either"),
            F.theta_sketch_estimate(F.theta_difference("a", "b")).alias("n_only_a"),
        )
    )


#: Standard HLL alpha constants (Flajolet et al. 2007) for small m;
#: larger m uses 0.7213/(1 + 1.079/m). Shared with the DuckDB oracle
#: as literals.
_HLL_ALPHA = {16: 0.673, 32: 0.697, 64: 0.709}

def _hll_rmax(p: int) -> int:
    """rho ceiling for the (60-p)-bit remainder of the 60-bit portable
    hash: bucket takes the low p bits, the remaining value is
    < 2^(60-p), so rho = (61-p) - bit_length(rest) lies in [1, 61-p]
    (rest == 0 maps to the ceiling itself). Deriving this from p keeps
    partials and estimate consistent for every m in _HLL_ALPHA — a
    hardcoded 55 is only correct for p=6 and would bias any other p
    by ~2^(p-6). m * 2^rmax = 2^61 for every p, so the exact-integer
    harmonic sum in hll_portable_estimate stays overflow-safe."""
    return 61 - p


def hll_portable_partials(
    df: DataFrame, group_cols: list[str], col: str, p: int = 6
) -> DataFrame:
    """Register-ROW HyperLogLog partials with the portable md5 hash
    (functions.text.hash64 — the q143/q165 convention): one row per
    (group..., bucket, r) where bucket = hash % 2^p and r = leading-
    zero rank of the remaining (60-p) bits (ceiling 61-p, see
    _hll_rmax). Any md5-capable engine
    rebuilds the registers cell-for-cell, so a replica can verify or
    merge a sketch it didn't build — unlike the binary DataSketches
    form (``hll_sketch_agg``), which stays the fast in-family
    default.

    Merge = MAX per (group, bucket): plain SQL, commutative,
    associative — per-batch partials roll up like every other
    mergeable family here."""
    from product_etl_spark.functions.text import hash64

    m = 2 ** p
    rmax = _hll_rmax(p)
    h = hash64(F.col(col).cast("string"))
    rest = F.floor(h / m).cast("long")
    rho = F.when(rest == 0, F.lit(rmax)).otherwise(
        F.lit(rmax) - F.length(F.bin(rest))
    )
    return (
        df.filter(F.col(col).isNotNull())
        .select(*group_cols, F.pmod(h, F.lit(m)).cast("int").alias("bucket"),
                rho.cast("int").alias("r"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("r").alias("r"))
    )


def hll_portable_merge(
    parts: DataFrame, coarser_cols: list[str]
) -> DataFrame:
    """Union finer partials up a hierarchy: register-wise MAX."""
    return parts.groupBy(*coarser_cols, "bucket").agg(
        F.max("r").alias("r")
    )


def hll_portable_estimate(
    parts: DataFrame,
    group_cols: list[str],
    p: int = 6,
    out_col: str = "est_distinct",
) -> DataFrame:
    """Raw HLL estimate alpha_m * m^2 / S per group, computed
    DETERMINISTICALLY: the harmonic sum S = sum(2^-r) (+1 per absent
    register) aggregates as the EXACT INTEGER sum(2^(RMAX - r)) —
    order-free, overflow-safe (<= m * 2^RMAX < 2^61) — and converts
    to double exactly once, so two engines cannot disagree by
    summation order (a float sum of 2^-r values loses exactness once
    the exponent spread passes the 53-bit mantissa). Surfaced without
    the small/large-range corrections: the correction branch needs
    ln(), whose cross-libm determinism this repo does not assume —
    callers gate on n_buckets_hit if they need the small-range form.
    """
    m = 2 ** p
    rmax = _hll_rmax(p)
    alpha = _HLL_ALPHA.get(m, 0.7213 / (1.0 + 1.079 / m))
    num = F.expr(f"shiftleft(CAST(1 AS BIGINT), {rmax} - r)")
    agg = parts.groupBy(*group_cols).agg(
        F.sum(num).alias("_s_hit"),
        F.count(F.lit(1)).alias("n_buckets_hit"),
    )
    s_num = (
        F.col("_s_hit")
        + (F.lit(m) - F.col("n_buckets_hit"))
        * F.lit(2 ** rmax).cast("long")
    )
    est = (
        F.lit(float(alpha) * m * m)
        * F.lit(float(2 ** rmax))
        / s_num.cast("double")
    )
    return agg.select(
        *group_cols,
        "n_buckets_hit",
        F.round(est, 4).alias(out_col),
    )


def kmv_partials(
    df: DataFrame, group_cols: list[str], col: str, k: int = 64
) -> DataFrame:
    """K-Minimum-Values sketch rows with the portable md5 hash: the k
    smallest distinct hash values of each group's value set — the
    register-row analog of the theta sketch (distinct counts AND set
    overlaps from bounded state), rebuildable cell-for-cell by any
    md5-capable engine like the CMS (q165) and HLL (q167) twins.
    Output: (group..., hv), at most k rows per group."""
    from pyspark.sql import Window

    from product_etl_spark.functions.text import hash64

    hv = hash64(F.col(col).cast("string"))
    distinct_hv = (
        df.filter(F.col(col).isNotNull())
        .select(*group_cols, hv.alias("hv"))
        .distinct()
    )
    w = Window.partitionBy(*group_cols).orderBy("hv")
    return (
        distinct_hv.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def kmv_merge(parts: DataFrame, coarser_cols: list[str], k: int = 64) -> DataFrame:
    """Union finer partials: merge rows, distinct, keep the k
    smallest per coarser group — the KMV union, associative and
    commutative like every mergeable family here."""
    from pyspark.sql import Window

    w = Window.partitionBy(*coarser_cols).orderBy("hv")
    return (
        parts.select(*coarser_cols, "hv")
        .distinct()
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


#: hash64 values are 60-bit (15 hex chars of md5): the KMV estimate
#: scales the k-th smallest against this value-space size.
_KMV_SPACE = float(2 ** 60)


def kmv_pair_overlap(
    parts: DataFrame,
    group_col: str,
    k: int = 64,
) -> DataFrame:
    """Pairwise distinct-set overlap estimates between every two
    groups' KMV sketches: (g_a, g_b, n_kmv, est_union, est_inter) for
    g_a < g_b. The pair union's k smallest values give theta (the
    k-th) and est_union = (k-1) * 2^60 / theta; the fraction of those
    values present in BOTH sketches scales it to est_inter (Beyer et
    al. 2007). When the merged sketch holds fewer than k values the
    union was seen in full and the counts are EXACT — the standard
    KMV small-set branch, mirrored in the oracle. Everything is
    integer aggregation plus single IEEE divisions, so two engines
    cannot disagree.

    Scale shape: sketches are <= k rows per group; the pair join is
    over sketch rows only — the raw corpus is never rescanned (the
    scan-once/answer-forever sketch contract)."""
    from pyspark.sql import Window

    a = parts.select(
        F.col(group_col).alias("g_a"), F.col("hv").alias("hv")
    )
    b = parts.select(
        F.col(group_col).alias("g_b"), F.col("hv").alias("hv")
    )
    pairs = (
        a.select("g_a").distinct()
        .join(b.select("g_b").distinct(), F.col("g_a") < F.col("g_b"))
    )
    merged = (
        pairs.join(a, "g_a")
        .unionByName(pairs.join(b, "g_b").select("g_a", "g_b", "hv"))
        .select("g_a", "g_b", "hv")
        .distinct()
    )
    w = Window.partitionBy("g_a", "g_b").orderBy("hv")
    topk = merged.withColumn("_rk", F.row_number().over(w)).filter(
        F.col("_rk") <= k
    )
    in_a = a.withColumn("_ina", F.lit(1))
    in_b = b.withColumn("_inb", F.lit(1))
    flagged = (
        topk.join(in_a, ["g_a", "hv"], "left")
        .join(in_b, ["g_b", "hv"], "left")
    )
    agg = flagged.groupBy("g_a", "g_b").agg(
        F.count(F.lit(1)).alias("n_kmv"),
        F.max(F.when(F.col("_rk") == k, F.col("hv"))).alias("_theta"),
        F.sum(
            F.when(
                F.col("_ina").isNotNull() & F.col("_inb").isNotNull(), 1
            ).otherwise(0)
        ).alias("n_both"),
    )
    est_union = F.when(
        F.col("n_kmv") < k, F.col("n_kmv").cast("double")
    ).otherwise(
        F.lit(float(k - 1)) * F.lit(_KMV_SPACE) / F.col("_theta").cast("double")
    )
    return agg.select(
        "g_a",
        "g_b",
        "n_kmv",
        F.round(est_union, 4).alias("est_union"),
        F.round(
            (F.col("n_both").cast("double") / F.col("n_kmv").cast("double"))
            * est_union,
            4,
        ).alias("est_inter"),
    )


def quantile_sample_partials(
    df: DataFrame,
    group_cols: list[str],
    val_col: str,
    key_col: str,
    k: int = 256,
) -> DataFrame:
    """Portable deterministic QUANTILE sketch: the bottom-k hash
    sample with values — the k rows whose portable md5 hash
    (functions.text.hash64, the q165/q167/q168 convention) of the
    UNIQUE row key is smallest per group, carrying ``val_col``.
    Output: (group..., hv, val), at most k rows per group.

    This is the quantile member of the portable-sketch family: Spark's
    built-in KLL sketch is smaller, but its compaction coin-flips make
    it engine-private and unverifiable by an oracle; this sample is a
    pure hash predicate, so any md5-capable engine rebuilds it cell-for-cell
    and a replica can VERIFY a sketch it didn't build. Hashing the
    unique key (not the value) keeps the sample uniform over ROWS —
    duplicated values occupy independent slots — which is what makes
    rank estimates unbiased. The sample cut is ordered (hv, val), so
    even non-unique keys cannot make two engines cut different rows.
    Standard bottom-k error: quantile ranks are
    within O(1/sqrt(k)) of truth with high probability (Cohen &
    Kaplan 2007 summarize the bottom-k estimator family).

    Subject erasure: rows are (group, hv, val) — anti-join on
    hv = hash64(erased key) to drop a subject's row. Dropping
    sampled rows is SAFE but lossy (the survivors are still a
    uniform hash sample of the remaining corpus, just possibly
    fewer than k — erased slots are not backfilled without a
    rebuild); estimates stay unbiased at slightly wider error."""
    from pyspark.sql import Window

    from product_etl_spark.functions.text import hash64

    hv = hash64(F.col(key_col).cast("string"))
    # tie-break by val: hv ties are impossible for truly-unique keys
    # (60-bit space), but a key that is NOT unique in the data (two
    # rows, same key, different values) must still cut the SAME k
    # rows on every engine and every run — ordering by hv alone left
    # that to scheduler whim (caught live: driver-exact q169 flaked
    # under load until this). Uniformity degrades gracefully: the
    # duplicate key holds its extra slots deterministically.
    #
    # TWO-LEVEL cut (r15, guide §2.5/§4.2): a bare per-group window
    # sorts the ENTIRE corpus in one task per group — with a handful
    # of groups that is the classic single-task cliff at scale.
    # Level 1 is a PURE MAP (mapInPandas, no exchange): each Arrow
    # batch keeps only its own bottom-k rows per group — a superset
    # of the global bottom-k by construction — so the final window
    # sorts at most k * groups * batches rows instead of the corpus.
    # The level-2 window re-cut makes the output multiset IDENTICAL
    # to the single-window cut. The closure is pickled by value (no
    # importable package needed on Python workers).
    base = df.filter(
        F.col(val_col).isNotNull() & F.col(key_col).isNotNull()
    ).select(*group_cols, hv.alias("hv"), F.col(val_col).alias("val"))
    gcols = list(group_cols)
    kk = int(k)

    def _prune(batches):
        for pdf in batches:
            if len(pdf) <= kk:
                yield pdf
                continue
            srt = pdf.sort_values(["hv", "val"], kind="mergesort")
            if not gcols:
                # ungrouped/global sample: pandas groupby([]) raises
                # "No group keys passed" — the single-window shape this
                # prune replaced supported Window.partitionBy() with no
                # cols (r15 ADVICE)
                yield srt.head(kk)
                continue
            yield srt.groupby(gcols, sort=False, dropna=False).head(kk)

    pruned = base.mapInPandas(_prune, base.schema)
    w = Window.partitionBy(*group_cols).orderBy("hv", "val")
    return (
        pruned.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def quantile_sample_estimate(
    parts: DataFrame, group_cols: list[str], probs: list[float]
) -> DataFrame:
    """Quantile estimates from the sample by EXACT RANK — no float
    interpolation: for each prob q the value of the sample's
    ceil(q*n)-th smallest element (lower quantile, ties broken by hv
    for a deterministic row but an order-independent VALUE). One
    window sort over <= k rows per group plus one groupBy; every
    comparison is integer, so two engines cannot disagree on which
    value is surfaced. Output column names are fixed-precision
    (0.5 -> p50, 1.0 -> p100)."""
    from pyspark.sql import Window

    w = Window.partitionBy(*group_cols).orderBy("val", "hv")
    wsz = Window.partitionBy(*group_cols)
    ranked = parts.withColumn("_rk", F.row_number().over(w)).withColumn(
        "_n", F.count(F.lit(1)).over(wsz)
    )
    aggs = [
        F.max(
            F.when(
                F.col("_rk")
                == F.greatest(
                    F.lit(1), F.ceil(F.lit(p) * F.col("_n"))
                ),
                F.col("val"),
            )
        ).alias(f"p{int(round(p * 100)):02d}")
        for p in probs
    ]
    return ranked.groupBy(*group_cols).agg(
        F.max("_n").alias("n_sample"), *aggs
    )
