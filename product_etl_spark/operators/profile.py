"""Table profiling and snapshot diffing — the data-quality /
audit operators around an ETL engine.

``profile_columns`` is the ANALYZE-style column profile (null
fraction, distinct count, min/max) a pipeline runs before trusting a
new feed; ``snapshot_diff`` is the audit complement of the upsert
sink (operators/upsert.py): given yesterday's and today's snapshot of
a keyed table, report added / removed / changed rows.

Scale shape: profile = two passes over the table (plain stats, then
distincts — see profile_columns for why not one), each covering all
columns at once; swap in approx_count_distinct at extreme
cardinality. Diff = one
full-outer join on the key (co-partitioned shuffle both sides), with
change detection on a md5 over the compared columns so arbitrarily
wide rows compare as one string each.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def profile_columns(
    df: DataFrame, cols: list[str], exact_distinct: bool = True
) -> DataFrame:
    """One row per profiled column: (column, n_rows, n_nulls,
    n_distinct, min_str, max_str). min/max surface as strings so
    heterogeneous column types fit one frame (the profile is a
    report, not an input to arithmetic).

    TWO aggregation passes — one for the plain stats (counts, min,
    max), one for the distincts — deliberately NOT one: mixing
    count(distinct) with plain aggregates in a single agg makes
    Catalyst Expand every input row once per distinct group WITH all
    payload columns riding along (measured 2.6 s combined vs
    0.56 + 0.45 s split, lineitem x 3 columns at sf0.1). Each pass
    computes every column together — never a scan per column.
    ``exact_distinct=False`` swaps count(distinct) for
    approx_count_distinct (HLL; use at 100 TB-cardinality columns —
    it also collapses the distinct pass into plain partial aggs)."""
    if not cols:
        raise ValueError("profile_columns needs at least one column")
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"profile_columns: unknown columns {missing}")
    plain = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        plain += [
            F.count(F.col(c)).alias(f"_nn_{c}"),
            F.min(F.col(c)).cast("string").alias(f"_mn_{c}"),
            F.max(F.col(c)).cast("string").alias(f"_mx_{c}"),
        ]
    distincts = [
        (
            F.countDistinct(F.col(c))
            if exact_distinct
            else F.approx_count_distinct(F.col(c))
        ).alias(f"_nd_{c}")
        for c in cols
    ]
    wide = df.agg(*plain).crossJoin(df.agg(*distincts))
    # pivot the single wide row to one row per column via stack —
    # executor-side, no driver collect
    stack_args = ", ".join(
        f"'{c}', _nn_{c}, _nd_{c}, _mn_{c}, _mx_{c}" for c in cols
    )
    return wide.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(column, n_non_null, n_distinct, min_str, max_str)"
        ),
        F.col("_n").alias("n_rows"),
    ).select(
        "column",
        "n_rows",
        (F.col("n_rows") - F.col("n_non_null")).alias("n_nulls"),
        "n_distinct",
        "min_str",
        "max_str",
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Row-level diff of two snapshots of a keyed table:
    (key_cols..., change) with change in added|removed|changed.
    Unchanged rows are absent (the diff is the point). With
    ``compare_cols`` None, every non-key column common to both
    frames is compared.

    One full-outer join on the key; change detection hashes the
    compared columns into one md5 per side (NULL-tagged, so NULL and
    'NULL' differ), keeping the join payload two strings wide no
    matter how wide the table is."""
    if not key_cols:
        raise ValueError("snapshot_diff needs key columns")
    if compare_cols is None:
        compare_cols = sorted(
            (set(old.columns) & set(new.columns)) - set(key_cols)
        )
    if not compare_cols:
        raise ValueError("snapshot_diff: no columns to compare")

    def _sig(df: DataFrame, alias: str) -> DataFrame:
        parts = []
        for c in compare_cols:
            parts.append(
                F.when(F.col(c).isNull(), F.lit("\x00N")).otherwise(
                    F.concat(F.lit("\x00V"), F.col(c).cast("string"))
                )
            )
        return df.select(
            *[F.col(c) for c in key_cols],
            F.md5(F.concat(*parts)).alias(alias),
        )

    o = _sig(old, "_old_sig")
    n = _sig(new, "_new_sig")
    j = o.join(n, key_cols, "full_outer")
    return (
        j.select(
            *key_cols,
            F.when(F.col("_old_sig").isNull(), F.lit("added"))
            .when(F.col("_new_sig").isNull(), F.lit("removed"))
            .when(F.col("_old_sig") != F.col("_new_sig"), F.lit("changed"))
            .alias("change"),
        )
        .filter(F.col("change").isNotNull())
    )


def profile_drift(
    baseline: DataFrame,
    current: DataFrame,
    null_rate_jump: float = 0.1,
    distinct_ratio_drop: float = 0.5,
) -> DataFrame:
    """Feed-drift findings between two ``profile_columns`` outputs:
    one row per (column, finding) with the baseline/current values
    stringified. Findings:

    - ``column_added`` / ``column_removed`` — schema drift;
    - ``null_rate_jump`` — null fraction rose by more than
      ``null_rate_jump`` absolute (a broken upstream join or parser
      regression shows up here first);
    - ``distinct_collapse`` — distinct-per-row ratio fell below
      ``distinct_ratio_drop`` x baseline (a constant-fill bug or a
      truncated dimension).

    Both profiles are tiny (one row per column), so every join here
    is broadcast-sized; run it as the gate between landing a feed and
    publishing it."""
    b = baseline.select(
        F.col("column"),
        (F.col("n_nulls").cast("double") / F.col("n_rows")).alias("b_null_rate"),
        (F.col("n_distinct").cast("double") / F.col("n_rows")).alias("b_distinct_ratio"),
    )
    c = current.select(
        F.col("column"),
        (F.col("n_nulls").cast("double") / F.col("n_rows")).alias("c_null_rate"),
        (F.col("n_distinct").cast("double") / F.col("n_rows")).alias("c_distinct_ratio"),
    )
    j = b.join(c, "column", "full_outer")
    findings = j.select(
        "column",
        F.when(F.col("b_null_rate").isNull(), F.lit("column_added"))
        .when(F.col("c_null_rate").isNull(), F.lit("column_removed"))
        .when(
            F.col("c_null_rate") - F.col("b_null_rate") > null_rate_jump,
            F.lit("null_rate_jump"),
        )
        .when(
            (F.col("b_distinct_ratio") > 0)
            & (
                F.col("c_distinct_ratio")
                < F.col("b_distinct_ratio") * distinct_ratio_drop
            ),
            F.lit("distinct_collapse"),
        )
        .alias("finding"),
        F.round("b_null_rate", 6).alias("baseline_null_rate"),
        F.round("c_null_rate", 6).alias("current_null_rate"),
        F.round("b_distinct_ratio", 6).alias("baseline_distinct_ratio"),
        F.round("c_distinct_ratio", 6).alias("current_distinct_ratio"),
    )
    return findings.filter(F.col("finding").isNotNull())


def population_stability_index(
    expected: DataFrame,
    actual: DataFrame,
    value_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Distribution-level drift between two snapshots of a numeric
    column: per-bin PSI contributions, (bin, n_expected, n_actual,
    psi_term). Total PSI = SUM(psi_term); the usual gates are 0.1
    (investigate) and 0.25 (block the feed) — this is the
    distribution-shaped complement to profile_drift's per-column
    summary stats (a mean can hold still while the shape migrates).

    Bin edges are equi-width over the EXPECTED snapshot's [min, max]
    (the baseline defines the frame of reference; actual values
    outside it clamp into the edge bins, which is where fresh drift
    shows up). Fractions are Laplace-smoothed ((n+1)/(N+n_bins)) so
    an empty bin contributes a finite term instead of ln(0).

    Scale shape: one 1-row min/max aggregate over expected
    (broadcast), then ONE map-side-combined groupBy(bin) per
    snapshot — at most n_bins rows ever shuffle; the join of the two
    bin tables is trivially broadcast. Float policy: fixed IEEE op
    order, ROUND at the surface (q113).
    """
    stats = expected.agg(
        F.min(F.col(value_col).cast("double")).alias("_lo"),
        F.max(F.col(value_col).cast("double")).alias("_hi"),
    )
    e = psi_bin_counts(expected, value_col, stats, n_bins, "n_expected")
    a = psi_bin_counts(actual, value_col, stats, n_bins, "n_actual")
    j = e.join(a, "bin", "full_outer")
    tot_e = e.agg(F.sum("n_expected").alias("_te"))
    tot_a = a.agg(F.sum("n_actual").alias("_ta"))
    j = j.crossJoin(F.broadcast(tot_e)).crossJoin(F.broadcast(tot_a))
    k = F.lit(float(n_bins))
    p_e = (F.coalesce("n_expected", F.lit(0)) + 1).cast("double") / (
        F.col("_te").cast("double") + k
    )
    p_a = (F.coalesce("n_actual", F.lit(0)) + 1).cast("double") / (
        F.col("_ta").cast("double") + k
    )
    return j.select(
        "bin",
        F.coalesce("n_expected", F.lit(0)).alias("n_expected"),
        F.coalesce("n_actual", F.lit(0)).alias("n_actual"),
        F.round((p_a - p_e) * (F.log(p_a) - F.log(p_e)), 6).alias("psi_term"),
    )


def psi_bin_counts(
    df: DataFrame,
    value_col: str,
    stats: DataFrame,
    n_bins: int,
    out: str,
) -> DataFrame:
    """(bin, <out>) equi-width bin counts of ``value_col`` framed by
    ``stats`` (a 1-row (_lo, _hi) frame — the BASELINE's min/max, so
    every snapshot bins identically). Out-of-range values clamp to
    the edge bins."""
    v = F.col(value_col).cast("double")
    width = (F.col("_hi") - F.col("_lo")) / F.lit(float(n_bins))
    raw = F.floor((v - F.col("_lo")) / width)
    bin_ = F.greatest(F.lit(0), F.least(F.lit(n_bins - 1), raw)).cast("int")
    return (
        df.filter(v.isNotNull())
        .crossJoin(F.broadcast(stats))
        .select(bin_.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias(out))
    )


def ks_drift(
    expected: DataFrame,
    actual: DataFrame,
    value_col: str,
    n_bins: int = 20,
) -> DataFrame:
    """Binned two-sample Kolmogorov-Smirnov drift: per-bin empirical
    CDFs of both snapshots over the SAME equi-width bins (framed by
    the expected snapshot's min/max, like the PSI), and the running
    |CDF_e - CDF_a| gap. The KS statistic is MAX(ks_gap); it reacts
    to where the mass *sits* (location/shape shifts PSI's symmetric
    per-bin terms can understate), and unlike exact KS it needs no
    global sort — the usual large-sample gate is
    c(alpha)*sqrt((ne+na)/(ne*na)).

    Output: (bin, n_expected, n_actual, cdf_expected, cdf_actual,
    ks_gap), one row per occupied bin.

    Scale shape: identical to the PSI — one 1-row baseline min/max
    (broadcast), one map-side-combined groupBy(bin) per snapshot,
    then a single window over <= n_bins rows (driver-trivial).
    Float policy: cumulative counts are exact integers; each CDF is
    ONE double division; ROUND(.,6) at the surface."""
    from pyspark.sql import Window

    stats = expected.agg(
        F.min(F.col(value_col).cast("double")).alias("_lo"),
        F.max(F.col(value_col).cast("double")).alias("_hi"),
    )
    e = psi_bin_counts(expected, value_col, stats, n_bins, "n_expected")
    a = psi_bin_counts(actual, value_col, stats, n_bins, "n_actual")
    j = e.join(a, "bin", "full_outer").select(
        "bin",
        F.coalesce("n_expected", F.lit(0)).alias("n_expected"),
        F.coalesce("n_actual", F.lit(0)).alias("n_actual"),
    )
    tot_e = e.agg(F.sum("n_expected").alias("_te"))
    tot_a = a.agg(F.sum("n_actual").alias("_ta"))
    j = j.crossJoin(F.broadcast(tot_e)).crossJoin(F.broadcast(tot_a))
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum_e = F.sum("n_expected").over(w)
    cum_a = F.sum("n_actual").over(w)
    cdf_e = cum_e.cast("double") / F.col("_te").cast("double")
    cdf_a = cum_a.cast("double") / F.col("_ta").cast("double")
    return j.select(
        "bin",
        "n_expected",
        "n_actual",
        F.round(cdf_e, 6).alias("cdf_expected"),
        F.round(cdf_a, 6).alias("cdf_actual"),
        F.round(F.abs(cdf_e - cdf_a), 6).alias("ks_gap"),
    )


def fd_violations(
    df: DataFrame, determinant: list[str], dependent: list[str]
) -> DataFrame:
    """Functional-dependency audit: every determinant value mapping to
    MORE than one distinct dependent combination violates the rule
    "determinant -> dependent" (the relational data-quality analogue
    of schema constraints the writer can't enforce). Output:
    determinant cols + (n_rows, n_values) for violating groups only.

    Scale shape: ONE groupBy over the determinant (count partial
    map-side; the distinct-count expands to Spark's standard two-phase
    distinct aggregate); the report is bounded by the violating-key
    space."""
    return (
        df.groupBy(*determinant)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct(*dependent).alias("n_values"),
        )
        .filter(F.col("n_values") > 1)
    )


def benford_first_digit(df: DataFrame, value_col: str) -> DataFrame:
    """First-significant-digit distribution vs Benford's law — the
    classic bulk-amount anomaly screen (fabricated or truncated
    numeric feeds drift from log10(1+1/d)). Output per digit 1-9:
    (digit, n, obs_frac, benford_frac, abs_dev).

    Float policy: obs_frac is ONE double division (count/total);
    benford_frac is 1.0/d -> +1 -> log10, a fixed IEEE+libm chain
    (the q138 LN precedent); ROUND(.,6) at the surface.

    Scale shape: one groupBy over 9 digit values (map-side combine),
    total broadcast as a 1-row frame."""
    digit = F.regexp_extract(
        F.col(value_col).cast("string"), "[1-9]", 0
    )
    counts = (
        df.select(digit.alias("_d"))
        .filter(F.col("_d") != "")
        .select(F.col("_d").cast("int").alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = counts.agg(F.sum("n").alias("_t"))
    obs = F.col("n").cast("double") / F.col("_t").cast("double")
    benford = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double"))
    return counts.crossJoin(F.broadcast(total)).select(
        "digit",
        "n",
        F.round(obs, 6).alias("obs_frac"),
        F.round(benford, 6).alias("benford_frac"),
        F.round(F.abs(obs - benford), 6).alias("abs_dev"),
    )


def group_entropy(
    df: DataFrame, key_cols: list[str], cat_col: str
) -> DataFrame:
    """Shannon entropy of the ``cat_col`` distribution per key (nats):
    H = -sum_c p_c ln p_c — the behavioral-diversity feature (a user
    with one event type scores 0; uniform over k types scores ln k)
    and the class-balance audit for training mixes. Output: key cols +
    (n_events, entropy).

    Float policy: each term p*ln(p) is a fixed IEEE+libm chain from
    integer counts, rounded 1e-9 and summed as DECIMAL
    (order-insensitive — the reorderable-sum rule; category order
    across engines is otherwise arbitrary), negated, ROUND(.,4) at
    the surface.

    Scale shape: one (key, cat) groupBy (map-side combined), then a
    KEY-partitioned window to ride the per-key total alongside the
    category counts, then one key groupBy. The window's exchange and
    frame run over the already-reduced (key, cat) COUNT table — rows
    bounded by keys x categories, never the raw corpus. No join."""
    from pyspark.sql import Window

    kc = (
        df.groupBy(*key_cols, cat_col)
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    w = Window.partitionBy(*key_cols)
    p = F.col("_n").cast("double") / F.col("_tot").cast("double")
    term = F.round(p * F.log(p), 9).cast("decimal(18,9)")
    return (
        kc.withColumn("_tot", F.sum("_n").over(w))
        .groupBy(*key_cols)
        .agg(
            F.max("_tot").alias("n_events"),
            F.round(-F.sum(term).cast("double"), 4).alias("entropy"),
        )
    )


def group_gini(df: DataFrame, key_cols: list[str], value_col: str) -> DataFrame:
    """Gini coefficient of ``value_col`` per key — the inequality /
    concentration audit (is one customer 90% of a segment's revenue?
    is one source 90% of a training mix?). Uses the rank formula
    G = (2*sum(i*x_i) - (n+1)*sum(x_i)) / (n*sum(x_i)) over values
    sorted ascending, i = 1..n.

    ENGINE-EXACT: x casts to DECIMAL(18,2), both sums accumulate as
    decimals (order-insensitive), ranks are integers from a total
    order (value, then arbitrary-but-keyed tiebreak is unnecessary —
    equal values in either order contribute the same i*x sum only if
    x_i equal, which they are), and the single division is one double
    op, ROUND(.,6) at the surface. Non-positive totals return NULL.

    Scale shape: one key-partitioned window (row_number over the
    values within each key) + one key groupBy — rank assignment
    reuses the window exchange; no join."""
    from pyspark.sql import Window

    x = F.col(value_col).cast("decimal(18,2)")
    w = Window.partitionBy(*key_cols).orderBy(F.col("_x").asc())
    ranked = df.select(*key_cols, x.alias("_x")).withColumn(
        "_i", F.row_number().over(w)
    )
    return ranked.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.when(
            F.sum("_x") > 0,
            F.round(
                (
                    2.0 * F.sum(F.col("_i") * F.col("_x")).cast("double")
                    - (F.count(F.lit(1)) + 1).cast("double")
                    * F.sum("_x").cast("double")
                )
                / (
                    F.count(F.lit(1)).cast("double")
                    * F.sum("_x").cast("double")
                ),
                6,
            ),
        ).alias("gini"),
    )


def mad_outliers(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    k: float = 10.0,
) -> DataFrame:
    """Robust per-group outliers by Median Absolute Deviation — the
    heavy-tail-safe complement to q126's z-scores (one extreme value
    drags a mean + stddev toward itself; the median and MAD barely
    move). INTEGER-DECIDED medians: the LOWER median (the value at
    row_number ceil(n/2) in sort order) on both levels, so no
    interpolation arithmetic can diverge across engines; the outlier
    predicate |x - med| > k * MAD compares decimals exactly.

    Output: key cols + (value, med, mad) for flagged rows only.

    Scale shape: two key-partitioned window passes (value rank, then
    deviation rank) + key-keyed joins of 1-row-per-key medians —
    every frame is per-key; no global sort. At extreme group sizes
    the exact median swaps for percentile_approx with the same
    call shape."""
    from pyspark.sql import Window

    x = F.col(value_col).cast("decimal(18,2)")

    def lower_median(frame: DataFrame, col: str, out: str) -> DataFrame:
        w = Window.partitionBy(*key_cols).orderBy(
            F.col(col).asc()
        )
        n = Window.partitionBy(*key_cols)
        return (
            frame.withColumn("_rn", F.row_number().over(w))
            .withColumn("_n", F.count(F.lit(1)).over(n))
            .filter(F.col("_rn") == F.ceil(F.col("_n") / 2))
            .select(*key_cols, F.col(col).alias(out))
        )

    vals = df.select(*key_cols, x.alias("_x"))
    med = lower_median(vals, "_x", "med")
    dev = vals.join(med, key_cols).withColumn(
        "_d", F.abs(F.col("_x") - F.col("med"))
    )
    mad = lower_median(dev.select(*key_cols, "_d"), "_d", "mad")
    return (
        dev.join(mad, key_cols)
        .filter(F.col("_d") > F.lit(k) * F.col("mad"))
        .select(
            *key_cols,
            F.col("_x").cast("double").alias("value"),
            F.col("med").cast("double").alias("med"),
            F.col("mad").cast("double").alias("mad"),
        )
    )


def segment_divergence(
    df: DataFrame,
    seg_col: str,
    value_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Per-SEGMENT distribution divergence against the global
    population — the grouped twin of population_stability_index:
    equi-width bins framed by the GLOBAL [min, max], per-bin PSI-style
    terms of (segment distribution vs whole-population distribution),
    Laplace-smoothed so segments missing a bin contribute finite
    terms. SUM(psi_term) per segment is its divergence; a segment
    whose feed silently shifts (one marketplace, one crawler, one
    source) lights up while the global monitor (q139) stays flat.

    Output: (seg, bin, n_global, n_seg, psi_term ROUND 6) — one row
    per (segment x globally-nonempty bin); per-bin surface keeps the
    float policy order-free (the total is a sum the CALLER runs).

    Scale shape: one 1-row global min/max (broadcast), one
    map-side-combined groupBy(bin) + one groupBy(seg, bin) — at most
    n_segments x n_bins rows ever shuffle; the segment-total and
    global frames broadcast onto the grid."""
    stats = df.agg(
        F.min(F.col(value_col).cast("double")).alias("_lo"),
        F.max(F.col(value_col).cast("double")).alias("_hi"),
    )
    v = F.col(value_col).cast("double")
    width = (F.col("_hi") - F.col("_lo")) / F.lit(float(n_bins))
    raw = F.floor((v - F.col("_lo")) / width)
    bin_ = F.greatest(F.lit(0), F.least(F.lit(n_bins - 1), raw)).cast("int")
    binned = (
        df.filter(v.isNotNull())
        .crossJoin(F.broadcast(stats))
        .select(F.col(seg_col).alias("seg"), bin_.alias("bin"))
    )
    s = binned.groupBy("seg", "bin").agg(F.count(F.lit(1)).alias("n_seg"))
    g = s.groupBy("bin").agg(F.sum("n_seg").alias("n_global"))
    tot_g = g.agg(F.sum("n_global").alias("_tg"))
    tot_s = s.groupBy("seg").agg(F.sum("n_seg").alias("_ts"))
    grid = tot_s.crossJoin(F.broadcast(g)).join(s, ["seg", "bin"], "left")
    k = F.lit(float(n_bins))
    n_seg = F.coalesce("n_seg", F.lit(0))
    p_g = (F.col("n_global") + 1).cast("double") / (
        F.col("_tg").cast("double") + k
    )
    p_s = (n_seg + 1).cast("double") / (F.col("_ts").cast("double") + k)
    return (
        grid.crossJoin(F.broadcast(tot_g))
        .select(
            "seg",
            "bin",
            "n_global",
            n_seg.alias("n_seg"),
            F.round((p_s - p_g) * (F.log(p_s) - F.log(p_g)), 6).alias(
                "psi_term"
            ),
        )
    )


def grouped_weighted_median(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    weight_col: str,
) -> DataFrame:
    """Exact WEIGHTED lower median per group: the smallest value v
    whose cumulative weight reaches half the group's total
    (2 * cumw(<= v) >= total) — the volume-weighted robust center
    ("the price at which half the QUANTITY trades"), which the plain
    median (one vote per row) misstates whenever weights are skewed.

    INTEGER-DECIDED like mad_outliers: weights cast to BIGINT, the
    picking predicate is the integer cross-multiplication — no
    interpolation, no float comparisons, so engines cannot diverge.
    Output: group cols + (w_median DOUBLE, total_weight BIGINT).

    Scale shape: one (group, value) pre-aggregation (map-side
    combine collapses ties before any window), then one
    group-partitioned window cumsum over DISTINCT values — per-group
    frames only, no global sort."""
    from pyspark.sql import Window

    gw = (
        df.groupBy(*group_cols, F.col(value_col).alias("_v"))
        .agg(F.sum(F.col(weight_col).cast("long")).alias("_w"))
    )
    wc = Window.partitionBy(*group_cols).orderBy("_v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wt = Window.partitionBy(*group_cols)
    cum = gw.withColumn("_cw", F.sum("_w").over(wc)).withColumn(
        "_tw", F.sum("_w").over(wt)
    )
    hit = cum.filter(2 * F.col("_cw") >= F.col("_tw"))
    return hit.groupBy(*group_cols).agg(
        F.min("_v").cast("double").alias("w_median"),
        F.max("_tw").alias("total_weight"),
    )


def grouped_trimmed_mean(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    trim_num: int = 1,
    trim_den: int = 10,
) -> DataFrame:
    """Exact per-group TRIMMED mean: drop the floor(n*num/den)
    smallest and largest rows, average the middle — the robust
    location estimate between the mean (trim 0) and the median (trim
    ~1/2), standard for quality-score aggregation where a few
    garbage documents would drag a plain mean.

    The trim count is pure integer arithmetic (n*num div den); ties
    are cut by row_number, which is value-stable (tied rows are
    interchangeable in the kept multiset, so the SUM is
    order-independent). Kept values sum as decimals (reorderable-sum
    contract); the mean is ONE IEEE division at the surface.
    Output: group cols + (trimmed_mean DOUBLE, n_kept BIGINT).

    Scale shape: one group-partitioned window rank + one
    map-side-combined groupBy — per-group frames, no global sort."""
    from pyspark.sql import Window

    x = F.col(value_col).cast("decimal(18,2)")
    w = Window.partitionBy(*group_cols).orderBy(F.col("_x").asc())
    wn = Window.partitionBy(*group_cols)
    ranked = (
        df.select(*group_cols, x.alias("_x"))
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(wn))
        .withColumn(
            "_cut", F.expr(f"CAST(_n * {trim_num} AS BIGINT) div {trim_den}")
        )
    )
    kept = ranked.filter(
        (F.col("_rn") > F.col("_cut")) & (F.col("_rn") <= F.col("_n") - F.col("_cut"))
    )
    return kept.groupBy(*group_cols).agg(
        (
            F.sum("_x").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("trimmed_mean"),
        F.count(F.lit(1)).alias("n_kept"),
    )


def grouped_mode(
    df: DataFrame, group_cols: list[str], value_col: str
) -> DataFrame:
    """Exact MODE per group with a deterministic tie-break (highest
    count, then smallest value) — categorical imputation and
    dominant-category audits. One map-side-combined (group, value)
    count, then one min-struct aggregate per group: no window, no
    sort, two bounded shuffles. The pick is a struct ordering over
    (-count, value) — integers and the raw value, nothing an engine
    can round differently.
    Output: group cols + (mode_value, mode_count BIGINT)."""
    counted = df.filter(F.col(value_col).isNotNull()).groupBy(
        *group_cols, F.col(value_col).alias("_v")
    ).agg(F.count(F.lit(1)).alias("_c"))
    best = counted.groupBy(*group_cols).agg(
        F.min(F.struct((-F.col("_c")).alias("_nc"), F.col("_v"))).alias("_b")
    )
    return best.select(
        *group_cols,
        F.col("_b._v").alias("mode_value"),
        (-F.col("_b._nc")).alias("mode_count"),
    )


def grouped_weight_concentration(
    df: DataFrame,
    group_cols: list[str],
    id_col: str,
    weight_col: str,
    thresholds: list[tuple[int, int]] = ((1, 2), (9, 10)),
) -> DataFrame:
    """Per-group weight CONCENTRATION cutpoints: how many members —
    heaviest-first, id-ascending tie-break — carry num/den of the
    group's total weight. The source-concentration audit for training
    mixtures ("3 domains supply 90% of tokens"), the grouped twin of
    vocabulary_coverage (q172), and a Zipf/Gini-adjacent summary that
    stays INTEGER-DECIDED: weights aggregate as exact decimals and
    every cutpoint is the den*cum >= num*total cross-multiplication.

    Output: group cols + n_members, then one ``members_p<pct>``
    column per threshold.

    Scale shape: one map-side-combined (group, id) pre-aggregation,
    then GROUP-PARTITIONED rank/cumsum windows (member-bounded per
    group — never a global sort) and one final groupBy."""
    from pyspark.sql import Window

    w = F.col(weight_col).cast("decimal(18,2)")
    per = df.groupBy(*group_cols, F.col(id_col).alias("_id")).agg(
        F.sum(w).alias("_w")
    )
    order = Window.partitionBy(*group_cols).orderBy(
        F.col("_w").desc(), F.col("_id").asc()
    )
    wtot = Window.partitionBy(*group_cols)
    ranked = per.select(
        *group_cols,
        F.row_number().over(order).cast("long").alias("_rank"),
        F.sum("_w").over(
            order.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("_cum"),
        F.sum("_w").over(wtot).alias("_tot"),
    )
    aggs = [F.count(F.lit(1)).alias("n_members")]
    for num, den in thresholds:
        aggs.append(
            F.min(
                F.when(
                    F.lit(den) * F.col("_cum") >= F.lit(num) * F.col("_tot"),
                    F.col("_rank"),
                )
            ).alias(f"members_p{round(100 * num / den)}")
        )
    return ranked.groupBy(*group_cols).agg(*aggs)


def grouped_winsorized_mean(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    trim_num: int = 1,
    trim_den: int = 10,
) -> DataFrame:
    """Exact per-group WINSORIZED mean: the floor(n*num/den) smallest
    and largest rows are CLAMPED to the nearest kept value (not
    dropped — the trimmed mean's sibling that preserves sample size
    and weights tails at the fence instead of discarding them;
    standard for heavy-tailed spend/score aggregation). Fences are
    rank-decided integers (value at rank cut+1 / rank n-cut), clamped
    values sum as decimals, the mean is ONE IEEE division.
    Output: group cols + (winsorized_mean DOUBLE, n_rows BIGINT).

    Scale shape: one group-partitioned rank window, fence values via
    two windowed conditional MAXes over the same partition (no extra
    shuffle), one map-side-combined final agg."""
    from pyspark.sql import Window

    x = F.col(value_col).cast("decimal(18,2)")
    w = Window.partitionBy(*group_cols).orderBy(F.col("_x").asc())
    wg = Window.partitionBy(*group_cols)
    ranked = (
        df.select(*group_cols, x.alias("_x"))
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(wg))
        .withColumn(
            "_cut", F.expr(f"CAST(_n * {trim_num} AS BIGINT) div {trim_den}")
        )
    )
    lo = F.max(
        F.when(F.col("_rn") == F.col("_cut") + 1, F.col("_x"))
    ).over(wg)
    hi = F.max(
        F.when(F.col("_rn") == F.col("_n") - F.col("_cut"), F.col("_x"))
    ).over(wg)
    clamped = ranked.withColumn(
        "_cx", F.greatest(F.least(F.col("_x"), hi), lo)
    )
    return clamped.groupBy(*group_cols).agg(
        (
            F.sum("_cx").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("winsorized_mean"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def rank_sum_test(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Mann-Whitney U rank-sum test between two groups — the
    NONPARAMETRIC two-sample rung the drift family lacked (PSI and
    the binned KS react to binned mass, chi-square to categories;
    the rank-sum statistic orders the raw values and needs no
    binning, no distributional assumption).

    Midranks are handled exactly by DOUBLING: ties at a value span
    ranks [cum-cnt+1, cum], so 2*midrank = 2*cum - cnt + 1 is an
    INTEGER and 2*R_a = SUM(cnt_a * (2*cum - cnt + 1)) stays
    integer-exact across engines. Surface (one row): n_a, n_b,
    r2_a (= 2*R_a), u2_a (= 2*U_a = r2_a - n_a*(n_a+1)),
    u2_b (= 2*U_b = 2*n_a*n_b - u2_a) — all BIGINT — plus the
    tie-corrected normal approximation z and the effect size
    cliffs_delta (= u2_a/(n_a*n_b) - 1), each a single deterministic
    float tree ROUND(.,6)ed at the surface (the q148/q161 float
    policy).

    Scale shape: one map-side-combined groupBy on the VALUE (ties
    collapse before any ordering), one distributed prefix sum over
    the distinct-value total order (suffixes._prefix_sum —
    repartitionByRange + per-partition windows + k-bounded offset
    collect; never a single-task global window even when every value
    is distinct), one 1-row aggregate. Nothing pair-wise, nothing
    corpus^2."""
    from product_etl_spark.operators.suffixes import _prefix_sum

    # complete observations only: a NULL value has no rank, and the
    # engines disagree on where NULL sorts (Spark windows default
    # NULLS FIRST, DuckDB NULLS LAST) — dropping them is both the
    # standard stance and the only cross-engine-stable one
    s = df.filter(
        F.col(group_col).isin([group_a, group_b])
        & F.col(value_col).isNotNull()
    ).select(
        F.col(value_col).alias("_v"),
        (F.col(group_col) == F.lit(group_a)).cast("long").alias("_a"),
    )
    g = s.groupBy("_v").agg(
        F.count(F.lit(1)).alias("_cnt"), F.sum("_a").alias("_cnt_a")
    )
    c = _prefix_sum(g, "_v", "_cnt", "_cum")
    agg = c.agg(
        F.sum(F.col("_cnt_a") * (2 * F.col("_cum") - F.col("_cnt") + 1))
        .alias("_r2a"),
        F.sum("_cnt_a").alias("_na"),
        F.sum(F.col("_cnt") - F.col("_cnt_a")).alias("_nb"),
        F.sum(
            F.col("_cnt") * F.col("_cnt") * F.col("_cnt") - F.col("_cnt")
        ).alias("_ties"),
        F.sum("_cnt").alias("_n"),
    )
    u2a = F.col("_r2a") - F.col("_na") * (F.col("_na") + 1)
    var = (
        F.col("_na").cast("double")
        * F.col("_nb").cast("double")
        / F.lit(12.0)
        * (
            (F.col("_n") + 1).cast("double")
            - F.col("_ties").cast("double")
            / (F.col("_n").cast("double") * (F.col("_n") - 1).cast("double"))
        )
    )
    # degenerate-corpus contract, engine-identical by explicit guard
    # (ADVICE r13): a missing group (n_a*n_b = 0) leaves both z and
    # cliffs_delta NULL; zero variance (all observations tied, or
    # n = 1 where var is 0/0 = NaN and the > fails) leaves z NULL —
    # never an engine-specific NaN/inf from IEEE division
    both = (F.col("_na") > 0) & (F.col("_nb") > 0)
    return agg.select(
        F.col("_na").cast("bigint").alias("n_a"),
        F.col("_nb").cast("bigint").alias("n_b"),
        F.col("_r2a").cast("bigint").alias("r2_a"),
        u2a.cast("bigint").alias("u2_a"),
        (2 * F.col("_na") * F.col("_nb") - u2a).cast("bigint").alias("u2_b"),
        F.when(
            both & (var > F.lit(0.0)),
            F.round(
                (
                    u2a.cast("double")
                    - F.col("_na").cast("double") * F.col("_nb")
                )
                / (F.lit(2.0) * F.sqrt(var)),
                6,
            ),
        ).alias("z"),
        F.when(
            both,
            F.round(
                u2a.cast("double")
                / (F.col("_na").cast("double") * F.col("_nb"))
                - F.lit(1.0),
                6,
            ),
        ).alias("cliffs_delta"),
    )


def spearman_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_col: str,
) -> DataFrame:
    """Grouped Spearman rank correlation — Pearson over rank
    transforms, the nonparametric effect-size companion to the
    rank-sum test above (monotone association without assuming
    linearity; ties handled exactly by midranks).

    Exactness: doubled midranks (2*midrank = 2*cum - cnt + 1, an
    INTEGER — the rank_sum_test trick) make every rank a whole
    number; the constant factor 2 cancels in the correlation. The
    six per-group sums (n, Sx, Sy, Sxx, Syy, Sxy) aggregate as
    EXACT decimals (order-free, mergeable partials — the q102/q161
    moment recipe on ranks); rho is ONE double tree ROUND(.,6)ed.
    Groups with zero rank variance on either side (all values tied)
    yield NULL rho.

    Scale shape: ties collapse in two (group, value) map-side-
    combined groupBys BEFORE any ordering; BOTH axes' cumulative
    sums then ride ONE segmented two-level prefix sum — the x and y
    distinct-value frames union with an axis tag and the scan is
    segmented by (group, axis) over a struct order key whose fields
    stay in each axis's NATIVE type (the inactive axis's field is
    NULL, constant within a segment, so per-axis value order is
    preserved without a lossy common-type cast). One
    repartitionByRange instead of two (r14 verdict item 3 — the
    fusion halves the scan's job count; hash unchanged), and one
    group with any number of distinct values is never a single
    window task (r13 verdict item 2); two equi-join-backs on
    (group, value); one map-side-combined final aggregate. Nothing
    pair-wise, no global window, no window partitioned by group
    alone."""
    from product_etl_spark.operators.suffixes import _segmented_prefix_sum

    # complete observations only (same NULL stance as rank_sum_test:
    # no rank for NULL, and NULL sort order differs across engines)
    obs = df.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    )
    x_t = obs.schema[x_col].dataType
    y_t = obs.schema[y_col].dataType

    def value_counts(col: str, axis: int) -> DataFrame:
        g = obs.groupBy(
            F.col(group_col).alias("_g"), F.col(col).alias("_v")
        ).agg(F.count(F.lit(1)).alias("_c"))
        return g.select(
            "_g",
            F.lit(axis).alias("_axis"),
            (F.col("_v") if axis == 0 else F.lit(None).cast(x_t)).alias("_vx"),
            (F.col("_v") if axis == 1 else F.lit(None).cast(y_t)).alias("_vy"),
            "_c",
        )

    u = value_counts(x_col, 0).unionByName(value_counts(y_col, 1))
    u = u.withColumn("_ord", F.struct(F.col("_vx"), F.col("_vy")))
    c = _segmented_prefix_sum(u, ["_g", "_axis"], "_ord", "_c", "_cum")
    doubled = 2 * F.col("_cum") - F.col("_c") + 1
    rx = c.filter(F.col("_axis") == 0).select(
        "_g", F.col("_vx").alias("_v"), doubled.alias("_rx")
    )
    ry = c.filter(F.col("_axis") == 1).select(
        "_g", F.col("_vy").alias("_v"), doubled.alias("_ry")
    )
    j = (
        obs.select(F.col(group_col), F.col(x_col), F.col(y_col))
        .join(
            rx,
            (F.col(group_col) == rx["_g"]) & (F.col(x_col) == rx["_v"]),
        )
        .drop(rx["_g"])
        .drop(rx["_v"])
        .join(
            ry,
            (F.col(group_col) == ry["_g"]) & (F.col(y_col) == ry["_v"]),
        )
        .select(group_col, "_rx", "_ry")
    )
    dx = F.col("_rx").cast("decimal(18,0)")
    dy = F.col("_ry").cast("decimal(18,0)")
    m = j.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dx).alias("_sx"),
        F.sum(dy).alias("_sy"),
        F.sum(dx * dx).alias("_sxx"),
        F.sum(dy * dy).alias("_syy"),
        F.sum(dx * dy).alias("_sxy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("_sx").cast("double"), F.col("_sy").cast("double")
    sxx, syy = F.col("_sxx").cast("double"), F.col("_syy").cast("double")
    sxy = F.col("_sxy").cast("double")
    # the zero-rank-variance contract is made ENGINE-IDENTICAL by an
    # explicit guard rather than by division semantics: Spark's IEEE
    # 0/0 yields NaN (not NULL as 'yield NULL rho' promises) and the
    # DuckDB oracle's yields NaN too, but relying on that couples the
    # contract to each engine's division — emit NULL explicitly on
    # both sides instead (ADVICE r13)
    den = (nd * sxx - sx * sx) * (nd * syy - sy * sy)
    rho = F.when(den > F.lit(0.0), (nd * sxy - sx * sy) / F.sqrt(den))
    return m.select(
        group_col,
        F.col("n").cast("bigint").alias("n"),
        F.round(rho, 6).alias("rho"),
    ).orderBy(group_col)


def kruskal_wallis(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """Kruskal-Wallis H rank test across ALL groups at once — the
    k-sample generalization of ``rank_sum_test`` (same doubled
    midranks, same value-collapsed machinery): does at least one
    group's distribution sit apart? The drift family's answer when
    a corpus has many segments and pairwise Mann-Whitney tests
    would multiply.

    Per-group surface (one row per group, ORDER BY group): n_g and
    the doubled rank sum r2_g (both BIGINT, integer-exact via
    2*midrank = 2*cum - cnt + 1), plus h_term — this group's
    contribution 3*r2_g^2 / (N*(N+1)*n_g) as ONE deterministic
    float tree ROUND(.,6)ed (the q148/q161 float policy; the sum of
    identical IEEE trees is left to the consumer so no cross-engine
    float-summation ORDER ever enters the hash). H = SUM(h_term) -
    3*(N+1); tie-corrected H_tc = H / (1 - SUM(cnt^3-cnt)/(N^3-N))
    — ``kruskal_wallis_h`` computes both. NULL values and NULL
    groups are dropped (no rank for NULL; engines disagree on NULL
    sort order).

    Scale shape: ties collapse in one map-side-combined groupBy on
    the VALUE before any ordering; the distinct-value prefix sum is
    the two-level distributed scan (suffixes._prefix_sum); the
    (value, group) frame joins back on the value key; one group
    aggregate + a 1-row total broadcast. Nothing pair-wise, no
    single-task window."""
    s, vals = _kw_observations(df, value_col, group_col)
    return _kw_terms(s, vals, group_col)


def _kw_observations(
    df: DataFrame, value_col: str, group_col: str
) -> tuple[DataFrame, DataFrame]:
    """Shared Kruskal-Wallis inputs: the complete-observation frame
    and its value-collapsed counts — split out so kruskal_wallis_h
    can checkpoint ``vals`` once and derive BOTH the per-group terms
    and the tie total from it instead of re-aggregating the corpus a
    third time (r14 review finding)."""
    s = df.filter(
        F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(F.col(value_col).alias("_v"), F.col(group_col).alias("_g"))
    vals = s.groupBy("_v").agg(F.count(F.lit(1)).alias("_cnt"))
    return s, vals


def _kw_terms(
    s: DataFrame, vals: DataFrame, group_col: str
) -> DataFrame:
    from product_etl_spark.operators.suffixes import _prefix_sum

    c = _prefix_sum(vals, "_v", "_cnt", "_cum")
    vg = s.groupBy("_v", "_g").agg(F.count(F.lit(1)).alias("_cvg"))
    rg = (
        vg.join(c, "_v")
        .groupBy("_g")
        .agg(
            F.sum(
                F.col("_cvg") * (2 * F.col("_cum") - F.col("_cnt") + 1)
            ).alias("_r2g"),
            F.sum("_cvg").alias("_ng"),
        )
    )
    tot = rg.agg(F.sum("_ng").alias("_n"))
    nd = F.col("_n").cast("double")
    r2d = F.col("_r2g").cast("double")
    ngd = F.col("_ng").cast("double")
    return (
        rg.crossJoin(F.broadcast(tot))
        .select(
            F.col("_g").alias(group_col),
            F.col("_ng").cast("bigint").alias("n_g"),
            F.col("_r2g").cast("bigint").alias("r2_g"),
            F.round(
                F.lit(3.0) * r2d * r2d / (nd * (nd + 1) * ngd), 6
            ).alias("h_term"),
        )
        .orderBy(group_col)
    )


def kruskal_wallis_h(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """One-row H statistic from the ``kruskal_wallis`` per-group
    surface: H = SUM(h_term) - 3*(N+1) and the tie-corrected
    H_tc = H / (1 - ties/(N^3 - N)). The per-group ROUND(.,6)ed
    terms are summed as DECIMAL(38,6) — exact, order-free addition —
    so the only float steps are the per-row trees and one final
    division: deterministic on any engine, any partitioning.
    Degenerate contract (engine-identical by guard): N <= 1 or
    all observations tied (ties == N^3 - N) yield NULL H_tc; k = 0
    (empty input) yields a single all-NULL row."""
    s, vals = _kw_observations(df, value_col, group_col)
    # one materialization of the value counts feeds BOTH the term
    # pipeline and the tie total — without it the tie aggregate would
    # re-scan and re-collapse the corpus a third time
    vals = vals.localCheckpoint(eager=True)
    terms = _kw_terms(s, vals, group_col)
    ties = vals.agg(
        F.sum(
            F.col("_cnt") * F.col("_cnt") * F.col("_cnt") - F.col("_cnt")
        ).alias("_ties")
    )
    agg = terms.agg(
        F.sum(F.col("h_term").cast("decimal(38,6)")).alias("_sumt"),
        F.sum("n_g").alias("_n"),
        F.count(F.lit(1)).alias("_k"),
    ).crossJoin(F.broadcast(ties))
    nd = F.col("_n").cast("double")
    h = F.col("_sumt").cast("double") - F.lit(3.0) * (nd + 1)
    n3n = F.col("_n") * F.col("_n") * F.col("_n") - F.col("_n")
    return agg.select(
        F.col("_n").cast("bigint").alias("n"),
        F.col("_k").cast("bigint").alias("k"),
        F.col("_ties").cast("bigint").alias("ties"),
        F.round(h, 6).alias("h"),
        F.when(
            (F.col("_n") > 1) & (F.col("_ties") < n3n),
            F.round(
                h
                / (
                    F.lit(1.0)
                    - F.col("_ties").cast("double") / n3n.cast("double")
                ),
                6,
            ),
        ).alias("h_tc"),
    )


def chi_square_independence(
    df: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Chi-squared test of independence between two categorical
    columns, with Cramer's V effect size — the contingency-table
    rung next to the rank tests (Mann-Whitney q223 / Kruskal-Wallis
    q230 compare distributions; this one tests association between
    two LABELINGS, the canonical corpus-audit question "is source
    independent of language / quality tier / license?").

    Exactness (the kruskal_wallis float policy): every count is an
    exact BIGINT; each cell's term
    ``(o*N - r*c)^2 / (N*r*c)`` — the (o-e)^2/e expansion that
    clears fractions — is ONE deterministic IEEE double tree over
    integer-decided inputs (operands cast to double BEFORE the
    multiplies, so no integer overflow at any corpus size),
    ROUND(.,6)ed per cell; chi2 is the DECIMAL(38,6) sum of rounded
    terms — order-free addition, identical on any engine and any
    partitioning. ZERO cells are included explicitly (a missing
    (a,b) combination contributes e, not nothing) via the
    vocabulary-sized margin grid. NULL in either column drops the
    observation (the rank ops' NULL stance). Degenerate contract:
    dof = 0 (either margin single-valued) yields NULL cramers_v
    with chi2 still 0; an EMPTY corpus yields an empty frame (no
    margins exist, so there is no row to emit).

    Scale shape: three map-side-combined groupBys (cells, row
    margins, column margins) + a 1-row total; the grid is the
    CARTESIAN of the two vocabularies — category-bounded, never
    corpus-sized — and every join onto it is broadcast-sized.
    Output is ONE row."""
    obs = df.filter(
        F.col(a_col).isNotNull() & F.col(b_col).isNotNull()
    )
    cells = obs.groupBy(
        F.col(a_col).alias("_a"), F.col(b_col).alias("_b")
    ).agg(F.count(F.lit(1)).alias("_o"))
    rows = obs.groupBy(F.col(a_col).alias("_a")).agg(
        F.count(F.lit(1)).alias("_r")
    )
    cols = obs.groupBy(F.col(b_col).alias("_b")).agg(
        F.count(F.lit(1)).alias("_c")
    )
    tot = obs.agg(F.count(F.lit(1)).alias("_n"))
    grid = (
        rows.crossJoin(cols)
        .join(cells, ["_a", "_b"], "left")
        .select(
            "_a",
            "_b",
            "_r",
            "_c",
            F.coalesce(F.col("_o"), F.lit(0)).alias("_o"),
        )
        .crossJoin(F.broadcast(tot))
    )
    od = F.col("_o").cast("double")
    rd = F.col("_r").cast("double")
    cd = F.col("_c").cast("double")
    nd = F.col("_n").cast("double")
    term = F.round(
        (od * nd - rd * cd) * (od * nd - rd * cd) / (nd * rd * cd), 6
    )
    terms = grid.select(term.cast("decimal(38,6)").alias("_t"), "_n")
    agg = (
        terms.groupBy("_n")
        .agg(F.sum("_t").alias("_chi2"))
        .crossJoin(
            F.broadcast(
                rows.agg(F.count(F.lit(1)).alias("_ra"))
            )
        )
        .crossJoin(
            F.broadcast(
                cols.agg(F.count(F.lit(1)).alias("_cb"))
            )
        )
    )
    dof = (F.col("_ra") - 1) * (F.col("_cb") - 1)
    chi2d = F.col("_chi2").cast("double")
    mindim = F.least(F.col("_ra") - 1, F.col("_cb") - 1)
    return agg.select(
        F.col("_n").cast("bigint").alias("n"),
        dof.cast("bigint").alias("dof"),
        chi2d.alias("chi2"),
        F.when(
            dof > 0,
            F.round(
                F.sqrt(
                    chi2d
                    / (F.col("_n").cast("double") * mindim.cast("double"))
                ),
                6,
            ),
        ).alias("cramers_v"),
    )


def welch_t_test(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Welch's unequal-variance t-test between two groups — the
    PARAMETRIC rung next to the rank tests (q223/q230 ask "same
    distribution?" without moments; this asks "same mean?" from
    them), the standard A/B check over corpus metrics.

    Exactness (the q102/q161 moment recipe): per-group moments
    (n, SUM(x), SUM(x*x)) aggregate as EXACT decimals — order-free,
    mergeable partials — and mean/var/t/df are single deterministic
    IEEE double trees over those decided sums, ROUND(.,6)ed at the
    surface; no float accumulation order enters the hash.
    Degenerate contract (engine-identical by guard): either group
    with n < 2, or zero pooled standard error, yields NULL t and
    df_welch; means still report (NULL only when that group is
    empty — then its row is simply absent and the single output row
    carries NULL for the missing side). NULL values drop (no rank,
    no moment).

    Scale shape: ONE map-side-combined groupBy over the two groups'
    rows, two 1-row frames broadcast-joined. Output is ONE row."""
    dec = F.col(value_col).cast("decimal(18,6)")
    obs = df.filter(
        F.col(value_col).isNotNull()
        & F.col(group_col).isin([group_a, group_b])
    )
    m = obs.groupBy(F.col(group_col).alias("_g")).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(dec).alias("_s"),
        F.sum(dec * dec).alias("_ss"),
    )

    def side(val, suffix):
        return m.filter(F.col("_g") == F.lit(val)).select(
            F.col("_n").alias(f"_n{suffix}"),
            F.col("_s").alias(f"_s{suffix}"),
            F.col("_ss").alias(f"_ss{suffix}"),
        )

    one = (
        obs.agg(F.count(F.lit(1)).alias("_tot"))
        .join(F.broadcast(side(group_a, "a")), F.lit(True), "left")
        .join(F.broadcast(side(group_b, "b")), F.lit(True), "left")
    )

    def stats(suffix):
        n = F.col(f"_n{suffix}")
        nd = n.cast("double")
        sd = F.col(f"_s{suffix}").cast("double")
        ssd = F.col(f"_ss{suffix}").cast("double")
        mean = sd / nd
        var = (ssd - sd * sd / nd) / (nd - F.lit(1.0))
        return n, nd, mean, var

    na, nad, ma, va = stats("a")
    nb, nbd, mb, vb = stats("b")
    se2 = va / nad + vb / nbd
    t = (ma - mb) / F.sqrt(se2)
    dfw = (se2 * se2) / (
        (va / nad) * (va / nad) / (nad - F.lit(1.0))
        + (vb / nbd) * (vb / nbd) / (nbd - F.lit(1.0))
    )
    ok = (na >= 2) & (nb >= 2) & (se2 > F.lit(0.0))
    return one.select(
        F.coalesce(na, F.lit(0)).cast("bigint").alias("n_a"),
        F.coalesce(nb, F.lit(0)).cast("bigint").alias("n_b"),
        F.round(ma, 6).alias("mean_a"),
        F.round(mb, 6).alias("mean_b"),
        F.when(ok, F.round(t, 6)).alias("t"),
        F.when(ok, F.round(dfw, 6)).alias("df_welch"),
    )
