"""Mergeable-sketch operators: estimates track exact answers, and
partial->merge composition is order-insensitive (the property that
makes sketch pre-aggregation valid at 100 TB)."""

from __future__ import annotations

from pyspark.sql import functions as F

from product_etl_spark.operators import sketches as SK


def _events(spark, sf_dir):
    from product_etl_spark.session import load_tables

    return load_tables(spark, sf_dir, ["events"])["events"]


def _hll_partials(df, group_cols, col):
    """Per-group HLL sketch binaries, the input hll_rollup merges."""
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(F.col(col), F.lit(12)).alias("sketch")
    )


def test_hll_rollup_tracks_exact_distinct(spark, sf_dir):
    ev = _events(spark, sf_dir)
    partials = _hll_partials(
        ev.withColumn("day", F.to_date("ts")), ["day", "event_type"], "user_id"
    )
    est = {
        r.event_type: r.n_distinct
        for r in SK.hll_rollup(partials, ["event_type"]).collect()
    }
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(est) == set(exact)
    for t, n in exact.items():
        assert abs(est[t] - n) <= max(2, 0.05 * n), (t, est[t], n)


def test_hll_merge_is_partition_order_insensitive(spark, sf_dir):
    ev = _events(spark, sf_dir).withColumn("day", F.to_date("ts"))
    one = SK.hll_rollup(_hll_partials(ev, ["day"], "user_id"), [])
    other = SK.hll_rollup(
        _hll_partials(ev.repartition(13, "event_type"), ["day"], "user_id"), []
    )
    # register-wise max union: same sketch regardless of build layout
    assert one.first()[0] == other.first()[0]


def test_theta_overlap_exact_below_nominal_entries(spark, sf_dir):
    ev = _events(spark, sf_dir)
    partials = SK.theta_partials(
        ev.withColumn("day", F.to_date("ts")), ["day", "event_type"], "user_id"
    )
    got = SK.theta_overlap(partials, "event_type", "view", "purchase").first()
    viewers = {r.user_id for r in ev.filter("event_type = 'view'").collect()}
    buyers = {r.user_id for r in ev.filter("event_type = 'purchase'").collect()}
    # below 2^12 distinct keys the theta sketch is a full retention
    # sample: estimates are exact, not approximate
    assert got.n_a == len(viewers)
    assert got.n_b == len(buyers)
    assert got.n_both == len(viewers & buyers)
    assert got.n_either == len(viewers | buyers)
    assert got.n_only_a == len(viewers - buyers)


def test_hll_portable_merge_equals_full_and_bounded_error(spark):
    """Portable register-row HLL: per-batch partials MAXed together
    must equal the single-pass build (register-identical, therefore
    estimate-identical), and the raw estimate stays within the
    standard ~1.04/sqrt(m) band (x3) of the truth."""
    from product_etl_spark.operators.sketches import (
        hll_portable_estimate,
        hll_portable_merge,
        hll_portable_partials,
    )

    n = 5000
    df = spark.range(n).select(
        F.lit("g").alias("g"), F.col("id").cast("string").alias("v")
    )
    full = hll_portable_partials(df, ["g"], "v", p=6)
    halves = hll_portable_partials(df.filter(F.col("id") < n // 2), ["g"], "v", p=6).unionByName(
        hll_portable_partials(df.filter(F.col("id") >= n // 2), ["g"], "v", p=6)
    )
    merged = hll_portable_merge(halves, ["g"])
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, full.collect())
    )
    est = hll_portable_estimate(full, ["g"], p=6).collect()[0]["est_distinct"]
    rel_err = abs(est - n) / n
    assert rel_err < 3 * 1.04 / (64 ** 0.5), (est, rel_err)


def test_kmv_pair_overlap_discriminates_and_merges(spark):
    """KMV overlap: half-overlapping sets estimate ~half the union as
    intersection; disjoint sets estimate ~zero; merge == single-pass
    build (register rows identical)."""
    from product_etl_spark.operators.sketches import (
        kmv_merge,
        kmv_pair_overlap,
        kmv_partials,
    )

    rows = (
        [("A", f"u{i}") for i in range(2000)]
        + [("B", f"u{i}") for i in range(1000, 3000)]   # half-overlap with A
        + [("C", f"w{i}") for i in range(2000)]          # disjoint
    )
    df = spark.createDataFrame(rows, "g string, val string")
    parts = kmv_partials(df, ["g"], "val", k=128)
    est = {
        (r["g_a"], r["g_b"]): r
        for r in kmv_pair_overlap(parts, "g", k=128).collect()
    }
    ab = est[("A", "B")]
    assert abs(ab["est_union"] - 3000) / 3000 < 0.35
    assert abs(ab["est_inter"] - 1000) / 1000 < 0.5
    ac = est[("A", "C")]
    assert ac["est_inter"] < 0.15 * ac["est_union"]

    halves = kmv_partials(
        df.filter(F.col("val") < "u2"), ["g"], "val", k=128
    ).unionByName(
        kmv_partials(df.filter(F.col("val") >= "u2"), ["g"], "val", k=128)
    )
    merged = kmv_merge(halves, ["g"], k=128)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, parts.collect())
    )


def test_hll_portable_nondefault_p_unbiased(spark):
    """The rho ceiling must derive from p (rmax = 61 - p): a ceiling
    hardcoded for p=6 biases every other p by ~2^(p-6) because rho
    shifts while the absent-register term does not. For each
    advertised m in _HLL_ALPHA, registers stay in [1, 61-p] and the
    raw estimate lands inside the standard ~1.04/sqrt(m) band (x3)
    of the truth — the p=4/p=5 cases fail by ~4x/~2x under the old
    hardcoded ceiling."""
    from product_etl_spark.operators.sketches import (
        hll_portable_estimate,
        hll_portable_partials,
    )

    n = 5000
    df = spark.range(n).select(
        F.lit("g").alias("g"), F.col("id").cast("string").alias("v")
    )
    for p in (4, 5, 6):
        m = 2 ** p
        parts = hll_portable_partials(df, ["g"], "v", p=p)
        rs = [r["r"] for r in parts.collect()]
        assert all(1 <= r <= 61 - p for r in rs), (p, min(rs), max(rs))
        est = hll_portable_estimate(parts, ["g"], p=p).collect()[0][
            "est_distinct"
        ]
        rel_err = abs(est - n) / n
        assert rel_err < 3 * 1.04 / (m ** 0.5), (p, est, rel_err)


def test_quantile_sample_rank_accuracy(spark):
    """Portable bottom-k quantile sample: exact-rank estimates over
    the sample land within the standard O(1/sqrt(k)) rank band of the
    true quantiles on a smooth distribution."""
    from product_etl_spark.operators.sketches import (
        quantile_sample_estimate,
        quantile_sample_partials,
    )

    n, k = 20000, 256
    df = spark.range(n).select(
        F.lit("g").alias("g"),
        F.col("id").cast("double").alias("x"),
        F.concat(F.lit("k"), F.col("id")).alias("rk"),
    )
    full = quantile_sample_partials(df, ["g"], "x", "rk", k=k)
    est = quantile_sample_estimate(full, ["g"], [0.25, 0.5, 0.9]).collect()[0]
    assert est["n_sample"] == k
    # rank error band: 4/sqrt(k) of the value range (values == ranks)
    band = 4.0 / (k ** 0.5) * n
    for p, col in [(0.25, "p25"), (0.5, "p50"), (0.9, "p90")]:
        assert abs(est[col] - p * n) < band, (col, est[col], p * n, band)


def test_quantile_sample_exhaustive_below_k_is_exact(spark):
    """A group smaller than k is carried in full, so the rank
    estimate IS the exact lower quantile."""
    from product_etl_spark.operators.sketches import (
        quantile_sample_estimate,
        quantile_sample_partials,
    )

    rows = [("g", float(v), f"key{v}") for v in range(1, 101)]
    df = spark.createDataFrame(rows, "g string, x double, rk string")
    parts = quantile_sample_partials(df, ["g"], "x", "rk", k=256)
    est = quantile_sample_estimate(parts, ["g"], [0.5, 0.99, 1.0]).collect()[0]
    assert est["n_sample"] == 100
    assert est["p50"] == 50.0   # ceil(0.5*100) = 50th smallest
    assert est["p99"] == 99.0
    assert est["p100"] == 100.0
