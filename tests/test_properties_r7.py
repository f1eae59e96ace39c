"""Property-based tests (hypothesis) for the r7 operators, each
against a pure-Python model: skyline minimality+completeness,
entropy bounds, Gini range.

Strategy note: hypothesis drives small Python datasets; each property
evaluates through Spark in one createDataFrame+collect, and example
counts are kept low (Spark round-trips are ~100 ms each)."""

from __future__ import annotations

import math

from hypothesis import given, settings
from hypothesis import strategies as st

_pts = st.lists(
    st.tuples(st.integers(0, 8), st.integers(0, 8)), min_size=1, max_size=30
)


@settings(max_examples=15, deadline=None)
@given(_pts)
def test_skyline_minimal_and_complete(spark, pts):
    from product_etl_spark.operators.skyline import skyline_2d

    df = spark.createDataFrame(pts, "x int, y int")
    got = sorted(
        (r["x"], r["y"]) for r in skyline_2d(df, "x", "y").collect()
    )
    uniq = sorted(set(pts))
    model = [
        p
        for p in uniq
        if not any(
            q[0] <= p[0] and q[1] >= p[1] and (q[0] < p[0] or q[1] > p[1])
            for q in uniq
        )
    ]
    assert got == model


_cats = st.lists(
    st.tuples(st.just("k"), st.sampled_from("abcd")), min_size=1, max_size=30
)


@settings(max_examples=12, deadline=None)
@given(_cats)
def test_entropy_bounds_and_model(spark, rows):
    """0 <= H <= ln(k distinct categories); matches the Python model
    to the surface rounding."""
    from collections import Counter

    from product_etl_spark.operators.profile import group_entropy

    df = spark.createDataFrame(rows, "k string, c string")
    got = group_entropy(df, ["k"], "c").collect()[0]
    counts = Counter(c for _, c in rows)
    n = sum(counts.values())
    model = -sum(
        round((m / n) * math.log(m / n), 9) for m in counts.values()
    )
    assert abs(got["entropy"] - round(model, 4)) <= 1e-4
    assert -1e-9 <= got["entropy"] <= math.log(len(counts)) + 1e-4


_vals = st.lists(
    st.integers(0, 1000).map(lambda v: v / 10.0), min_size=2, max_size=25
)


@settings(max_examples=12, deadline=None)
@given(_vals)
def test_gini_range_and_model(spark, vals):
    """For non-negative values with positive total: 0 <= G < 1 and
    equal to the rank-formula model."""
    from product_etl_spark.operators.profile import group_gini

    if sum(vals) <= 0:
        vals = [v + 1.0 for v in vals]
    df = spark.createDataFrame([("g", v) for v in vals], "g string, v double")
    got = group_gini(df, ["g"], "v").collect()[0]
    xs = sorted(round(v, 2) for v in vals)
    n = len(xs)
    s = sum(xs)
    model = (2 * sum((i + 1) * x for i, x in enumerate(xs)) - (n + 1) * s) / (
        n * s
    )
    assert abs(got["gini"] - round(model, 6)) <= 1e-6
    assert -1e-9 <= got["gini"] < 1
