"""Unit tests for the r7 operators: integrity checksums, 2-D skyline,
repetition/readability text metrics, and the engine-exact Lloyd step.
(Oracle parity for their catalog entries q142-q146 is covered by
test_oracle_parity.py / test_driver_window_parity.py; these pin the
operator semantics on hand-built frames.)"""

from __future__ import annotations

from pyspark.sql import functions as F

from product_etl_spark.functions.text import (
    dup_ngram_fraction,
    flesch_reading_ease,
)
from product_etl_spark.operators.integrity import (
    group_checksums,
    table_checksum,
)
from product_etl_spark.operators.skyline import skyline_2d


def test_checksum_order_independent(spark):
    a = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "z")], "id int, v string"
    )
    b = spark.createDataFrame(
        [(3, "z"), (1, "x"), (2, "y")], "id int, v string"
    ).repartition(3)
    ca = table_checksum(a, ["id", "v"]).collect()[0]
    cb = table_checksum(b, ["id", "v"]).collect()[0]
    assert ca == cb
    assert ca["n_rows"] == 3


def test_checksum_detects_single_value_change(spark):
    a = spark.createDataFrame([(1, "x"), (2, "y")], "id int, v string")
    b = spark.createDataFrame([(1, "x"), (2, "Y")], "id int, v string")
    ca = table_checksum(a, ["id", "v"]).collect()[0]
    cb = table_checksum(b, ["id", "v"]).collect()[0]
    assert ca["n_rows"] == cb["n_rows"] == 2
    assert ca["xor_fp"] != cb["xor_fp"]


def test_checksum_null_vs_empty_distinct(spark):
    a = spark.createDataFrame([(1, None)], "id int, v string")
    b = spark.createDataFrame([(1, "")], "id int, v string")
    ca = table_checksum(a, ["id", "v"]).collect()[0]
    cb = table_checksum(b, ["id", "v"]).collect()[0]
    assert ca["xor_fp"] != cb["xor_fp"]


def test_checksum_field_boundary_not_ambiguous(spark):
    # ("ab", "c") must not collide with ("a", "bc")
    a = spark.createDataFrame([("ab", "c")], "x string, y string")
    b = spark.createDataFrame([("a", "bc")], "x string, y string")
    ca = table_checksum(a, ["x", "y"]).collect()[0]
    cb = table_checksum(b, ["x", "y"]).collect()[0]
    assert ca["xor_fp"] != cb["xor_fp"]


def test_group_checksums_per_group(spark):
    df = spark.createDataFrame(
        [("A", 1), ("A", 2), ("B", 3)], "g string, v int"
    )
    rows = {r["g"]: r for r in group_checksums(df, ["g"], ["v"]).collect()}
    assert rows["A"]["n_rows"] == 2 and rows["B"]["n_rows"] == 1
    # a group's checksum is independent of the other groups
    df2 = spark.createDataFrame([("B", 3)], "g string, v int")
    only_b = group_checksums(df2, ["g"], ["v"]).collect()[0]
    assert only_b["xor_fp"] == rows["B"]["xor_fp"]


def test_skyline_dominance(spark):
    # minimize x, maximize y. (1,5) and (3,7) are the frontier;
    # (2,5) dominated by (1,5); (3,6) by (3,7); (4,7) by (3,7);
    # duplicate (1,5) collapses.
    pts = spark.createDataFrame(
        [(1, 5), (2, 5), (3, 7), (3, 6), (4, 7), (1, 5)], "x int, y int"
    )
    got = sorted((r["x"], r["y"]) for r in skyline_2d(pts, "x", "y").collect())
    assert got == [(1, 5), (3, 7)]


def test_skyline_matches_not_exists_definition(spark):
    import random

    rng = random.Random(7)
    data = [(rng.randint(0, 20), rng.randint(0, 20)) for _ in range(200)]
    df = spark.createDataFrame(data, "x int, y int")
    got = sorted((r["x"], r["y"]) for r in skyline_2d(df, "x", "y").collect())
    pts = sorted(set(data))
    brute = [
        p
        for p in pts
        if not any(
            q[0] <= p[0] and q[1] >= p[1] and (q[0] < p[0] or q[1] > p[1])
            for q in pts
        )
    ]
    assert got == sorted(brute)


def test_dup_ngram_fraction_values(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c a b c a b c"),   # 7 grams, 3 distinct
            (2, "all words unique here now"),  # 3 grams, 3 distinct
            (3, "too short"),           # < n words -> 0.0
            (4, None),
        ],
        "id int, text string",
    )
    got = {
        r["id"]: r["f"]
        for r in df.select(
            "id", dup_ngram_fraction("text", 3).alias("f")
        ).collect()
    }
    assert got[1] == round(1 - 3 / 7, 4)
    assert got[2] == 0.0
    assert got[3] == 0.0
    assert got[4] == 0.0


def test_flesch_ordering_sane(spark):
    simple = "The cat sat. The dog ran. It was fun."
    dense = (
        "Notwithstanding institutional heterogeneity, organizational "
        "restructuring necessitates comprehensive reevaluation of "
        "interdepartmental communication methodologies."
    )
    df = spark.createDataFrame(
        [(1, simple), (2, dense)], "id int, text string"
    )
    got = {
        r["id"]: r["s"]
        for r in df.select(
            "id", flesch_reading_ease("text").alias("s")
        ).collect()
    }
    assert got[1] > 80  # short words, short sentences
    assert got[2] < got[1] - 50  # polysyllabic one-sentence wall


def test_kmeans_one_iter_refines_assignment(spark):
    # Two planted clusters around (0,0) and (10,10); seeds are the 2
    # lowest ids — both in cluster A (the pathological seeding). The
    # mean-update step must still pull cluster B's points together.
    from product_etl_spark.operators.similarity import kmeans_one_iter_exact

    rows = [
        (0, [0.0, 0.1]),
        (1, [0.2, 0.0]),
        (2, [0.1, 0.2]),
        (3, [10.0, 10.1]),
        (4, [10.2, 9.9]),
        (5, [9.9, 10.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    got = {
        r["vec_id"]: r["list_id"]
        for r in kmeans_one_iter_exact(
            df, "embedding", "vec_id", n_lists=2
        ).collect()
    }
    # all of cluster B lands in ONE list, distinct from vec 0's list
    assert len({got[3], got[4], got[5]}) == 1
    assert len(got) == 6


def test_crossdoc_span_coverage_merges_overlaps(spark):
    from product_etl_spark.operators.dedup import crossdoc_dup_span_coverage

    shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens
    docs = [
        (1, shared + " unique tail one two"),       # 10 tokens
        (2, "intro words " + shared),               # 8 tokens
        (3, "totally different text with no overlap at all"),  # 8 tokens
        (4, None),
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = {
        r["doc_id"]: r
        for r in crossdoc_dup_span_coverage(
            df, "text", "doc_id", n=5, min_df=2
        ).collect()
    }
    # the shared 6-token run contains two overlapping duplicated
    # 5-grams (positions p, p+1) -> merged island of 6 tokens, not 10
    assert got[1]["covered"] == 6 and got[1]["n_tokens"] == 10
    assert got[1]["coverage"] == round(6 / 10, 4)
    assert got[2]["covered"] == 6 and got[2]["n_tokens"] == 8
    assert got[3]["covered"] == 0 and got[3]["coverage"] == 0.0
    assert got[4]["covered"] == 0 and got[4]["n_tokens"] == 0


def test_crossdoc_span_coverage_disjoint_islands(spark):
    from product_etl_spark.operators.dedup import crossdoc_dup_span_coverage

    a = "one two three"          # shared 3-gram A
    b = "seven eight nine"       # shared 3-gram B
    docs = [
        (1, a + " gapX gapY " + b),   # islands [0,2] and [5,7] -> 6
        (2, a + " filler " + b),
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = {
        r["doc_id"]: r
        for r in crossdoc_dup_span_coverage(
            df, "text", "doc_id", n=3, min_df=2
        ).collect()
    }
    assert got[1]["covered"] == 6 and got[1]["n_tokens"] == 8


def test_ks_drift_statistic(spark):
    from pyspark.sql import functions as F

    from product_etl_spark.operators.profile import ks_drift

    # expected uniform over [0,100); actual shifted up by 50:
    # the CDF gap peaks mid-range
    e = spark.range(0, 100).select(F.col("id").cast("double").alias("v"))
    a = spark.range(50, 150).select(F.col("id").cast("double").alias("v"))
    rows = ks_drift(e, a, "v", n_bins=10).collect()
    d = max(r["ks_gap"] for r in rows)
    # actual mass at/above the baseline max clamps into the top bin;
    # ~half of actual sits below it -> D near 0.5
    assert 0.4 <= d <= 0.6
    # identical snapshots -> D == 0
    rows0 = ks_drift(e, e.select("v"), "v", n_bins=10).collect()
    assert max(r["ks_gap"] for r in rows0) == 0.0
    # CDFs are monotone and end at 1.0
    last = max(rows, key=lambda r: r["bin"])
    assert last["cdf_expected"] == 1.0 and last["cdf_actual"] == 1.0


def test_kmeans_exact_fused_matches_crossjoin_path(spark, sf_dir):
    """The literal-argmin fused path (zero corpus shuffle for
    assignment) must be BIT-identical to the crossJoin+groupBy
    reference path — same decimal terms, same fold, same tie-break."""
    from product_etl_spark.operators.similarity import kmeans_one_iter_exact
    from product_etl_spark.session import load_tables

    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    fused = {
        r["vec_id"]: r["list_id"]
        for r in kmeans_one_iter_exact(
            emb, "embedding", "vec_id", n_lists=4, fused=True
        ).collect()
    }
    ref = {
        r["vec_id"]: r["list_id"]
        for r in kmeans_one_iter_exact(
            emb, "embedding", "vec_id", n_lists=4, fused=False
        ).collect()
    }
    assert fused == ref and len(fused) > 0


def test_fd_violations_finds_only_violators(spark):
    from product_etl_spark.operators.profile import fd_violations

    df = spark.createDataFrame(
        [("B1", "M1"), ("B1", "M1"), ("B2", "M1"), ("B2", "M2")],
        "brand string, mfgr string",
    )
    got = fd_violations(df, ["brand"], ["mfgr"]).collect()
    assert len(got) == 1
    assert got[0]["brand"] == "B2" and got[0]["n_values"] == 2


def test_benford_uniform_digits_deviate(spark):
    import math

    from pyspark.sql import functions as F

    from product_etl_spark.operators.profile import benford_first_digit

    # 1000..9999 uniform: every first digit equally likely (1/9),
    # far from Benford's 0.301 for digit 1
    df = spark.range(1000, 10000).select(F.col("id").cast("double").alias("v"))
    rows = {r["digit"]: r for r in benford_first_digit(df, "v").collect()}
    assert set(rows) == set(range(1, 10))
    assert abs(rows[1]["obs_frac"] - 1 / 9) < 1e-6
    assert abs(rows[1]["benford_frac"] - math.log10(2)) < 1e-6
    assert rows[1]["abs_dev"] > 0.18


def test_group_entropy_known_values(spark):
    import math

    from product_etl_spark.operators.profile import group_entropy

    rows = (
        [("u1", "a")] * 4                       # single type -> 0
        + [("u2", "a"), ("u2", "b")] * 3        # uniform 2 -> ln 2
        + [("u3", "a")] * 3 + [("u3", "b")]     # skewed 3:1
    )
    df = spark.createDataFrame(rows, "user string, t string")
    got = {
        r["user"]: r for r in group_entropy(df, ["user"], "t").collect()
    }
    assert got["u1"]["entropy"] == 0.0 and got["u1"]["n_events"] == 4
    assert abs(got["u2"]["entropy"] - math.log(2)) < 1e-3
    skew = -(0.75 * math.log(0.75) + 0.25 * math.log(0.25))
    assert abs(got["u3"]["entropy"] - skew) < 1e-3


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_r7_plan_shapes(spark, sf_dir):
    """Executed-plan assertions for the r7 entries (the PLANS.md
    claims, enforced): q144 top-k is TakeOrderedAndProject (no global
    sort); q146's one window runs over the DISTINCT point set (an
    aggregate sits below it); q142's assignments are maps — no
    corpus-keyed Exchange (the only hash exchanges key on the
    k*dim-bounded (list_id, pos) mean update and the k-row result);
    q143 is a single two-phase aggregate (exactly one hash
    exchange)."""
    from product_etl_spark.plans.catalog import CATALOG

    p144 = _plan(CATALOG["q144_dup_ngram_fraction"]["fn"](spark, sf_dir))
    assert "TakeOrderedAndProject" in p144
    assert "Sort [dup_frac" not in p144  # no global sort

    p146 = _plan(
        CATALOG["q146_part_price_size_skyline"]["fn"](spark, sf_dir)
    )
    assert p146.count("Window") == 1
    assert "HashAggregate" in p146  # the distinct below the window

    p142 = _plan(CATALOG["q142_kmeans_one_iter_lists"]["fn"](spark, sf_dir))
    # no exchange keyed on the corpus id: assignment is a pure map
    assert "hashpartitioning(vec_id" not in p142

    p143 = _plan(
        CATALOG["q143_order_partition_checksums"]["fn"](spark, sf_dir)
    )
    assert p143.count("Exchange hashpartitioning") == 1


def test_group_gini_known_values(spark):
    from product_etl_spark.operators.profile import group_gini

    rows = (
        [("eq", 10.0)] * 4                      # perfect equality -> 0
        + [("sk", 0.0)] * 3 + [("sk", 100.0)]   # one holder has all
    )
    df = spark.createDataFrame(rows, "g string, v double")
    got = {r["g"]: r for r in group_gini(df, ["g"], "v").collect()}
    assert got["eq"]["gini"] == 0.0
    # all mass in 1 of 4 -> G = (2*4*100 - 5*100) / (4*100) = 0.75
    assert got["sk"]["gini"] == 0.75


def test_mad_outliers_robust_to_planted_whale(spark):
    from product_etl_spark.operators.profile import mad_outliers

    vals = [float(v) for v in (10, 11, 12, 13, 14, 15, 16, 17, 18, 10000)]
    df = spark.createDataFrame(
        [("a", v) for v in vals], "g string, v double"
    )
    got = mad_outliers(df, ["g"], "v", k=5.0).collect()
    # median 14 (lower), MAD 2: only the whale exceeds 5*2
    assert len(got) == 1 and got[0]["value"] == 10000.0
    assert got[0]["med"] == 14.0 and got[0]["mad"] == 2.0


def test_checksum_rendering_injective_hostile_values(spark):
    """The escaped rendering must be injective even against values
    containing the separator (0x1f), the NULL marker text, or
    backslashes — a corrupted copy differing only in such cells must
    NOT checksum clean (r7 advice finding)."""
    cases = [
        # NULL vs a real string spelling any marker
        ([(1, None)], [(1, "\\N")]),
        ([(1, None)], [(1, "<NULL>")]),
        # separator smuggling across the field boundary
        ([("a\x1fb", "c")], [("a", "b\x1fc")]),
        # escape-char ambiguity
        ([("a\\", "b")], [("a", "\\b")]),
        ([("a\\u",)], [("a\x1f",)]),
    ]
    for rows_a, rows_b in cases:
        n = len(rows_a[0])
        schema = ", ".join(f"c{i} string" for i in range(n))
        if rows_a[0][0] == 1:
            schema = "c0 int, c1 string"
        a = spark.createDataFrame(rows_a, schema)
        b = spark.createDataFrame(rows_b, schema)
        cols = a.columns
        ca = table_checksum(a, cols).collect()[0]
        cb = table_checksum(b, cols).collect()[0]
        assert ca["xor_fp"] != cb["xor_fp"], (rows_a, rows_b)


def test_skyline_window_input_one_row_per_x(spark):
    """Scale contract (r7 verdict item 6): the unpartitioned
    running-max window must see ONE row per distinct min_col value —
    the groupBy(x).agg(max(y)) pre-aggregate — not one per distinct
    (x, y) pair. Plan: the Window's child aggregates on x alone."""
    from product_etl_spark.operators.skyline import skyline_2d

    # 3 distinct x values, 300 distinct (x, y) pairs
    pts = spark.createDataFrame(
        [(i % 3, i) for i in range(300)], "x int, y int"
    )
    sky = skyline_2d(pts, "x", "y")
    plan = sky._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan and "max(y" in plan
    # pre-agg keys on x only: no grouping expression mentioning y
    import re
    keys = re.findall(r"HashAggregate\(keys=\[([^\]]*)\]", plan)
    assert keys and all("y" not in k for k in keys)
    # result unchanged by the pre-agg
    got = sorted((r["x"], r["y"]) for r in sky.collect())
    assert got == [(0, 297), (1, 298), (2, 299)]
