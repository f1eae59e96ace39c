"""Count-min sketch: the bounded-state frequency operator
(operators/cms.py).

Invariants asserted:
- CMS never underestimates; overestimate bounded by the eps*N bound.
- CMS partials merge by SUM to exactly the whole-corpus sketch
  (commutative/associative union), estimates identical either way.
- Sketch size is bounded at depth*width regardless of vocabulary.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from product_etl_spark.operators.cms import cms_estimate, cms_partials


def _zipfish(spark, n_kinds=200, rep_top=50):
    """Deterministic skewed corpus: token_i appears rep_top//(i+1)+1
    times — heavy head, long tail."""
    rows = []
    for i in range(n_kinds):
        rows.extend([(f"tok{i}", i % 2)] * (rep_top // (i + 1) + 1))
    return spark.createDataFrame(rows, "token string, part int")


def test_cms_never_underestimates_and_bound(spark):
    df = _zipfish(spark)
    depth, width = 4, 1024
    sk = cms_partials(df, [], "token", depth=depth, width=width)
    exact = {r["token"]: r["n"] for r in df.groupBy("token").count().withColumnRenamed("count", "n").collect()}
    est = {
        r["token"]: r["est_count"]
        for r in cms_estimate(sk, df.select("token"), "token", depth=depth, width=width).collect()
    }
    n_total = sum(exact.values())
    assert set(est) == set(exact)
    for t, e in exact.items():
        assert est[t] >= e, f"{t}: CMS underestimated"
        # eps*N with eps = e/width; generous 3x slack on the tail prob
        assert est[t] - e <= 3 * 2.72 * n_total / width


def test_cms_partials_merge_to_whole(spark):
    df = _zipfish(spark)
    whole = cms_partials(df, [], "token", depth=3, width=512)
    by_part = cms_partials(df, ["part"], "token", depth=3, width=512)
    merged = by_part.groupBy("row_idx", "bucket").agg(F.sum("n").alias("n"))
    # cellwise identical sketches
    a = {(r["row_idx"], r["bucket"]): r["n"] for r in whole.collect()}
    b = {(r["row_idx"], r["bucket"]): r["n"] for r in merged.collect()}
    assert a == b
    # bounded size regardless of vocab
    assert whole.count() <= 3 * 512


def test_cms_grouped_estimates(spark):
    df = _zipfish(spark)
    sk = cms_partials(df, ["part"], "token", depth=4, width=2048)
    est = cms_estimate(
        sk, df.select("token", "part"), "token", depth=4, width=2048, group_cols=["part"]
    )
    exact = df.groupBy("token", "part").count()
    joined = est.join(exact, ["token", "part"]).collect()
    assert len(joined) > 0
    assert all(r["est_count"] >= r["count"] for r in joined)
