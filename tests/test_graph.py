"""Graph operators (operators/graph.py): PageRank against known
closed-form results; association rules on hand-checked baskets."""

from __future__ import annotations

import pytest

from product_etl_spark.operators.graph import pagerank


def _edges(spark, pairs, weights=None):
    if weights:
        rows = [(a, b, w) for (a, b), w in zip(pairs, weights)]
        return spark.createDataFrame(rows, ["src", "dst", "w"])
    return spark.createDataFrame(pairs, ["src", "dst"])


def test_pagerank_two_node_cycle_uniform(spark):
    # symmetric cycle: ranks must be exactly equal, summing to 2
    e = _edges(spark, [(1, 2), (2, 1)])
    r = {row["node"]: row["rank"] for row in pagerank(e, n_iters=20).collect()}
    assert r[1] == pytest.approx(r[2])
    assert r[1] + r[2] == pytest.approx(2.0)


def test_pagerank_star_center_dominates_and_mass_conserved(spark):
    # 4 leaves -> center; center dangles (mass redistributes uniformly)
    e = _edges(spark, [(i, 0) for i in range(1, 5)])
    ranks = {row["node"]: row["rank"]
             for row in pagerank(e, n_iters=30).collect()}
    assert sum(ranks.values()) == pytest.approx(5.0, rel=1e-9)
    assert ranks[0] > ranks[1]
    for leaf in range(2, 5):  # leaves are symmetric
        assert ranks[leaf] == pytest.approx(ranks[1])


def test_pagerank_weighted_shares(spark):
    # node 0 splits 90/10 between 1 and 2 -> 1 outranks 2
    e = _edges(spark, [(0, 1), (0, 2), (1, 0), (2, 0)], [9.0, 1.0, 1.0, 1.0])
    ranks = {row["node"]: row["rank"]
             for row in pagerank(e, weight="w", n_iters=30).collect()}
    assert ranks[1] > ranks[2]
    assert sum(ranks.values()) == pytest.approx(3.0, rel=1e-9)


def test_association_rules_hand_check(spark):
    """Baskets {x,y},{x,y},{x,z},{w}: only (x,y) clears min_pair_count
    -> support 2/4, confidence_a_to_b 2/3 (x is the antecedent by item
    order), lift 2*4/(3*2)."""
    from product_etl_spark.operators.basket import association_rules

    rows = spark.createDataFrame(
        [(1, "x"), (1, "y"), (2, "x"), (2, "y"), (3, "x"), (3, "z"),
         (4, "w")],
        "bk long, it string",
    )
    out = association_rules(rows, "bk", "it", min_pair_count=2).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["item_a"], r["item_b"]) == ("x", "y")
    assert r["n_ab"] == 2 and r["n_a"] == 3 and r["n_b"] == 2
    assert r["support"] == 0.5
    assert r["confidence_a_to_b"] == round(2 / 3, 6)
    assert r["lift"] == round(8 / 6, 6)


def test_association_rules_dedups_basket_lines(spark):
    """Duplicate (basket, item) lines (two lineitem rows of the same
    part in one order) must not inflate counts — the distinct()
    contract."""
    from product_etl_spark.operators.basket import association_rules

    rows = spark.createDataFrame(
        [(1, "x"), (1, "x"), (1, "y"), (2, "x"), (2, "y")],
        "bk long, it string",
    )
    out = association_rules(rows, "bk", "it", min_pair_count=2).collect()
    assert len(out) == 1
    assert out[0]["n_ab"] == 2 and out[0]["n_a"] == 2


def test_association_rules_mega_basket_guard(spark):
    """A planted crawler-artifact mega-basket (one basket holding
    more distinct items than max_basket_size) must FAIL the job
    loudly before the O(basket^2) pair join, not OOM an executor —
    the interval_overlap_pairs loud-guard convention. Sane baskets
    under the bound still flow through unchanged."""
    import pytest

    from product_etl_spark.operators.basket import association_rules

    mega = [(1, f"i{j}") for j in range(40)] + [(2, "i0"), (2, "i1")]
    rows = spark.createDataFrame(mega, "bk long, it string")
    with pytest.raises(Exception, match="mega-baskets"):
        association_rules(
            rows, "bk", "it", min_pair_count=1, max_basket_size=30
        ).collect()
    # same frame, bound above the planted basket: runs fine and the
    # planted pair is still counted in both baskets
    ok = association_rules(
        rows, "bk", "it", min_pair_count=2, max_basket_size=50
    ).collect()
    assert {(r["item_a"], r["item_b"], r["n_ab"]) for r in ok} >= {
        ("i0", "i1", 2)
    }
