"""Graph operators (operators/graph.py): PageRank against known
closed-form results; label propagation on planted communities."""

from __future__ import annotations

import pytest

from product_etl_spark.operators.graph import label_propagation, pagerank


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


def test_label_propagation_two_planted_communities(spark):
    # two triangles joined by one weak bridge edge
    tri1 = [(1, 2), (2, 3), (1, 3)]
    tri2 = [(10, 11), (11, 12), (10, 12)]
    bridge = [(3, 10)]
    labels = {r["node"]: r["label"] for r in
              label_propagation(_edges(spark, tri1 + tri2 + bridge),
                                n_iters=5).collect()}
    assert labels[1] == labels[2] == labels[3]
    assert labels[10] == labels[11] == labels[12]
    assert labels[1] != labels[10]


def _brute_k_core(edge_list, k):
    adj = {}
    for a, b in edge_list:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    while True:
        weak = [n for n, nb in adj.items() if len(nb) < k]
        if not weak:
            break
        for n in weak:
            for m in adj[n]:
                adj[m].discard(n)
            del adj[n]
    return {n: len(nb) for n, nb in adj.items()}


def test_k_core_matches_bruteforce_peel(spark):
    """k-core via iterative batch peeling == the one-at-a-time
    brute-force peel (the k-core is unique, so peel order cannot
    matter): a 5-clique survives k=3; the attached triangle survives
    k=2 but not k=3; chains and the clique-triangle bridge peel off
    at k=2."""
    from itertools import combinations

    from product_etl_spark.operators.graph import k_core

    edge_list = (
        list(combinations([1, 2, 3, 4, 5], 2))      # 5-clique
        + [(10, 11), (11, 12), (10, 12)]            # triangle
        + [(5, 20), (20, 21), (21, 22)]             # pendant chain
        + [(5, 10)]                                 # bridge
    )
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    for k in (2, 3, 4, 5):
        got = {
            r["id"]: r["degree"] for r in k_core(edges, k).collect()
        }
        assert got == _brute_k_core(edge_list, k), k
    # spot-check the semantics the docstring claims
    assert set(_brute_k_core(edge_list, 3)) == {1, 2, 3, 4, 5}
    assert set(_brute_k_core(edge_list, 2)) == {1, 2, 3, 4, 5, 10, 11, 12}
    assert _brute_k_core(edge_list, 5) == {}


def test_k_core_raises_at_cap(spark):
    """A 6-node path peels one layer from each end per round (three
    peeling rounds, then a round that drops nothing): max_iter=2 must
    raise instead of returning the half-peeled graph."""
    from product_etl_spark.operators.graph import k_core

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match=r"k_core.*max_iter=2\b"):
        k_core(edges, 2, max_iter=2)
    assert k_core(edges, 2, max_iter=4).count() == 0


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
