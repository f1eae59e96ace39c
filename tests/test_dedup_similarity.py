"""Dedup + similarity operator tests on synthetic corpora with
planted duplicates / near-duplicates (the testdata corpus is
all-distinct, so planting is the only way to exercise recall)."""

from __future__ import annotations

from pyspark.sql import functions as F

from product_etl_spark.operators import dedup as D
from product_etl_spark.operators import similarity as S
import pytest

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank"),
    (1, "THE QUICK brown fox, jumps over the lazy dog near the river bank!"),  # case/punct dup of 0
    (2, "the quick brown fox jumps over the lazy dog near the river bend"),  # near-dup of 0
    (3, "completely different text about spark query engines and shuffles"),
    (4, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 0
    (5, "tiny"),  # < 2 tokens: no shingles
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(spark):
    groups = D.exact_dedup(_docs(spark), "text", "doc_id").collect()
    by_canon = {r["canonical_id"]: r["n_docs"] for r in groups}
    assert by_canon[0] == 2  # docs 0 and 4
    assert by_canon[1] == 1  # case variant is NOT an exact dup


def test_fingerprint_dedup_collapses_case_punct(spark):
    groups = D.fingerprint_dedup(_docs(spark), "text", "doc_id").collect()
    by_canon = {r["canonical_id"]: r["n_docs"] for r in groups}
    assert by_canon[0] == 3  # 0, 1(case/punct), 4(exact)


def test_keep_canonical(spark):
    docs = _docs(spark)
    groups = D.fingerprint_dedup(docs, "text", "doc_id")
    kept = sorted(r["doc_id"] for r in D.keep_canonical(docs, groups, "doc_id").collect())
    assert kept == [0, 2, 3, 5]


def test_lsh_finds_planted_near_dup(spark):
    docs = _docs(spark)
    sig = D.minhash_signatures(docs, "text", "doc_id", k=8)
    # short doc 5 drops out (no bigrams)
    assert sorted(r["doc_id"] for r in sig.select("doc_id").collect()) == [0, 1, 2, 3, 4]
    pairs = {
        (r["id_a"], r["id_b"])
        for r in D.lsh_candidate_pairs(sig, "doc_id").collect()
    }
    assert (0, 4) in pairs  # exact dup always collides
    assert (0, 2) in pairs  # 1-word-changed near-dup shares bands
    assert not any(3 in p for p in pairs)  # unrelated doc never pairs


def test_jaccard_with_candidates(spark):
    docs = _docs(spark)
    sig = D.minhash_signatures(docs, "text", "doc_id", k=8)
    cand = D.lsh_candidate_pairs(sig, "doc_id")
    verified = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.jaccard_pairs(
            docs, "text", "doc_id", threshold=0.5, candidates=cand
        ).collect()
    }
    assert verified[(0, 4)] == 1.0
    assert 0.5 <= verified[(0, 2)] < 1.0


def test_simhash_near_dup_hamming(spark):
    sh = {r["doc_id"]: r["simhash16"] for r in D.simhash16(_docs(spark), "text", "doc_id").collect()}
    assert sh[0] == sh[4]  # identical text -> identical simhash
    ham_near = bin(sh[0] ^ sh[2]).count("1")
    ham_far = bin(sh[0] ^ sh[3]).count("1")
    assert ham_near <= ham_far  # near-dup at most as far as unrelated


def _embeddings(spark, n=64, dim=8):
    import hashlib

    rows = []
    for i in range(n):
        vec = [
            (int(hashlib.md5(f"{i},{j}".encode()).hexdigest()[:6], 16) % 1000) / 500.0
            - 1.0
            for j in range(dim)
        ]
        rows.append((i, vec))
    # plant 1000 as a clone of 0 (slightly perturbed)
    rows.append((1000, [v * 1.001 for v in rows[0][1]]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_knn_bruteforce_finds_clone(spark):
    emb = _embeddings(spark)
    out = S.knn_bruteforce(
        emb, emb.filter(F.col("vec_id") == 0), "embedding", "vec_id", k=3
    ).collect()
    assert out[0]["neighbor_id"] == 1000  # planted clone is rank 1
    assert out[0]["cos_sim"] == 1.0


def test_winnowing_shared_fingerprints(spark):
    from product_etl_spark.operators.dedup import winnowing_fingerprints

    docs = _docs(spark)
    fp = winnowing_fingerprints(docs, "text", "doc_id", gram=4, window=3)
    by_doc = {}
    for r in fp.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    # identical docs -> identical fingerprint sets
    assert by_doc[0] == by_doc[4]
    # near-dup (one word changed) shares most fingerprints
    inter = len(by_doc[0] & by_doc[2])
    union = len(by_doc[0] | by_doc[2])
    assert inter / union > 0.5
    # unrelated doc shares almost none
    inter3 = len(by_doc[0] & by_doc[3])
    assert inter3 / len(by_doc[0] | by_doc[3]) < 0.2


def test_dedup_corpus_strategies(spark):
    docs = _docs(spark)
    exact = sorted(r["doc_id"] for r in D.dedup_corpus(docs, "text", "doc_id", "exact").collect())
    assert exact == [0, 1, 2, 3, 5]  # only byte-dup 4 collapsed
    fp = sorted(r["doc_id"] for r in D.dedup_corpus(docs, "text", "doc_id", "fingerprint").collect())
    assert fp == [0, 2, 3, 5]  # case/punct variant 1 also collapsed
    near = sorted(
        r["doc_id"]
        for r in D.dedup_corpus(
            docs, "text", "doc_id", "near", jaccard_threshold=0.6
        ).collect()
    )
    # near-dup 2 (one word changed, jaccard ~0.7) also collapsed;
    # doc 5 has no shingles and is never a candidate -> survives
    assert near == [0, 3, 5]


def test_connected_components_chain_and_islands(spark):
    # chain 1-2-3-4, pair (10,11), singleton edge (20,21)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21)], "id_a long, id_b long"
    )
    comp = {r["id"]: r["component"] for r in D.connected_components(pairs).collect()}
    assert comp[1] == comp[2] == comp[3] == comp[4] == 1
    assert comp[10] == comp[11] == 10
    assert comp[20] == comp[21] == 20

    # hub 100 wired to spokes 101..140, pendant chain 140-141-142,
    # island (7, 8): labels in closed form
    hub_edges = [(100, i) for i in range(101, 141)] + [
        (140, 141),
        (141, 142),
        (7, 8),
    ]
    hub = spark.createDataFrame(hub_edges, "id_a long, id_b long")
    got = {r["id"]: r["component"] for r in D.connected_components(hub).collect()}
    assert got == {7: 7, 8: 7, **{i: 100 for i in range(100, 143)}}


def test_connected_components_with_lsh_pipeline(spark):
    # end-to-end: docs -> minhash -> lsh pairs -> components
    docs = _docs(spark)
    sig = D.minhash_signatures(docs, "text", "doc_id", k=8)
    pairs = D.lsh_candidate_pairs(sig, "doc_id")
    comp = {r["id"]: r["component"] for r in D.connected_components(pairs).collect()}
    # 0,1,2,4 are all near/exact dups of each other -> one cluster
    assert comp[0] == comp[1] == comp[2] == comp[4] == 0
    assert 3 not in comp  # unrelated doc has no pairs at all


def test_multi_file_ingest_order(spark, tmp_path):
    from product_etl_spark.sources.csv_reader import read_raw_products_multi
    from product_etl_spark.operators.split import split_master_variants

    d = tmp_path / "multi"
    d.mkdir()
    # file 01 holds the template row, file 02 the variant — name order
    (d / "export_01.csv").write_text("Master Code;SKU Code\nm1;template-sku\n")
    (d / "export_02.csv").write_text("Master Code;SKU Code\nm1;variant-sku\n")
    raw = read_raw_products_multi(spark, str(d))
    templates, variants = split_master_variants(raw)
    assert [r["SKU Code"] for r in templates.collect()] == ["template-sku"]
    assert [r["SKU Code"] for r in variants.collect()] == ["variant-sku"]


def test_minhash_estimates_track_jaccard(spark):
    # statistical property: fraction of agreeing minhashes ~ true
    # jaccard. Build doc pairs with controlled overlap and check the
    # k=16 estimate lands near truth (loose bounds: k=16 -> stderr
    # ~ sqrt(j(1-j)/16) ~ 0.12)
    base = [f"tok{i}" for i in range(40)]
    rows = []
    for frac in (0, 25, 50, 75):  # replace `frac`% of tokens
        words = list(base)
        for i in range(0, 40 * frac // 100):
            words[i] = f"repl{frac}_{i}"
        rows.append((frac, " ".join(words)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sig = D.minhash_signatures(docs, "text", "doc_id", k=16)
    sigs = {r["doc_id"]: [r[f"h{i}"] for i in range(16)] for r in sig.collect()}

    sh = {
        r["doc_id"]: set()
        for r in docs.select("doc_id").collect()
    }
    for r in D.exploded_shingles(docs, "text", "doc_id").collect():
        sh[r["doc_id"]].add(r["sh"])

    for frac in (25, 50, 75):
        true_j = len(sh[0] & sh[frac]) / len(sh[0] | sh[frac])
        est = sum(a == b for a, b in zip(sigs[0], sigs[frac])) / 16
        assert abs(est - true_j) <= 0.35, (frac, true_j, est)
        # monotonicity: more replacement -> lower estimate
    est25 = sum(a == b for a, b in zip(sigs[0], sigs[25])) / 16
    est75 = sum(a == b for a, b in zip(sigs[0], sigs[75])) / 16
    assert est25 > est75

    # documents sharing an id (NULL, or 1 twice) are separate token
    # streams: no shingle spans two of them
    twins = spark.createDataFrame(
        [(None, "a b c"), (None, "x y z"), (1, "p q r"), (1, "p q s")],
        "doc_id long, text string",
    )
    got = {}
    for r in D.exploded_shingles(twins, "text", "doc_id").collect():
        got.setdefault(r["doc_id"], set()).add(r["sh"])
    assert got == {None: {"a b", "b c", "x y", "y z"}, 1: {"p q", "q r", "q s"}}
    pos = {}
    for r in D.positional_shingles(twins, "text", "doc_id", 2).collect():
        pos.setdefault(r["doc_id"], []).append((r["pos"], r["sh"]))
    assert {k: sorted(v) for k, v in pos.items()} == {
        None: [(0, "a b"), (0, "x y"), (1, "b c"), (1, "y z")],
        1: [(0, "p q"), (0, "p q"), (1, "q r"), (1, "q s")],
    }


def test_jaccard_unrestricted_guard_trips(spark):
    """The full shingle self-join must be unreachable by accident at
    corpus scale: no candidates + docs over the cap -> ValueError."""
    import pytest as _pytest

    from product_etl_spark.operators.dedup import jaccard_pairs

    docs = spark.range(30).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta gamma "), F.col("id")).alias("text"),
    )
    with _pytest.raises(ValueError, match="full shingle"):
        jaccard_pairs(docs, "text", "doc_id", max_self_join_docs=10)
    # under the cap (or with candidates) it still runs
    assert jaccard_pairs(docs, "text", "doc_id", max_self_join_docs=100).count() >= 0


def test_kmeans_centroids_separate_planted_clusters(spark):
    """Lloyd's iterations must recover two planted clusters that the
    lowest-id seeds do NOT separate (both seeds start in cluster A),
    and shrink within-cluster distance vs the seed assignment."""
    from product_etl_spark.operators.similarity import (
        ivf_assign,
        ivf_centroids,
        ivf_centroids_kmeans,
    )

    rows = []
    for i in range(20):  # cluster A near (1,0,...), ids 0..19
        rows.append((i, [1.0 + 0.01 * (i % 5), 0.02 * (i % 3)] + [0.0] * 6))
    for i in range(20, 40):  # cluster B near (0,1,...), ids 20..39
        rows.append((i, [0.02 * (i % 3), 1.0 + 0.01 * (i % 5)] + [0.0] * 6))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def mean_dist(cents):
        import statistics

        d = ivf_assign(emb, cents, "embedding", "vec_id").collect()
        return statistics.mean(r["centroid_dist"] for r in d), d

    seed_dist, _ = mean_dist(ivf_centroids(emb, "embedding", "vec_id", 2))
    cents = ivf_centroids_kmeans(emb, "embedding", "vec_id", n_lists=2, n_iters=4)
    km_dist, assigned = mean_dist(cents)
    assert km_dist < seed_dist * 0.5  # converged far below the seed inertia
    lists = {r["vec_id"]: r["list_id"] for r in assigned}
    assert len({lists[i] for i in range(20)}) == 1  # cluster A pure
    assert len({lists[i] for i in range(20, 40)}) == 1  # cluster B pure
    assert lists[0] != lists[39]  # and they differ


def test_remove_duplicate_segments_exact_substr(spark):
    """Planted shared segments vanish from later docs (first
    occurrence wins by (doc_id, seg_idx)); unique text survives; the
    dup_ratio accounts exactly."""
    from product_etl_spark.operators.dedup import (
        exploded_segments,
        remove_duplicate_segments,
    )

    boiler = " ".join(f"b{i}" for i in range(5))  # 5-word boilerplate
    uniq = {d: " ".join(f"u{d}_{i}" for i in range(5)) for d in (1, 2, 3)}
    docs = spark.createDataFrame(
        [
            (1, f"{boiler} {uniq[1]}"),          # first owner of boiler
            (2, f"{uniq[2]} {boiler}"),          # later copy -> dropped
            (3, f"{uniq[3]} {uniq[3]}"),         # self-repeat -> second dropped
        ],
        "doc_id long, text string",
    )
    segs = exploded_segments(docs, "text", "doc_id", seg_words=5)
    assert segs.count() == 6  # 2 segments per doc
    out = {r["doc_id"]: r for r in
           remove_duplicate_segments(docs, "text", "doc_id", seg_words=5).collect()}
    assert out[1]["text"] == f"{boiler} {uniq[1]}"      # untouched
    assert out[2]["text"] == uniq[2]                     # boiler removed
    assert out[3]["text"] == uniq[3]                     # repeat removed
    assert out[2]["dup_ratio"] == 0.5 and out[1]["dup_ratio"] == 0.0
    assert out[3]["n_segments_kept"] == 1 and out[3]["n_segments"] == 2


def test_cosine_near_dup_pairs_blocked(spark):
    # Two blocks: in block "a", vecs 1/2 are near-identical, 3 is
    # orthogonal; block "b" holds a clone of vec 1 that must NOT pair
    # across the block boundary.
    rows = [
        (1, "a", [1.0, 0.0, 0.0]),
        (2, "a", [0.999, 0.01, 0.0]),
        (3, "a", [0.0, 1.0, 0.0]),
        (4, "b", [1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, blk string, embedding array<double>"
    )
    pairs = S.cosine_near_dup_pairs(
        df, "embedding", "vec_id", "blk", threshold=0.9
    ).collect()
    assert [(r["id_a"], r["id_b"], r["blk"]) for r in pairs] == [(1, 2, "a")]
    assert pairs[0]["cos_sim"] > 0.99


@pytest.mark.slow
def test_segment_dedup_invariants(spark):
    # 40 docs: shared boilerplate head (one 4-word segment), unique
    # middles, and a shared 4-word tail segment planted in half.
    rows = []
    for i in range(40):
        words = ["common", "header", "segment", "words"]
        words += [f"u{i}w{j}" for j in range(8)]
        if i % 2:
            words += ["shared", "tail", "of", "doc"]
        rows.append((i, " ".join(words)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    out = D.remove_duplicate_segments(docs, "text", "doc_id", seg_words=4)

    # (1) no segment survives twice corpus-wide
    segs = D.exploded_segments(out, "text", "doc_id", seg_words=4)
    dup = segs.groupBy("segment").count().filter(F.col("count") > 1).count()
    assert dup == 0

    # (2) idempotence: a second pass keeps every surviving segment
    again = D.remove_duplicate_segments(out, "text", "doc_id", seg_words=4)
    assert again.filter(F.col("dup_ratio") > 0).count() == 0
    kept = {r["doc_id"]: r["text"] for r in again.collect()}
    orig = {r["doc_id"]: r["text"] for r in out.collect()}
    assert kept == orig

    # (3) accounting: boilerplate survives once, shared tail once
    tail_hits = segs.filter(F.col("segment") == "shared tail of doc").count()
    head_hits = segs.filter(
        F.col("segment") == "common header segment words"
    ).count()
    assert tail_hits == 1 and head_hits == 1


def test_cosine_near_dup_pairs_salted_identical(spark):
    import random

    random.seed(7)
    rows = [
        (i, "blk%d" % (i % 2), [random.uniform(-1, 1) for _ in range(8)])
        for i in range(60)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, blk string, embedding array<double>"
    )
    plain = S.cosine_near_dup_pairs(df, "embedding", "vec_id", "blk", 0.2)
    salted = S.cosine_near_dup_pairs(
        df, "embedding", "vec_id", "blk", 0.2, n_salts=3
    )
    as_set = lambda d: {tuple(r) for r in d.collect()}  # noqa: E731
    assert as_set(plain) == as_set(salted) and plain.count() > 0


@pytest.mark.slow
def test_hash_seeding_robust_to_id_correlated_layout(spark):
    """Adversarial layout: FOUR tight planted clusters, ids assigned
    cluster-sorted so the lowest-id seeds all land in cluster 0 and
    Lloyd's from that start collapses distant clusters. Hash seeding
    (seed_mode='hash') decorrelates the draw from id order: it must
    recover all four clusters purely, and remain deterministic for a
    fixed seed."""
    from product_etl_spark.operators.similarity import (
        ivf_assign,
        ivf_centroids,
        ivf_centroids_kmeans,
    )

    centers = [
        [10.0, 0.0, 0.0, 0.0],
        [0.0, 10.0, 0.0, 0.0],
        [0.0, 0.0, 10.0, 0.0],
        [0.0, 0.0, 0.0, 10.0],
    ]
    rows = []
    for c, center in enumerate(centers):
        for i in range(15):  # ids 0..14 all cluster 0, 15..29 cluster 1...
            vec = [v + 0.01 * ((i + j) % 3) for j, v in enumerate(center)]
            rows.append((c * 15 + i, vec))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    # the id-correlated degenerate case: all 4 lowest-id seeds in cluster 0
    seeds_lowid = ivf_centroids(emb, "embedding", "vec_id", 4).collect()
    assert all(r["centroid"][0] > 5.0 for r in seeds_lowid)

    cents = ivf_centroids_kmeans(
        emb, "embedding", "vec_id", n_lists=4, n_iters=6, seed_mode="hash",
        seed=1,
    )
    assigned = ivf_assign(emb, cents, "embedding", "vec_id").collect()
    lists = {r["vec_id"]: r["list_id"] for r in assigned}
    cluster_lists = [
        {lists[c * 15 + i] for i in range(15)} for c in range(4)
    ]
    assert all(len(s) == 1 for s in cluster_lists)  # each cluster pure
    assert len(set().union(*cluster_lists)) == 4    # all four recovered

    again = ivf_centroids_kmeans(
        emb, "embedding", "vec_id", n_lists=4, n_iters=6, seed_mode="hash",
        seed=1,
    )
    assert sorted(map(tuple, (r["centroid"] for r in cents.collect()))) == \
        sorted(map(tuple, (r["centroid"] for r in again.collect())))


def test_fused_assign_matches_crossjoin_assign(spark):
    """The literal-argmin fused assignment must agree exactly with the
    crossJoin+agg ivf_assign path on the same centroids (same IEEE
    double ops, same lower-list tiebreak)."""
    from product_etl_spark.operators.similarity import (
        _argmin_literal_expr,
        ivf_assign,
        ivf_centroids,
    )
    import pyspark.sql.functions as F

    rows = [
        (i, [float((i * 7 + j * 3) % 11) / 11.0 for j in range(8)])
        for i in range(50)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = ivf_centroids(emb, "embedding", "vec_id", 3)
    cent_rows = [(r["list_id"], list(r["centroid"])) for r in cents.collect()]

    fused = {
        r["vec_id"]: r["list_id"]
        for r in emb.select(
            "vec_id",
            _argmin_literal_expr(cent_rows, "embedding")["list_id"].alias(
                "list_id"
            ),
        ).collect()
    }
    joined = {
        r["vec_id"]: r["list_id"]
        for r in ivf_assign(emb, cents, "embedding", "vec_id").collect()
    }
    assert fused == joined

    # and the public fused path returns identical (list_id, dist) rows
    full_fused = {
        r["vec_id"]: (r["list_id"], r["centroid_dist"])
        for r in ivf_assign(
            emb, cents, "embedding", "vec_id", fused=True
        ).collect()
    }
    full_joined = {
        r["vec_id"]: (r["list_id"], r["centroid_dist"])
        for r in ivf_assign(emb, cents, "embedding", "vec_id").collect()
    }
    assert full_fused == full_joined


def test_cosine_zero_norm_guard(spark):
    """All-zero embeddings (missing-embedding placeholder) must yield
    sim 0.0, not DIVIDE_BY_ZERO under ANSI mode."""
    from product_etl_spark.operators.similarity import knn_bruteforce

    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [1.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    out = knn_bruteforce(df, df, "embedding", "vec_id", k=2).collect()
    assert len(out) == 6
    zero_sims = [r["cos_sim"] for r in out if r["query_id"] == 1]
    assert all(s == 0.0 for s in zero_sims)


def test_near_dedup_rejects_degenerate_k(spark):
    from product_etl_spark.operators.dedup import dedup_corpus

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    import pytest
    with pytest.raises(ValueError, match="even k"):
        dedup_corpus(df, "text", "doc_id", strategy="near", k=1)
    with pytest.raises(ValueError, match="even k"):
        dedup_corpus(df, "text", "doc_id", strategy="near", k=7)


def test_jaccard_pairs_duplicate_candidates_no_inflation(spark):
    from product_etl_spark.operators.dedup import jaccard_pairs

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma epsilon")],
        "doc_id long, text string",
    )
    cand_once = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    cand_dup = cand_once.unionAll(cand_once)
    j1 = jaccard_pairs(df, "text", "doc_id", threshold=0.0,
                       candidates=cand_once).collect()
    j2 = jaccard_pairs(df, "text", "doc_id", threshold=0.0,
                       candidates=cand_dup).collect()
    assert j1 == j2 and 0 < j1[0]["jaccard"] <= 1.0


def test_segment_dedup_fully_duplicate_doc_accounting(spark):
    """Default drops fully-duplicate docs; include_empty_docs=True
    keeps one dup_ratio=1.0 row per input doc."""
    from product_etl_spark.operators.dedup import remove_duplicate_segments

    text = " ".join(f"w{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, text), (2, text)], "doc_id long, text string"
    )
    default = remove_duplicate_segments(df, "text", "doc_id", seg_words=30)
    assert {r["doc_id"] for r in default.collect()} == {1}
    full = remove_duplicate_segments(df, "text", "doc_id", seg_words=30,
                                     include_empty_docs=True)
    rows = {r["doc_id"]: r for r in full.collect()}
    assert set(rows) == {1, 2}
    assert rows[2]["dup_ratio"] == 1.0 and rows[2]["text"] == ""
    assert rows[2]["n_segments_kept"] == 0


def test_segment_dedup_blank_docs_no_phantom_segment(spark):
    """Blank/NULL docs must produce NO segments (split('') returns
    [''] — the tokens() filter guards it), so they can't collide on
    md5('') and erase each other."""
    from product_etl_spark.operators.dedup import (
        exploded_segments,
        remove_duplicate_segments,
    )

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, None), (4, "real content here")],
        "doc_id long, text string",
    )
    assert exploded_segments(df, "text", "doc_id", 50).filter(
        "doc_id < 4"
    ).count() == 0
    out = remove_duplicate_segments(df, "text", "doc_id")
    assert {r["doc_id"] for r in out.collect()} == {4}


def test_canonical_by_quality_keeps_longest_then_lowest_id(spark):
    from product_etl_spark.operators.dedup import canonical_by_quality

    df = spark.createDataFrame(
        [
            ("c1", 1, 10),  # cluster c1: doc 2 is longest
            ("c1", 2, 50),
            ("c1", 3, 50),  # quality tie with doc 2 -> lowest id wins
            ("c2", 4, 7),   # singleton
        ],
        "cluster string, doc_id long, quality long",
    )
    got = canonical_by_quality(df, "cluster", "doc_id", "quality")
    by_c = {r["cluster"]: r for r in got.collect()}
    assert by_c["c1"]["canonical_id"] == 2
    assert by_c["c1"]["canonical_quality"] == 50
    assert by_c["c1"]["n_members"] == 3
    assert by_c["c2"]["canonical_id"] == 4
    only_dups = canonical_by_quality(
        df, "cluster", "doc_id", "quality", min_members=2
    )
    assert [r["cluster"] for r in only_dups.collect()] == ["c1"]
    # selection is a single agg pass (partial+final SortAggregate for
    # the struct min — still map-side combinable): no window, exactly
    # one exchange on the cluster key
    plan = got._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # AQE prints both
    assert "Window" not in final
    assert final.count("Exchange") == 1


def test_cosine_near_dup_pairs_zero_norm(spark):
    """Zero-norm embeddings pair at sim 0 with everything (the
    safe_cosine rule), so at threshold 0.3 only the real pair
    survives."""
    from product_etl_spark.operators.similarity import cosine_near_dup_pairs

    z = spark.createDataFrame(
        [(1, 100, [0.0, 0.0]), (1, 101, [1.0, 0.0]), (1, 102, [1.0, 0.0])],
        "label int, vec_id int, embedding array<float>",
    )
    got = cosine_near_dup_pairs(
        z, "embedding", "vec_id", "label", threshold=0.3
    ).collect()
    assert [(r["id_a"], r["id_b"], r["cos_sim"]) for r in got] == [
        (101, 102, 1.0)
    ]


def test_set_similarity_prefix_filter_lossless_at_boundary(spark):
    """A pair at EXACTLY the threshold (J = 3/5) whose only shared
    prefix token is their rarest one must survive; a pair just under
    must not. (The oracle-equality leg proves this at corpus scale;
    this pins the boundary arithmetic on a hand-built case.)"""
    from product_etl_spark.operators.dedup import set_similarity_pairs

    docs = [
        # J(d1,d2) = 3/5: {a b c x} vs {a b c y z}? inter 3, union 6 -> 0.5 no.
        # use {a b c} vs {a b c d e}: inter 3, union 5 -> exactly 3/5
        (1, "a b c"),
        (2, "a b c d e"),
        # J = 2/4 = 0.5 < 3/5: excluded
        (3, "a b p q"),
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = {
        (r["id_a"], r["id_b"]): (r["n_inter"], r["n_union"], r["jaccard"])
        for r in set_similarity_pairs(df, "text", "doc_id", 3, 5).collect()
    }
    assert got == {(1, 2): (3, 5, 0.6)}


def test_containment_pairs_matches_bruteforce(spark):
    """One-sided prefix filter is lossless: containment_pairs must
    equal the brute-force ordered-pair scan, including the asymmetric
    case Jaccard misses (a short doc embedded in a long one)."""
    docs = [
        (1, "alpha beta gamma"),                                # short
        (2, "alpha beta gamma plus lots of extra wrapper text"
            " around the embedded page content"),               # superset of 1
        (3, "one two three four five"),
        (4, "one two three four six"),                          # 4/5 of 3
        (5, "totally unrelated content here"),
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = {
        (r["id_small"], r["id_big"]): (r["n_small"], r["n_inter"])
        for r in D.containment_pairs(df, "text", "doc_id", 4, 5).collect()
    }

    sets = {i: set(t.lower().split()) for i, t in docs}
    brute = {
        (a, b): (len(sets[a]), len(sets[a] & sets[b]))
        for a in sets for b in sets if a != b
        and 5 * len(sets[a] & sets[b]) >= 4 * len(sets[a])
    }
    assert got == brute
    assert (1, 2) in got          # the embedded short doc IS found
    # ...although its Jaccard is far below 4/5 (union dominated by 2)
    j = len(sets[1] & sets[2]) / len(sets[1] | sets[2])
    assert j < 0.3
    assert (2, 1) not in got      # containment is directional
    assert (4, 3) in got and (3, 4) in got  # symmetric when sizes equal


def test_merge_components_equals_full_recompute(spark):
    """Incremental CC contract: star-collapsed old labels + new edges
    must reproduce the full recompute over all edges — including
    cluster MERGES caused by a new bridging edge, untouched clusters,
    and brand-new nodes."""
    import random

    rng = random.Random(42)
    nodes = list(range(60))
    all_edges = sorted(
        {
            tuple(sorted(rng.sample(nodes, 2)))
            for _ in range(70)
        }
    )
    cut = len(all_edges) * 2 // 3
    old, new = all_edges[:cut], all_edges[cut:]
    # force a bridge between two old clusters and a brand-new node
    new += [(0, 59), (58, 1), (100, 101)]

    def df(rows):
        return spark.createDataFrame(rows, "id_a int, id_b int")

    old_labels = D.connected_components(df(old))
    merged = {
        (r["id"], r["component"])
        for r in D.merge_components(old_labels, df(new)).collect()
    }
    full = {
        (r["id"], r["component"])
        for r in D.connected_components(df(old + new)).collect()
    }
    assert merged == full


def test_weighted_set_similarity_matches_bruteforce(spark):
    """Weighted prefix filter is lossless: results must equal the
    brute-force weighted computation over all pairs — and the
    weighting must split a boilerplate-heavy pair (low weighted
    Jaccard) from a rare-token-sharing pair (high) that UNWEIGHTED
    Jaccard scores identically."""
    docs = [
        # 1/2 share 4 boilerplate tokens + differ on 2 rare ones
        (1, "the of and to rare1a rare1b"),
        (2, "the of and to rare2a rare2b"),
        # 3/4 share the SAME COUNT of tokens, but the shared ones are rare
        (3, "zq1 zq2 zq3 zq4 only3a only3b"),
        (4, "zq1 zq2 zq3 zq4 only4a only4b"),
        # boilerplate spreader so 'the of and to' are high-df
        (5, "the of and to filler5a filler5b"),
        (6, "the of and to filler6a filler6b"),
        (7, "the of and to filler7a filler7b"),
        (8, "the of and to filler8a filler8b"),
        (9, "the of and to filler9a filler9b"),
        (10, "the of and to filler10a filler10b"),
        (11, "the of and to filler11a filler11b"),
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = {
        (r["id_a"], r["id_b"]): (r["w_inter"], r["w_union"])
        for r in D.weighted_set_similarity_pairs(
            df, "text", "doc_id", 1, 2
        ).collect()
    }

    # brute force with the same df-tier weights
    sets = {i: set(t.lower().split()) for i, t in docs}
    from collections import Counter
    dfc = Counter(t for s in sets.values() for t in s)
    def w(t):
        return 3 if dfc[t] <= 2 else (2 if dfc[t] <= 10 else 1)
    brute = {}
    ids = sorted(sets)
    for i in ids:
        for j in ids:
            if i >= j:
                continue
            wi = sum(w(t) for t in sets[i] & sets[j])
            wu = sum(w(t) for t in sets[i] | sets[j])
            if 2 * wi >= wu:
                brute[(i, j)] = (wi, wu)
    assert got == brute
    # unweighted Jaccard can't tell (1,2) from (3,4): both share 4/8
    assert len(sets[1] & sets[2]) == len(sets[3] & sets[4]) == 4
    # weighted: the rare-token pair passes 1/2, the boilerplate pair fails
    assert (3, 4) in got and (1, 2) not in got


def test_connected_components_raise_at_cap(spark):
    """A path of 4 edges needs 3 rounds after the folded first one,
    plus a round that sees no label change: max_iter=3 must raise,
    not return the partial labeling, and max_iter=4 converges."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(4)], "id_a long, id_b long"
    )
    with pytest.raises(
        RuntimeError, match=r"connected_components.*max_iter=3\b"
    ):
        D.connected_components(chain, max_iter=3)
    got = {
        r["id"]: r["component"]
        for r in D.connected_components(chain, max_iter=4).collect()
    }
    assert got == {i: 0 for i in range(5)}


def test_cluster_safe_folds_never_split_a_cluster(spark):
    """Planted graph: chain {1,2,3} + pair {10,11} + singletons. Every
    component lands in exactly ONE fold (by construction AND checked),
    even where per-row hashing WOULD split it — the q183-style row
    fold differs inside the chain, the cluster fold never does."""
    from product_etl_spark.functions.text import hash64
    from product_etl_spark.operators.dedup import cluster_safe_folds

    docs = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 20, 21)], "doc_id long"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    out = cluster_safe_folds(docs, pairs, "doc_id", n_folds=3)
    rows = {r["doc_id"]: (r["component"], r["fold"]) for r in out.collect()}
    # one fold per component
    by_comp = {}
    for comp, fold in rows.values():
        by_comp.setdefault(comp, set()).add(fold)
    assert all(len(folds) == 1 for folds in by_comp.values())
    assert rows[1][0] == rows[2][0] == rows[3][0] == 1
    assert rows[10][0] == rows[11][0] == 10
    assert rows[20] == (20, rows[20][1]) and rows[21][0] == 21
    # the guarantee is non-trivial: per-row hashing DOES split the
    # chain (so a q183-style split would leak near-duplicates)
    row_folds = {
        r["doc_id"]: r["f"]
        for r in docs.select(
            "doc_id",
            F.pmod(hash64(F.col("doc_id").cast("string")), F.lit(3)).alias("f"),
        ).collect()
    }
    assert len({row_folds[i] for i in (1, 2, 3)}) > 1
    # determinism
    again = {
        r["doc_id"]: (r["component"], r["fold"])
        for r in cluster_safe_folds(docs, pairs, "doc_id", n_folds=3).collect()
    }
    assert again == rows


def test_minhash_recall_audit_planted(spark):
    """Identical docs are truth AND candidates (identical signatures
    agree on every band) -> counted in hits; an unrelated doc joins
    neither set. recall is 1.0 here because exact duplicates can
    never be missed by banding."""
    from product_etl_spark.operators.dedup import minhash_recall_audit

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),
            (3, "one two three four five six seven"),
        ],
        "doc_id long, text string",
    )
    row = minhash_recall_audit(docs, "text", "doc_id").collect()[0]
    assert row["n_truth"] == 1
    assert row["n_hits"] == 1
    assert row["recall"] == 1.0
    assert row["n_candidates"] >= 1
    assert 0.0 < row["precision"] <= 1.0


def test_minhash_recall_audit_vacuous_and_guard(spark):
    """No true pairs -> recall is vacuously 1.0; and the all-pairs
    ground truth refuses to run past the doc cap."""
    import pytest

    from product_etl_spark.operators.dedup import minhash_recall_audit

    docs = spark.createDataFrame(
        [(1, "aa bb cc dd"), (2, "ee ff gg hh")],
        "doc_id long, text string",
    )
    row = minhash_recall_audit(docs, "text", "doc_id").collect()[0]
    assert row["n_truth"] == 0 and row["recall"] == 1.0
    with pytest.raises(ValueError, match="all-pairs"):
        minhash_recall_audit(docs, "text", "doc_id", max_truth_docs=1)
