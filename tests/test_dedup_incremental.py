"""Incremental cross-batch dedup (operators/dedup_incremental.py):
new batches dedupe against the persisted signature store without
touching historical text; reruns are idempotent."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from product_etl_spark.operators.dedup_incremental import (
    incremental_dedup,
    read_signature_store,
)

DOC_A = "the quick brown fox jumps over the lazy dog again and again tonight"
DOC_B = "four score and seven years ago our fathers brought forth a new nation"
DOC_C = "completely fresh content about shuffle partitioning at corpus scale"
# near-duplicate of DOC_A (one word changed)
DOC_A_NEAR = "the quick brown fox jumps over the lazy cat again and again tonight"


def _df(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


@pytest.mark.parametrize("strategy", ["fingerprint", "near"])
def test_cross_batch_dedup_and_rerun_idempotence(spark, tmp_path, strategy):
    store = str(tmp_path / f"sig_store_{strategy}")

    # batch 1: one internal exact duplicate (id 2 repeats id 1's text)
    b1 = _df(spark, [(1, DOC_A), (2, DOC_A), (3, DOC_B)])
    s1 = incremental_dedup(spark, b1, "text", "doc_id", store,
                           strategy=strategy)
    assert {r["doc_id"] for r in s1.collect()} == {1, 3}

    # batch 2: a copy of an accepted doc (new id) + fresh content
    copy = DOC_A if strategy == "fingerprint" else DOC_A_NEAR
    b2 = _df(spark, [(10, copy), (11, DOC_C)])
    s2 = incremental_dedup(spark, b2, "text", "doc_id", store,
                           strategy=strategy)
    assert {r["doc_id"] for r in s2.collect()} == {11}

    # store holds exactly the accepted ids' signatures
    st = read_signature_store(spark, store)
    assert {r["sig_id"] for r in st.collect()} == {1, 3, 11}

    # rerunning batch 2 verbatim: every doc already accepted or
    # already rejected -> zero survivors, store unchanged
    s2again = incremental_dedup(spark, b2, "text", "doc_id", store,
                                strategy=strategy)
    assert s2again.count() == 0
    st2 = read_signature_store(spark, store)
    assert {r["sig_id"] for r in st2.collect()} == {1, 3, 11}
    assert st2.count() == 3


def test_near_store_never_reads_text(spark, tmp_path):
    store = str(tmp_path / "sig_store_near_schema")
    b1 = _df(spark, [(1, DOC_A), (2, DOC_B)])
    incremental_dedup(spark, b1, "text", "doc_id", store, strategy="near")
    st = read_signature_store(spark, store)
    # the store is signatures only - no text column to rescan
    assert set(st.columns) == {"sig_id"} | {f"h{i}" for i in range(8)}


def test_unknown_strategy_raises(spark, tmp_path):
    b = _df(spark, [(1, DOC_A)])
    with pytest.raises(ValueError, match="strategy"):
        incremental_dedup(spark, b, "text", "doc_id",
                          str(tmp_path / "s"), strategy="simhash")


def test_store_probe_read_based_not_fs_based(spark, tmp_path):
    """ADVICE fix: the store probe attempts the read (works for any
    Hadoop-FS URI) — missing path -> None, any OTHER failure (e.g. a
    corrupt store file) propagates instead of silently re-seeding."""
    import pytest
    from product_etl_spark.operators.dedup_incremental import (
        read_signature_store,
    )

    assert read_signature_store(spark, str(tmp_path / "absent")) is None

    corrupt = tmp_path / "store"
    corrupt.mkdir()
    (corrupt / "part-00000.parquet").write_bytes(b"not parquet at all")
    with pytest.raises(Exception):
        read_signature_store(spark, str(corrupt)).collect()


def test_bloom_prefilter_same_decisions_and_sidecar(spark, tmp_path):
    """bloom_prefilter=True must make exactly the decisions of the
    pure-exact path, maintain the {store}_bloom sidecar, and stay
    rerun-idempotent."""
    store = str(tmp_path / "sig_store_bloom")

    b1 = _df(spark, [(1, DOC_A), (2, DOC_A), (3, DOC_B)])
    s1 = incremental_dedup(spark, b1, "text", "doc_id", store,
                           bloom_prefilter=True)
    assert {r["doc_id"] for r in s1.collect()} == {1, 3}
    # sidecar exists and holds bucket ints
    bloom = read_signature_store(spark, store + "_bloom")
    assert bloom is not None and bloom.columns == ["bucket"]

    # batch 2: exact copy (caught via bloom->exact) + fresh doc
    # (definitely-new: skips the store join but must still land in
    # both the store and the sidecar)
    b2 = _df(spark, [(10, DOC_A), (11, DOC_C)])
    s2 = incremental_dedup(spark, b2, "text", "doc_id", store,
                           bloom_prefilter=True)
    assert {r["doc_id"] for r in s2.collect()} == {11}

    # rerun batch 2: doc 11 now maybe-seen via the sidecar append ->
    # exact check -> rejected; zero survivors
    s2again = incremental_dedup(spark, b2, "text", "doc_id", store,
                                bloom_prefilter=True)
    assert s2again.count() == 0
    st = read_signature_store(spark, store)
    assert {r["sig_id"] for r in st.collect()} == {1, 3, 11}


def test_bloom_prefilter_interop_and_guards(spark, tmp_path):
    """A store written without the sidecar still works when the flag
    turns on later (missing sidecar = no pre-filter, exact path);
    near strategy rejects the flag."""
    store = str(tmp_path / "sig_store_mixed")
    b1 = _df(spark, [(1, DOC_A)])
    incremental_dedup(spark, b1, "text", "doc_id", store)  # no sidecar
    b2 = _df(spark, [(2, DOC_A), (3, DOC_B)])
    s2 = incremental_dedup(spark, b2, "text", "doc_id", store,
                           bloom_prefilter=True)
    assert {r["doc_id"] for r in s2.collect()} == {3}
    # first flagged call must have SEEDED the sidecar from the legacy
    # store — an under-covering sidecar would admit this duplicate of
    # batch-1 content as "definitely new" on the next run
    assert read_signature_store(spark, store + "_bloom") is not None
    s3 = incremental_dedup(spark, _df(spark, [(4, DOC_A)]),
                           "text", "doc_id", store, bloom_prefilter=True)
    assert s3.count() == 0

    with pytest.raises(ValueError):
        incremental_dedup(spark, b1, "text", "doc_id", store,
                          strategy="near", bloom_prefilter=True)


def test_bloom_sidecar_covers_flag_off_batches(spark, tmp_path):
    """The review-found hazard: once the sidecar exists, batches run
    with bloom_prefilter=False must STILL maintain it — otherwise a
    later flag-on run sees their docs as definitely-new and admits
    duplicates."""
    store = str(tmp_path / "sig_store_mixedflags")
    incremental_dedup(spark, _df(spark, [(1, DOC_A)]), "text", "doc_id",
                      store, bloom_prefilter=True)
    # flag OFF for batch 2 — sidecar must still learn DOC_B's fp
    incremental_dedup(spark, _df(spark, [(2, DOC_B)]), "text", "doc_id",
                      store, bloom_prefilter=False)
    # flag ON again: a duplicate of the flag-off batch must be caught
    s3 = incremental_dedup(spark, _df(spark, [(3, DOC_B)]), "text", "doc_id",
                           store, bloom_prefilter=True)
    assert s3.count() == 0
    st = read_signature_store(spark, store)
    assert {r["sig_id"] for r in st.collect()} == {1, 2}


def test_bloom_geometry_persisted_across_m_bits_mismatch(spark, tmp_path):
    """The sidecar's m_bits is fixed at creation; a later call passing
    a different bloom_m_bits must keep using the persisted geometry
    (a modulus mix would produce silent false negatives)."""
    store = str(tmp_path / "sig_store_geom")
    incremental_dedup(spark, _df(spark, [(1, DOC_A)]), "text", "doc_id",
                      store, bloom_prefilter=True, bloom_m_bits=1 << 12)
    # different (wrong) m_bits from the caller: duplicate still caught
    s2 = incremental_dedup(spark, _df(spark, [(2, DOC_A)]), "text", "doc_id",
                           store, bloom_prefilter=True, bloom_m_bits=1 << 20)
    assert s2.count() == 0
    from product_etl_spark.operators.dedup_incremental import (
        _read_bloom_geometry,
    )
    assert _read_bloom_geometry(spark, store) == 1 << 12


def test_compact_bloom_sidecar_bounds_rows_same_decisions(spark, tmp_path):
    from product_etl_spark.operators.dedup_incremental import (
        compact_bloom_sidecar,
    )

    store = str(tmp_path / "sig_store_compact")
    for i, doc in enumerate([DOC_A, DOC_B, DOC_C]):
        incremental_dedup(spark, _df(spark, [(i, doc)]), "text", "doc_id",
                          store, bloom_prefilter=True)
    before = read_signature_store(spark, store + "_bloom")
    n_distinct = before.distinct().count()
    compact_bloom_sidecar(spark, store)
    after = read_signature_store(spark, store + "_bloom")
    assert after.count() == n_distinct  # duplicates gone
    # decisions unchanged after compaction
    s = incremental_dedup(spark, _df(spark, [(9, DOC_A), (10, "wholly new text here")]),
                          "text", "doc_id", store, bloom_prefilter=True)
    assert {r["doc_id"] for r in s.collect()} == {10}


def test_jaccard_probe_matches_batch_join(spark):
    """Probe (new batch vs stored index) must find EXACTLY the
    cross-boundary pairs the batch operator finds on the combined
    corpus — the losslessness contract of the prefix probe."""
    from product_etl_spark.operators.dedup import set_similarity_pairs
    from product_etl_spark.operators.dedup_incremental import (
        build_jaccard_index,
        probe_jaccard_index,
    )

    store_docs = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "one two three four five six"),
        (3, "unrelated totally different words here"),
    ]
    batch_docs = [
        (101, "alpha beta gamma delta zeta"),      # near-dup of 1
        (102, "one two three four five six"),      # exact dup of 2
        (103, "nothing in common with anything"),
        (104, "brand new tokens only here today"),  # all tokens unseen
    ]
    store = spark.createDataFrame(store_docs, "doc_id int, text string")
    batch = spark.createDataFrame(batch_docs, "doc_id int, text string")

    idx = build_jaccard_index(store, "text", "doc_id", 3, 5)
    got = {
        (r["batch_id"], r["store_id"]): (r["n_inter"], r["n_union"])
        for r in probe_jaccard_index(idx, batch, "text", "doc_id", 3, 5).collect()
    }

    combined = store.unionByName(batch)
    expect = {
        (b, s): (r["n_inter"], r["n_union"])
        for r in set_similarity_pairs(combined, "text", "doc_id", 3, 5).collect()
        for s, b in [sorted((r["id_a"], r["id_b"]))]
        if s <= 3 < b  # cross-boundary pairs only
    }
    assert got == expect
    assert (101, 1) in got and (102, 2) in got
    assert not any(b in (103, 104) for b, _ in got)


def test_jaccard_probe_stop_token_candidate_shape(spark):
    """Scale contract (r7 verdict fix): a corpus-wide stop token must
    NOT fan out in the probe's candidate join. Every doc here shares
    two stop tokens ('the', 'of'); the old shape joined all batch
    tokens against all store tokens, producing a row for every
    (batch, store) pair — O(n_b * n_s). The prefix-only join keys on
    each doc's rarest tokens, so the stop tokens (ranked last) never
    enter a prefix and the pre-aggregation row count stays
    O(true candidates), which is 1 in this fixture."""
    from product_etl_spark.operators.dedup_incremental import (
        _rank_batch_prefix,
        build_jaccard_index,
        probe_candidate_pairs,
        probe_jaccard_index,
    )

    n_store, n_batch = 60, 40
    store_docs = [
        (i, f"the of s{i}a s{i}b s{i}c s{i}d") for i in range(n_store)
    ]
    batch_docs = [
        (1000 + j, f"the of b{j}a b{j}b b{j}c b{j}d") for j in range(n_batch)
    ]
    # one genuine near-dup across the boundary: 5 of 6 tokens shared
    batch_docs.append((2000, "the of s0a s0b s0c x0d"))
    store = spark.createDataFrame(store_docs, "doc_id int, text string")
    batch = spark.createDataFrame(batch_docs, "doc_id int, text string")

    idx = build_jaccard_index(store, "text", "doc_id", 3, 5)
    bpref = _rank_batch_prefix(idx, batch, "text", "doc_id", 3, 5)

    # every pair shares 'the'/'of' -> the OLD all-token join would
    # aggregate over >= n_store * n_batch pair groups; the prefix-only
    # join must stay O(candidates), not O(pairs-sharing-any-token)
    all_token_pairs = (
        bpref.select("bid", "tok")
        .join(idx.select("tok", "id"), "tok")
        .select("bid", "id")
        .distinct()
        .count()
    )
    assert all_token_pairs >= n_store * n_batch  # the blowup being avoided

    cand = probe_candidate_pairs(idx, bpref)
    assert cand.count() <= 5  # only the planted near-dup's prefix collides

    got = {
        (r["batch_id"], r["store_id"])
        for r in probe_jaccard_index(idx, batch, "text", "doc_id", 3, 5).collect()
    }
    assert got == {(2000, 0)}  # 5/7 >= 3/5; stop-token-only pairs are 2/10


def test_containment_probe_matches_batch_operator(spark):
    """The containment probe (new batch vs stored index) must find
    exactly the cross-boundary batch-contained-in-store pairs the
    batch containment_pairs operator finds on the combined corpus."""
    from product_etl_spark.operators.dedup import containment_pairs
    from product_etl_spark.operators.dedup_incremental import (
        build_jaccard_index,
        probe_containment_index,
    )

    store_docs = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "one two three four five six seven eight nine ten"),
        (3, "totally different unrelated words live here now"),
    ]
    batch_docs = [
        (101, "alpha beta gamma delta epsilon zeta eta theta iota"),  # 9/9 in 1
        (102, "one two three four five"),                             # 5/5 in 2
        (103, "alpha one totally"),                                   # scattered
        (104, "brand new tokens nobody has"),
    ]
    store = spark.createDataFrame(store_docs, "doc_id int, text string")
    batch = spark.createDataFrame(batch_docs, "doc_id int, text string")

    idx = build_jaccard_index(store, "text", "doc_id", 9, 10)
    got = {
        (r["batch_id"], r["store_id"]): (r["n_batch"], r["n_inter"])
        for r in probe_containment_index(
            idx, batch, "text", "doc_id", 9, 10
        ).collect()
    }

    combined = store.unionByName(batch)
    expect = {
        (r["id_small"], r["id_big"]): (r["n_small"], r["n_inter"])
        for r in containment_pairs(combined, "text", "doc_id", 9, 10).collect()
        if r["id_small"] > 100 and r["id_big"] <= 3  # batch-in-store only
    }
    assert got == expect
    assert (101, 1) in got and (102, 2) in got
    assert not any(b in (103, 104) for b, _ in got)


def test_incremental_dedup_jaccard_strategy(spark, tmp_path):
    """Exact set-similarity strategy: intra-batch dedup, cross-batch
    probe against the persisted token store, rerun idempotence — the
    deterministic sibling of the MinHash 'near' path."""
    store = str(tmp_path / "jac_store")
    b1 = _df(spark, [
        (1, "alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta zeta"),    # 4/6 of 1 -> intra-dup at 3/5? 4/6 >= 3/5 yes
        (3, "one two three four five"),
    ])
    s1 = incremental_dedup(spark, b1, "text", "doc_id", store,
                           strategy="jaccard",
                           threshold_num=3, threshold_den=5)
    assert {r["doc_id"] for r in s1.collect()} == {1, 3}

    # batch 2: near-dup of accepted 1, fresh content, rerun of id 3
    b2 = _df(spark, [
        (10, "alpha beta gamma delta eta"),    # 4/6 vs doc 1 -> dup
        (11, "totally brand new words here"),
        (3, "one two three four five"),        # resent accepted id
    ])
    s2 = incremental_dedup(spark, b2, "text", "doc_id", store,
                           strategy="jaccard",
                           threshold_num=3, threshold_den=5)
    assert {r["doc_id"] for r in s2.collect()} == {11}

    # full rerun of batch 2 appends nothing (idempotent)
    s3 = incremental_dedup(spark, b2, "text", "doc_id", store,
                           strategy="jaccard",
                           threshold_num=3, threshold_den=5)
    assert s3.count() == 0


# ------------------------------------------ suffix-span probe (r13)


def _sdocs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _span_set(df):
    return {
        (r["doc_id"], r["span_start"], r["span_len"]) for r in df.collect()
    }


def test_suffix_probe_matches_batch_rebuild(spark):
    """The pin: ingesting batches in ascending doc-id order, each
    batch's probe output equals suffix_duplicated_spans over the
    union of all batches so far RESTRICTED to that batch's docs."""
    from product_etl_spark.operators.dedup_incremental import (
        build_suffix_span_index,
        probe_suffix_spans,
    )
    from product_etl_spark.operators.suffixes import (
        suffix_duplicated_spans,
    )

    shared = " ".join(f"s{i}" for i in range(10))
    other = " ".join(f"o{i}" for i in range(9))
    b1 = [
        (1, f"a1 a2 {shared} a3"),
        (2, f"b1 b2 b3 b4 b5 b6 b7 b8 b9 {other}"),
        (3, "unique text never repeated by anyone else at all"),
    ]
    b2 = [
        (11, f"c1 {shared} c2 c3"),         # dups vs history doc 1
        (12, f"{other} d1 d2"),             # dups vs history doc 2
        (13, f"e1 e2 e3 {shared} e4"),      # dups vs history AND 11
        (14, "fresh words with no duplication whatsoever here"),
    ]
    union = _sdocs(spark, b1 + b2)
    # batch 1 against the empty store: batch-internal only
    got1 = _span_set(
        probe_suffix_spans(None, _sdocs(spark, b1), "text", "doc_id", 8)
    )
    want1 = _span_set(
        suffix_duplicated_spans(_sdocs(spark, b1), "text", "doc_id", 8)
    )
    assert got1 == want1 == set()
    # batch 2 against batch 1's index
    idx = build_suffix_span_index(_sdocs(spark, b1), "text", "doc_id", 8)
    got2 = _span_set(
        probe_suffix_spans(idx, _sdocs(spark, b2), "text", "doc_id", 8)
    )
    want2 = _span_set(
        suffix_duplicated_spans(union, "text", "doc_id", 8).filter(
            F.col("doc_id") >= 11
        )
    )
    assert got2 == want2
    assert {d for d, _, _ in got2} == {11, 12, 13}


def test_suffix_probe_excision_matches_batch_strip(spark):
    """probe_suffix_excision on the new batch equals
    suffix_remove_duplicates over the union restricted to the
    batch (same covered set, same reconstruction tail)."""
    from product_etl_spark.operators.dedup_incremental import (
        build_suffix_span_index,
        probe_suffix_excision,
    )
    from product_etl_spark.operators.suffixes import (
        suffix_remove_duplicates,
    )

    shared = " ".join(f"S{i}" for i in range(9))
    b1 = [(1, f"x1 x2 {shared} x3")]
    b2 = [
        (11, f"y1 {shared.lower()} y2"),
        (12, "nothing shared in this document at all really"),
    ]
    idx = build_suffix_span_index(_sdocs(spark, b1), "text", "doc_id", 8)
    got = {
        r["doc_id"]: (r["text_clean"], r["n_tokens"], r["n_removed"])
        for r in probe_suffix_excision(
            idx, _sdocs(spark, b2), "text", "doc_id", 8
        ).collect()
    }
    want = {
        r["doc_id"]: (r["text_clean"], r["n_tokens"], r["n_removed"])
        for r in suffix_remove_duplicates(
            _sdocs(spark, b1 + b2), "text", "doc_id", 8
        ).filter(F.col("doc_id") >= 11).collect()
    }
    assert got == want
    assert got[11] == ("y1 y2", 11, 9)
    assert got[12][2] == 0


