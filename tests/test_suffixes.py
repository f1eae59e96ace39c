"""Exact duplicated-span family (operators/suffixes): brute force on
planted corpora, identical documents, within-doc repetition
exclusion, long documents, NULL ids and colors, and the module's
cover-equality contract — coverage AND merged intervals equal the
gram method at n = min_len (dedup.crossdoc_dup_span_coverage) on
fixtures and a real corpus slice."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from product_etl_spark.operators.dedup import crossdoc_dup_span_coverage
import pytest
from product_etl_spark.operators.suffixes import (
    suffix_dup_coverage,
    suffix_duplicated_spans,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _brute_spans(corpus: dict, min_len: int) -> list:
    """Reference model: for every position, the longest prefix of its
    tail occurring contiguously in a DIFFERENT doc; merge [p, p+d)
    islands with d >= min_len. O(everything) — fixtures only."""

    def occurs(needle, did):
        for o, toks in corpus.items():
            if o == did:
                continue
            for i in range(len(toks) - len(needle) + 1):
                if toks[i : i + len(needle)] == needle:
                    return True
        return False

    out = []
    for did, toks in sorted(corpus.items()):
        ivs = []
        for p in range(len(toks)):
            d = 0
            for L in range(len(toks) - p, 0, -1):
                if occurs(toks[p : p + L], did):
                    d = L
                    break
            if d >= min_len:
                ivs.append((p, p + d))
        merged = []
        for s, e in ivs:
            if merged and s <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], e)
            else:
                merged.append([s, e])
        out.extend((did, s, e - s) for s, e in merged)
    return out


def _spark_spans(spark, rows, min_len):
    return [
        (r["doc_id"], r["span_start"], r["span_len"])
        for r in suffix_duplicated_spans(
            _docs(spark, rows), "text", "doc_id", min_len=min_len
        ).collect()
    ]


def test_planted_long_span_true_length(spark):
    """Two docs share a verbatim 10-token run; min_len=8 must report
    ONE maximal span of TRUE length 10 in each (the arbitrary-length
    upgrade over fixed-n grams), and the clean doc reports none."""
    shared = " ".join(f"s{i}" for i in range(10))
    rows = [
        (1, f"x1 x2 {shared} x3"),
        (2, f"y1 {shared} y2 y3 y4"),
        (3, "clean words only never repeated anywhere at all"),
    ]
    got = _spark_spans(spark, rows, 8)
    assert got == [(1, 2, 10), (2, 1, 10)]
    assert got == _brute_spans({i: t.split() for i, t in rows}, 8)


def test_within_doc_repetition_does_not_count(spark):
    """A document repeating its own 8-gram twice has NO cross-doc
    duplicated span (min_df-distinct-docs semantics, same as q147)."""
    run = " ".join(f"r{i}" for i in range(8))
    rows = [(1, f"{run} mid {run}"), (2, "totally different content here")]
    assert _spark_spans(spark, rows, 8) == []


def test_identical_docs_full_coverage(spark):
    """Two byte-identical docs: every position's tail matches the
    other doc, one span covering the whole doc each; a third doc
    sharing only a mid prefix gets its true shorter span."""
    body = " ".join(f"w{i}" for i in range(12))
    rows = [(1, body), (2, body), (3, "zz " + " ".join(f"w{i}" for i in range(9)))]
    corpus = {i: t.split() for i, t in rows}
    got = _spark_spans(spark, rows, 8)
    assert got == _brute_spans(corpus, 8)
    assert (1, 0, 12) in got and (2, 0, 12) in got and (3, 1, 9) in got
    cov = {
        r["doc_id"]: (r["covered"], r["coverage"])
        for r in suffix_dup_coverage(
            _docs(spark, rows), "text", "doc_id", min_len=8
        ).collect()
    }
    assert cov[1] == (12, 1.0) and cov[2] == (12, 1.0)
    assert cov[3] == (9, round(9 / 10, 4))


@pytest.mark.slow
def test_brute_force_hash_corpus(spark):
    """Deterministic small-vocab corpus (md5-driven, 8 docs x 30
    tokens over a 12-word vocab — dense accidental repeats): the
    spans surface must equal brute force exactly at two min_lens."""

    def tk(i, j):
        return "t" + str(
            int(hashlib.md5(f"{i},{j}".encode()).hexdigest()[:4], 16) % 12
        )

    rows = [
        (i, " ".join(tk(i, j) for j in range(30))) for i in range(8)
    ]
    corpus = {i: t.split() for i, t in rows}
    for ml in (3, 5):
        assert _spark_spans(spark, rows, ml) == _brute_spans(corpus, ml), ml


def test_coverage_equals_gram_method_on_real_slice(spark, sf_dir):
    """The module contract powering q212's SQL oracle: suffix
    coverage at min_len L == gram coverage at n = L, row for row, on
    a real documents slice."""
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") < 150)
        .select("doc_id", "text")
    )
    a = {
        r["doc_id"]: (r["n_tokens"], r["covered"], r["coverage"])
        for r in suffix_dup_coverage(
            docs, "text", "doc_id", min_len=5
        ).collect()
    }
    b = {
        r["doc_id"]: (r["n_tokens"], r["covered"], r["coverage"])
        for r in crossdoc_dup_span_coverage(
            docs, "text", "doc_id", n=5, min_df=2
        ).collect()
    }
    assert a == b and len(a) == 150


def test_long_document_matches_brute(spark):
    """A document longer than 2,048 tokens needs no guard and no
    method switch: its planted shared span, placed past token 2,048,
    comes back with its true length, equal to brute force."""
    filler = [f"f{i}" for i in range(2100)]
    shared = [f"s{i}" for i in range(12)]
    long_doc = filler[:2070] + shared + filler[2070:]
    rows = [
        (1, " ".join(long_doc)),
        (2, " ".join(["y0", "y1", *shared, "y2"])),
    ]
    got = _spark_spans(spark, rows, 8)
    assert got == [(1, 2070, 12), (2, 2, 12)]
    assert got == _brute_spans({i: t.split() for i, t in rows}, 8)


def test_suffix_removal_planted_and_matches_coverage(spark):
    """suffix_remove_duplicates excises the shared run from EVERY
    holder (no keeper — the conservative strip; q177's gram rule
    keeps one), preserves original case, and its n_removed equals
    suffix_dup_coverage's covered count per doc (same position
    set)."""
    from product_etl_spark.operators.suffixes import (
        suffix_remove_duplicates,
    )

    shared = " ".join(f"S{i}" for i in range(10))  # original case kept
    rows = [
        (1, f"x1 x2 {shared} x3"),
        (2, f"y1 {shared.lower()} y2"),  # lowercased match still dups
        (3, "clean words only never repeated anywhere at all"),
    ]
    out = {
        r["doc_id"]: r
        for r in suffix_remove_duplicates(
            _docs(spark, rows), "text", "doc_id", min_len=8
        ).collect()
    }
    assert out[1]["text_clean"] == "x1 x2 x3"
    assert out[2]["text_clean"] == "y1 y2"
    assert out[3]["text_clean"] == rows[2][1]
    assert out[1]["n_removed"] == 10 and out[2]["n_removed"] == 10
    assert out[3]["n_removed"] == 0
    cov = {
        r["doc_id"]: r["covered"]
        for r in suffix_dup_coverage(
            _docs(spark, rows), "text", "doc_id", min_len=8
        ).collect()
    }
    assert all(out[d]["n_removed"] == cov[d] for d in cov)


def _brute_color_cover(corpus, colors, min_len):
    """Reference: per doc, merged cover of [p, p+d) where d = longest
    prefix occurring contiguously in a doc of a DIFFERENT color."""
    out = {}
    for did, toks in sorted(corpus.items()):
        ivs = []
        for p in range(len(toks)):
            d = 0
            for L in range(len(toks) - p, 0, -1):
                hit = False
                for o, ot in corpus.items():
                    if colors[o] == colors[did]:
                        continue
                    for i in range(len(ot) - L + 1):
                        if ot[i : i + L] == toks[p : p + L]:
                            hit = True
                            break
                    if hit:
                        break
                if hit:
                    d = L
                    break
            if d >= min_len:
                ivs.append((p, p + d))
        cov = set()
        for s, e in ivs:
            cov.update(range(s, e))
        out[did] = len(cov)
    return out


def test_cross_source_coverage_brute_and_same_color_invisible(spark):
    """suffix_shared_span_coverage: corpus-vs-benchmark true-span
    contamination. A corpus doc copying ANOTHER CORPUS doc is
    invisible (same color); a corpus doc sharing a run with a
    BENCHMARK doc is covered for exactly that run; brute force
    agrees on every doc."""
    from product_etl_spark.operators.suffixes import (
        suffix_shared_span_coverage,
    )

    leak = " ".join(f"L{i}" for i in range(9))
    dup = " ".join(f"D{i}" for i in range(12))
    rows = [
        (0, f"bench1 {leak} benchtail"),           # benchmark
        (1, f"c1 {leak} c2 c3"),                   # contaminated corpus
        (2, f"x0 {dup} x1"),                       # corpus-corpus dup pair
        (3, f"y0 y1 {dup}"),                       #   -> must be invisible
        (4, "clean corpus words nothing shared"),  # clean corpus
    ]
    colors = {0: "bench", 1: "corp", 2: "corp", 3: "corp", 4: "corp"}
    df = spark.createDataFrame(
        [(i, t, colors[i]) for i, t in rows],
        "doc_id long, text string, src string",
    )
    want = _brute_color_cover(
        {i: t.split() for i, t in rows}, colors, 8
    )
    got = {
        r["doc_id"]: r["covered"]
        for r in suffix_shared_span_coverage(
            df, "text", "doc_id", "src", min_len=8
        ).collect()
    }
    assert got == want
    assert got[1] == 9    # the benchmark leak, true length
    assert got[2] == 0 and got[3] == 0  # same-color dup invisible
    assert got[0] == 9    # benchmark side sees the corpus copy


def test_null_color_is_one_color(spark):
    """NULL is one color, as eqNullSafe treats it: two NULL-color
    documents sharing a run are invisible to each other (same color),
    while a NULL-color document sharing a run with a 'bench' document
    is covered, on both the coverage and the removal operator. A
    plain min/max over the color would skip the NULLs and get both
    wrong."""
    from product_etl_spark.operators.suffixes import (
        suffix_remove_contaminated,
        suffix_shared_span_coverage,
    )

    leak = " ".join(f"L{i}" for i in range(9))
    pair = " ".join(f"P{i}" for i in range(10))
    rows = [
        (0, f"n0 {pair} n1", None),       # NULL-NULL pair: invisible
        (1, f"m0 m1 {pair}", None),
        (2, f"c0 {leak} c1", None),       # NULL vs 'bench': covered
        (3, f"b0 {leak} b1 b2", "bench"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, src string")
    cov = {
        r["doc_id"]: r["covered"]
        for r in suffix_shared_span_coverage(
            df, "text", "doc_id", "src", min_len=8
        ).collect()
    }
    assert cov == {0: 0, 1: 0, 2: 9, 3: 9}
    out = {
        r["doc_id"]: (r["text_clean"], r["n_removed"])
        for r in suffix_remove_contaminated(
            df, "text", "doc_id", "src", "bench", min_len=8
        ).collect()
    }
    assert out == {3: ("b0 b1 b2", 9)}


def test_segmented_prefix_sum_matches_pandas(spark):
    """_segmented_prefix_sum == pandas groupby-cumsum on a
    deterministic frame whose segments SPAN multiple range partitions
    — the fixture class that caught the reversed-carry bug in the
    running-min scans (tiny planted frames fit one partition and
    never exercise the cross-partition carry)."""
    import hashlib

    import pandas as pd

    from product_etl_spark.operators.suffixes import _segmented_prefix_sum

    rows = []
    for s in range(1, 401):
        seg = 1 + (s - 1) // 97  # segments of 97 rows: cross partitions
        v = int(hashlib.md5(str(s).encode()).hexdigest()[:4], 16) % 100
        rows.append((s, seg, v))
    df = spark.createDataFrame(rows, "_s long, _g long, _v long")
    got = {
        (r["_g"], r["_s"]): r["_cum"]
        for r in _segmented_prefix_sum(df, ["_g"], "_s", "_v", "_cum").collect()
    }
    pdf = pd.DataFrame(rows, columns=["_s", "_g", "_v"])
    exp = pdf.groupby("_g")["_v"].cumsum()
    for i in range(len(pdf)):
        key = (pdf["_g"].iloc[i], pdf["_s"].iloc[i])
        assert got[key] == exp.iloc[i], key


def test_contamination_removal_planted(spark):
    """suffix_remove_contaminated: the benchmark leak is excised from
    the corpus doc (original case kept), corpus-corpus duplication is
    NOT removed (same color), benchmark docs are absent from the
    output, and n_removed matches the cross-color coverage."""
    from product_etl_spark.operators.suffixes import (
        suffix_remove_contaminated,
    )

    leak = " ".join(f"L{i}" for i in range(9))
    dup = " ".join(f"D{i}" for i in range(12))
    rows = [
        (0, f"bench1 {leak.lower()} benchtail", "bench"),
        (1, f"C1 {leak} C2", "corpus"),
        (2, f"x0 {dup} x1", "corpus"),
        (3, f"y0 y1 {dup}", "corpus"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, src string")
    out = {
        r["doc_id"]: r
        for r in suffix_remove_contaminated(
            df, "text", "doc_id", "src", "corpus", min_len=8
        ).collect()
    }
    assert set(out) == {1, 2, 3}            # benchmark never emitted
    assert out[1]["text_clean"] == "C1 C2"  # leak gone, case kept
    assert out[1]["n_removed"] == 9
    assert out[2]["n_removed"] == 0 and out[3]["n_removed"] == 0
    assert out[2]["text_clean"] == rows[2][1]


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c"]), min_size=1, max_size=12
        ),
        min_size=2,
        max_size=5,
    ),
    st.integers(min_value=2, max_value=4),
)
def test_property_spans_match_brute(spark, docs, min_len):
    """Property: over tiny 3-letter-alphabet corpora (dense accidental
    repeats, adversarial for run/boundary logic), the spans surface
    equals the brute-force model for any min_len."""
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    corpus = {i: t.split() for i, t in rows}
    assert _spark_spans(spark, rows, min_len) == _brute_spans(
        corpus, min_len
    )


def _oracle_spans(docs, tmp_path) -> set:
    """q212's DuckDB oracle over ``docs`` written as a parquet view."""
    import duckdb

    from product_etl_spark import plans

    pq = str(tmp_path / "oracle_docs")
    docs.write.mode("overwrite").parquet(pq)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{pq}/*.parquet')"
    )
    oracle = plans.oracle_sql()["q212_suffix_duplicated_spans"]
    return {tuple(r) for r in con.execute(oracle).fetchall()}


def test_touching_spans_merge_on_both_engines(spark, tmp_path):
    """TOUCHING maximal spans (doc A shares tokens [0,8) with X and
    [8,16) with Y, with NO duplicated 8-gram crossing the boundary)
    are ONE maximal interval of the covered set — [0,16) — and both
    the Spark operator and the q212 ORACLE must say so. Pins the r13
    oracle fix: the island break is now pos > MAX(pos + 8) (exclusive
    ends touch-merge); the old pos > MAX(pos + 7) split touching
    islands and would have hash-mismatched on exactly this corpus."""
    s = " ".join(f"s{i}" for i in range(8))
    t = " ".join(f"t{i}" for i in range(8))
    rows = [
        (0, f"{s} {t}"),                         # A: [0,8)+[8,16) touch
        (1, f"x1 x2 x3 x4 x5 x6 x7 x8 {s}"),     # X carries s at pos 8
        (2, f"{t} y1 y2 y3 y4 y5 y6 y7 y8"),     # Y carries t at pos 0
    ]
    want = {(0, 0, 16), (1, 8, 8), (2, 0, 8)}
    assert set(_spark_spans(spark, rows, 8)) == want
    assert _oracle_spans(_docs(spark, rows), tmp_path) == want


def test_null_id_document_is_no_other_document(spark, tmp_path):
    """A NULL-id document is never "another document" — the oracle's
    COUNT(DISTINCT doc_id) skips it. Doc 5 (12 tokens) shares a
    10-token run only with a NULL-id document, so neither engine
    reports a span; the old suffix-array path paired the two and
    reported spans, one of them past the end of a document."""
    shared = " ".join(f"s{i}" for i in range(10))
    rows = [
        (5, f"a {shared} b"),
        (None, f"x {shared} y z"),
        (7, "clean words only never repeated anywhere at all nope"),
    ]
    assert _spark_spans(spark, rows, 8) == []
    assert _oracle_spans(_docs(spark, rows), tmp_path) == set()


#: Spark jobs suffix_duplicated_spans submits on the sf0.001 documents
#: (measured: the window aggregate, the join back, the island windows
#: and the ordered output); the suffix-array construction it replaced
#: took 7 there.
SPANS_JOBS = 6


def test_spans_job_count_gate(spark, sf_dir):
    """suffix_duplicated_spans must not submit more Spark jobs than it
    does today: a reintroduced suffix sort, rank ladder or driver-side
    scan fails here."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    spans = suffix_duplicated_spans(docs, "text", "doc_id", 8)
    sc = spark.sparkContext
    sc.setJobGroup("suffix-spans-gate", "job count gate")
    try:
        spans.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n = len(sc.statusTracker().getJobIdsForGroup("suffix-spans-gate"))
    assert n <= SPANS_JOBS, f"spans submitted {n} jobs, gate is {SPANS_JOBS}"
