"""Property-based tests (hypothesis) for the parser expressions —
the reference's bug history (IMG_ARRAY_PARSER_FIX_README,
SKU_DOT_ZERO_FIX_README) is exactly the class these catch.

Strategy note: hypothesis drives a pure-Python model; each property
batch is evaluated through Spark in ONE createDataFrame+collect to
keep runtime sane.
"""

from __future__ import annotations

import re

import pytest

from hypothesis import given, settings
from hypothesis import strategies as st

from product_etl_spark.functions import (
    extract_urls,
    normalize_decimal,
    parse_attributes,
    strip_sku_dot_zero,
)

# keep unicode but exclude the separators and exotic unicode
# whitespace: the engine's strip is the Java \s class, Python's strip
# is broader (U+2028 etc.) — a definitional gap, not a behavior bug
_JAVA_WS = " \t\n\r\f\x0b"
_blacklist = ":-;\x00\x85\x1c\x1d\x1e\x1f"
_key = st.text(
    alphabet=st.characters(
        blacklist_characters=_blacklist,
        blacklist_categories=("Cs", "Zs", "Zl", "Zp"),
    ),
    min_size=1,
    max_size=8,
).filter(lambda s: s.strip(_JAVA_WS))
_val = st.text(
    alphabet=st.characters(
        blacklist_characters=_blacklist[1:],
        blacklist_categories=("Cs", "Zs", "Zl", "Zp"),
    ),
    min_size=0,
    max_size=12,
)


def _strip(s: str) -> str:
    return s.strip(_JAVA_WS)


def _spark_eval(spark, expr_fn, values):
    df = spark.createDataFrame([(v,) for v in values], "s string")
    return [r["r"] for r in df.select(expr_fn("s").alias("r")).collect()]


@settings(max_examples=20, deadline=None)
@given(st.lists(st.tuples(_key, _val), min_size=1, max_size=5))
def test_parse_attributes_roundtrip(spark, pairs):
    """implode(k:v with '-') -> parse == the pairs (modulo trim +
    last-wins is NOT applied here: parse keeps duplicates)."""
    s = "-".join(f"{k}:{v}" for k, v in pairs)
    [got] = _spark_eval(spark, parse_attributes, [s])
    expected = [
        (_strip(k), _strip(v)) for k, v in pairs if _strip(k)
    ]
    assert [(r["attr_key"], r["attr_value"]) for r in got] == expected


@settings(max_examples=20, deadline=None)
@given(st.lists(st.integers(min_value=1, max_value=10**13), min_size=1, max_size=5))
def test_url_extraction_finds_all(spark, nums):
    urls = [f"https://img.example.com/{n}.jpg" for n in nums]
    s = "junk [" + ", ".join(urls + ["800", "600"]) + "] tail"
    [got] = _spark_eval(spark, extract_urls, [s])
    assert got == urls


@settings(max_examples=20, deadline=None)
@given(st.decimals(min_value=0, max_value=10**10, places=2))
def test_decimal_comma_roundtrip(spark, d):
    """European formatting (1.234,56) normalizes back to the number."""
    euro = f"{d:,.2f}".replace(",", "_").replace(".", ",").replace("_", ".")
    [got] = _spark_eval(spark, normalize_decimal, [euro])
    assert got == d


@settings(max_examples=20, deadline=None)
@given(st.text(alphabet="0123456789.", min_size=1, max_size=12))
def test_sku_strip_model(spark, s):
    """strip_sku_dot_zero removes exactly one trailing '.0' — matches
    the regex model, never the reference's rstrip over-strip."""
    [got] = _spark_eval(spark, strip_sku_dot_zero, [s])
    assert got == re.sub(r"\.0$", "", s)


@given(
    st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)), min_size=1, max_size=32
    )
)
@settings(max_examples=20, deadline=None)
def test_interleave_bits_is_injective_and_monotone_model(spark, pts):
    """Morton code property batch: matches the pure-Python model (so
    the unrolled Catalyst expression is the real Morton code), hence
    injective over the bucket grid."""
    from pyspark.sql import functions as F
    from product_etl_spark.operators.zorder import interleave_bits

    def model(x, y, bits=4):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i) | ((y >> i) & 1) << (2 * i + 1)
        return z

    df = spark.createDataFrame(pts, "x int, y int").select(
        "x", "y", interleave_bits([F.col("x"), F.col("y")], bits=4).alias("z")
    )
    for r in df.collect():
        assert r.z == model(r.x, r.y)


def test_weighted_sample_fractions_are_nested(spark, sf_dir):
    """Raising the target fraction can only ADD rows (the keep
    inequality is monotone in num/den), so samples at increasing
    fractions form a chain — reproducible budget scaling."""
    from product_etl_spark.operators.sampling import weighted_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    k10 = {r.doc_id for r in weighted_sample(docs, "doc_id", "n_chars", 1, 10).collect()}
    k5 = {r.doc_id for r in weighted_sample(docs, "doc_id", "n_chars", 1, 5).collect()}
    k2 = {r.doc_id for r in weighted_sample(docs, "doc_id", "n_chars", 1, 2).collect()}
    assert k10 <= k5 <= k2
    assert len(k10) < len(k2)


# ---- BPE (pure-Python kernel, no Spark round-trip needed per
# example) ----


@settings(max_examples=30, deadline=None)
@given(st.lists(st.text(alphabet="abcde", min_size=1, max_size=8),
                min_size=1, max_size=30))
def test_bpe_encode_reconstructs_words(words):
    """Concatenating a word's BPE tokens (minus </w>) must
    reconstruct the word exactly, whatever merges were learned —
    tokenization never loses or invents characters."""
    from product_etl_spark.operators.bpe import _encode_word

    # driver-side trainer over a tiny in-memory corpus via the same
    # merge loop (train_bpe needs Spark; emulate its vocab input by
    # calling the private pieces directly is overkill — learn ranks
    # from a fixed small merge list instead)
    ranks = {("a", "b"): 0, ("ab", "c"): 1, ("d", "e"): 2,
             ("e", "</w>"): 3, ("c", "d"): 4}
    for word in words:
        toks = _encode_word(word, ranks)
        rebuilt = "".join(toks).replace("</w>", "")
        assert rebuilt == word


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(st.sampled_from([f"w{i}" for i in range(30)]),
                  st.integers(min_value=1, max_value=20)),
        min_size=1, max_size=20, unique_by=lambda t: t[0],
    )
)
@pytest.mark.slow
def test_cms_one_sided_error_property(spark, freq_spec):
    """For ANY corpus: the whole-corpus CMS estimate >= exact count
    for every item."""
    from product_etl_spark.operators.cms import cms_estimate, cms_partials

    rows = [(w, i % 3) for w, n in freq_spec for i in range(n)]
    df = spark.createDataFrame(rows, "w string, part int")
    sk = cms_partials(df, [], "w", depth=3, width=256)
    est = {
        r["w"]: r["est_count"]
        for r in cms_estimate(sk, df.select("w"), "w", depth=3, width=256).collect()
    }
    for w, n in freq_spec:
        assert est[w] >= n


@settings(max_examples=8, deadline=None)
@given(
    docs=st.lists(
        st.lists(
            st.text(alphabet="abcxyz09", min_size=1, max_size=4),
            min_size=0,
            max_size=60,
        ),
        min_size=1,
        max_size=6,
    ),
    max_tokens=st.integers(min_value=2, max_value=12),
    overlap=st.integers(min_value=0, max_value=11),
)
def test_chunking_reconstructs_any_document(spark, docs, max_tokens, overlap):
    """For ANY token sequence and any legal (max_tokens, overlap):
    dropping each chunk's leading `overlap` tokens (after the first)
    and concatenating reconstructs the document exactly — no token
    lost, none duplicated, order preserved."""
    from hypothesis import assume

    from product_etl_spark.operators.packing import chunk_documents

    assume(overlap < max_tokens)
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = chunk_documents(df, max_tokens=max_tokens, overlap=overlap).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, toks in enumerate(docs):
        chunks = sorted(by_doc.get(i, []), key=lambda r: r["chunk_id"])
        if not toks:
            assert chunks == []
            continue
        rebuilt = []
        for j, r in enumerate(chunks):
            ts = r["chunk_text"].split(" ")
            assert len(ts) == r["n_tokens"] <= max_tokens
            rebuilt += ts if j == 0 else ts[overlap:]
        assert rebuilt == toks


@settings(max_examples=6, deadline=None)
@given(
    vecs=st.lists(
        st.lists(
            st.floats(
                min_value=-2.0, max_value=2.0,
                allow_nan=False, allow_infinity=False, width=32,
            ),
            min_size=16,
            max_size=16,
        ),
        min_size=1,
        max_size=20,
    )
)
def test_pq_codes_in_range_and_stable_under_repartition(spark, vecs):
    """For ANY float32 vectors: every code is in [0, k); codes are a
    pure row function, so repartitioning cannot change them."""
    from product_etl_spark.operators import pq as PQ

    books = PQ.md5_codebooks(4, 8, 4)  # dim 16
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    base = {
        r["vec_id"]: list(r["pq_code"])
        for r in PQ.pq_encode(df, "embedding", books, dim=16).collect()
    }
    assert all(0 <= c < 8 for codes in base.values() for c in codes)
    assert all(len(codes) == 4 for codes in base.values())
    repart = {
        r["vec_id"]: list(r["pq_code"])
        for r in PQ.pq_encode(
            df.repartition(5), "embedding", books, dim=16
        ).collect()
    }
    assert repart == base


@given(
    st.lists(
        st.text(alphabet="abc", min_size=1, max_size=8),
        min_size=1,
        max_size=6,
    ),
    st.sets(
        st.text(alphabet="abc", min_size=2, max_size=3), max_size=6
    ),
)
@settings(max_examples=20, deadline=None)
@pytest.mark.slow
def test_min_pieces_bounds_and_maxmunch_roundtrip(spark, words, extra):
    """Model properties over random words/vocabs: (1) min-piece cost
    is always defined when chars are in the inventory and bounded by
    1..len(word); (2) greedy max-munch always reconstructs the word
    and never beats the OPTIMAL min-piece count."""
    from product_etl_spark.operators.bpe import encode_maxmunch
    from product_etl_spark.operators.unigram import min_pieces_costs

    words = sorted(set(words))
    pieces = set("abc") | extra
    wdf = spark.createDataFrame([(w,) for w in words], "word string")
    pdf = spark.createDataFrame([(p,) for p in pieces], "piece string")
    costs = {
        r["word"]: r["n_pieces"] for r in min_pieces_costs(wdf, pdf).collect()
    }
    docs = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "doc_id long, text string"
    )
    munched = {
        r["doc_id"]: r["tokens"]
        for r in encode_maxmunch(docs, "text", "doc_id", pieces).collect()
    }
    for i, w in enumerate(words):
        assert 1 <= costs[w] <= len(w)
        toks = munched[i]
        assert "".join(toks) == w            # lossless
        assert len(toks) >= costs[w]         # greedy never beats optimal
