"""remove_duplicate_spans (Lee et al. 2022 exact-substring dedup,
removal rung): planted shared spans excised with one canonical copy
kept, equivalence with a brute-force reference on a seeded random
corpus, untouched docs reconstruct verbatim (modulo whitespace)."""

from __future__ import annotations

import random

from product_etl_spark.operators.dedup import remove_duplicate_spans


def _brute(docs: list[tuple[int, str]], n: int = 5, min_df: int = 2):
    """Reference implementation of the operator's exact contract."""
    toks = {d: t.split() for d, t in docs}
    low = {d: [x.lower() for x in t] for d, t in toks.items()}
    gram_docs: dict[tuple, set] = {}
    for d, lt in low.items():
        for i in range(len(lt) - n + 1):
            gram_docs.setdefault(tuple(lt[i : i + n]), set()).add(d)
    keeper = {g: min(ds) for g, ds in gram_docs.items() if len(ds) >= min_df}
    out = {}
    for d, t in toks.items():
        lt = low[d]
        rem: set[int] = set()
        for i in range(len(lt) - n + 1):
            g = tuple(lt[i : i + n])
            if g in keeper and keeper[g] != d:
                rem.update(range(i, i + n))
        kept = [t[i] for i in range(len(t)) if i not in rem]
        out[d] = (" ".join(kept), len(t), len(t) - len(kept))
    return out


def _run(spark, docs, n=5, min_df=2):
    df = spark.createDataFrame(docs, "doc_id long, text string")
    return {
        r["doc_id"]: (r["text_clean"], r["n_tokens"], r["n_removed"])
        for r in remove_duplicate_spans(
            df, "text", "doc_id", n=n, min_df=min_df
        ).collect()
    }


def test_planted_shared_span_excised_keeper_kept(spark):
    span = "the quick brown fox jumps over the lazy dog"
    docs = [
        (1, f"alpha beta {span} gamma delta"),          # keeper (lowest id)
        (2, f"unique two before {span} and after text"),
        (3, f"{span} starts this doc entirely here"),
        (4, "totally novel content with no shared spans at all"),
    ]
    got = _run(spark, docs)
    # keeper keeps the span verbatim
    assert got[1][0] == docs[0][1]
    assert got[1][2] == 0
    # non-keepers lose exactly the span (plus any boundary grams --
    # here the span sits mid-doc with unique context, so exactly it)
    assert span not in got[2][0] and span not in got[3][0]
    assert got[2][0] == "unique two before and after text"
    assert got[3][0] == "starts this doc entirely here"
    assert got[2][2] == got[3][2] == 9  # span token count
    # untouched doc reconstructs verbatim
    assert got[4] == (docs[3][1], 9, 0)


def test_case_insensitive_match_preserves_original_case(spark):
    span_lower = "one two three four five"
    docs = [
        (1, f"{span_lower} tail a b c d"),
        (2, f"x y z w ONE Two three FOUR five"),
    ]
    got = _run(spark, docs)
    # doc 2's span matches case-insensitively and is excised; its
    # unique prefix keeps original case
    assert got[2][0] == "x y z w"
    assert got[2][2] == 5
    assert got[1][2] == 0


def test_equals_brute_force_on_seeded_random_corpus(spark):
    rng = random.Random(417)
    vocab = [f"w{i}" for i in range(10)]
    docs = [
        (d, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 40))))
        for d in range(12)
    ]
    for n, min_df in ((3, 2), (5, 2), (4, 3)):
        assert _run(spark, docs, n=n, min_df=min_df) == _brute(
            docs, n=n, min_df=min_df
        ), f"mismatch at n={n}, min_df={min_df}"


def test_short_and_empty_docs_pass_through(spark):
    docs = [(1, "a b c"), (2, "a b c"), (3, ""), (4, None)]
    got = _run(spark, docs, n=5)
    assert got[1] == ("a b c", 3, 0)
    assert got[2] == ("a b c", 3, 0)  # < n tokens: no grams, no dedup
    assert got[3] == ("", 0, 0)
    assert got[4] == ("", 0, 0)


def _brute_within(docs: list[tuple[int, str]], n: int = 5):
    """Reference for remove_repeated_spans_within_doc's contract."""
    out = {}
    for d, t in docs:
        toks = t.split() if t else []
        low = [x.lower() for x in toks]
        first: dict[tuple, int] = {}
        count: dict[tuple, int] = {}
        for i in range(len(low) - n + 1):
            g = tuple(low[i : i + n])
            count[g] = count.get(g, 0) + 1
            first.setdefault(g, i)
        rep = {g for g, c in count.items() if c >= 2}
        covered_any: set[int] = set()
        covered_first: set[int] = set()
        for i in range(len(low) - n + 1):
            g = tuple(low[i : i + n])
            if g in rep:
                covered_any.update(range(i, i + n))
                if first[g] == i:
                    covered_first.update(range(i, i + n))
        rem = covered_any - covered_first
        kept = [toks[i] for i in range(len(toks)) if i not in rem]
        out[d] = (" ".join(kept), len(toks), len(toks) - len(kept))
    return out


def _run_within(spark, docs, n=5):
    from product_etl_spark.operators.dedup import (
        remove_repeated_spans_within_doc,
    )

    df = spark.createDataFrame(docs, "doc_id long, text string")
    return {
        r["doc_id"]: (r["text_clean"], r["n_tokens"], r["n_removed"])
        for r in remove_repeated_spans_within_doc(
            df, "text", "doc_id", n=n
        ).collect()
    }


def test_within_doc_repeated_span_keeps_first_copy(spark):
    chorus = "la la hey hey ho"
    docs = [
        (1, f"verse one text here {chorus} verse two body {chorus} end"),
        (2, "no internal repetition in this document at all ok"),
    ]
    got = _run_within(spark, docs)
    # first chorus survives, second excised
    assert got[1][0] == f"verse one text here {chorus} verse two body end"
    assert got[1][2] == 5
    assert got[2] == (docs[1][1], 9, 0)


def test_within_doc_run_collapses_to_one_copy(spark):
    got = _run_within(spark, [(1, "a a a a a a")], n=3)
    # overlap collapses to the first occurrence exactly, never less
    assert got[1] == ("a a a", 6, 3)


def test_within_equals_brute_force_on_seeded_random_corpus(spark):
    rng = random.Random(1031)
    vocab = [f"w{i}" for i in range(6)]
    docs = [
        (d, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 50))))
        for d in range(12)
    ]
    for n in (3, 4, 5):
        assert _run_within(spark, docs, n=n) == _brute_within(docs, n=n), (
            f"mismatch at n={n}"
        )


def test_hard_negative_pairs_contract(spark):
    """Hard negatives: (a) every pair IS an LSH candidate, (b) exact
    jaccard recomputed in python is below the ceiling and matches the
    surfaced value, (c) per-anchor cap and rank ordering hold."""
    from product_etl_spark.operators.dedup import (
        hard_negative_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    rng = random.Random(99)
    vocab = [f"w{i}" for i in range(9)]
    docs = [
        (d, " ".join(rng.choice(vocab) for _ in range(rng.randint(4, 28))))
        for d in range(40)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = hard_negative_pairs(df, "text", "doc_id").collect()
    assert got, "seeded corpus should produce hard negatives"

    cand = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(
            minhash_signatures(df, "text", "doc_id", k=8), "doc_id"
        ).collect()
    }

    def shingles(t):
        toks = t.lower().split()
        return {" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)}

    sh = {d: shingles(t) for d, t in docs}
    per_anchor: dict[int, list] = {}
    for r in got:
        a, b = r["id_a"], r["id_b"]
        assert (a, b) in cand, f"({a},{b}) not an LSH candidate"
        ni = len(sh[a] & sh[b])
        un = len(sh[a] | sh[b])
        assert 10 * ni < 3 * un, f"({a},{b}) jaccard above ceiling"
        assert abs(r["jaccard"] - round(ni / un, 4)) < 1e-9
        per_anchor.setdefault(a, []).append((r["rank"], r["jaccard"], b))
    for a, rows in per_anchor.items():
        rows.sort()
        assert [r[0] for r in rows] == list(range(1, len(rows) + 1))
        assert len(rows) <= 3
        # rank order == (jaccard asc, id_b asc)
        assert rows == sorted(rows, key=lambda x: (x[1], x[2]))
