"""Text-analysis expressions for training-data pipelines.

Language ID, quality scoring, token counting, shingling, and
fingerprinting — all as pure Catalyst expressions so they vectorize
over 100 TB of documents with zero Python in the hot path.

Hash discipline: every hash used for dedup/sketching is md5-based
(``hash64`` below) so results are engine-portable (the DuckDB oracle
computes the identical value as ``('0x'||substr(md5(x),1,15))::BIGINT``)
and stable across Spark versions — unlike ``xxhash64``, whose seed is
an implementation detail.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def hash64(col: Column | str) -> Column:
    """Portable 60-bit hash: first 15 hex chars of md5 as bigint."""
    return F.conv(F.substring(F.md5(_c(col)), 1, 15), 16, 10).cast("bigint")


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization -> array<string> (no empties)."""
    return F.filter(
        F.split(F.coalesce(_c(col), F.lit("")), r"\s+"), lambda t: t != ""
    )


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


#: The retrieval-term alphabet shared by q99 TF-IDF and BM25 (q117):
#: lowercased alphanumeric runs. Both the Spark expression and the
#: generated DuckDB oracles use this exact pattern — edit it HERE so
#: the two retrieval families cannot desynchronize.
TERM_RE = "[a-z0-9]+"


def index_terms(col: Column | str) -> Column:
    """Retrieval terms -> array<string>: lowercased ``TERM_RE`` runs
    (NULL-safe). Explode for (doc, term) aggregates."""
    return F.regexp_extract_all(
        F.lower(F.coalesce(_c(col), F.lit(""))), F.lit(TERM_RE), 0
    )


def bpe_ish_token_count(col: Column | str) -> Column:
    """Sub-word-ish token count: splits words from digits and
    punctuation runs, the usual cheap proxy for BPE token counts when
    no tokenizer model is shippable."""
    pieces = F.regexp_extract_all(
        F.coalesce(_c(col), F.lit("")),
        F.lit(r"[A-Za-z]+|[0-9]|[^\sA-Za-z0-9]"),
        0,
    )
    return F.size(pieces)


def char_ngrams(col: Column | str, n: int = 3) -> Column:
    """Character n-gram shingles (lowercased) -> array<string>.

    One regex pass: a zero-width lookahead with a capture yields every
    overlapping n-gram (a transform over positions would re-evaluate
    the lowercased string per position — interpreted HOFs don't CSE).
    """
    s = F.lower(F.coalesce(_c(col), F.lit("")))
    return F.regexp_extract_all(s, F.lit(f"(?s)(?=(.{{{n}}}))"), 1)


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles -> array<string> (space-joined).

    Array form for small/driver-side use; hot paths use the row-wise
    ``operators.dedup.exploded_shingles`` (this form re-tokenizes per
    expression reference — interpreted HOFs don't CSE)."""
    toks = tokens(col)
    return F.when(F.size(toks) < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - F.lit(n)),
            lambda i: F.concat_ws(" ", F.slice(toks, i + F.lit(1), n)),
        )
    )


# A tiny, fixed English stopword list — enough for a ratio feature;
# a real deployment would broadcast a fuller lexicon.
STOPWORDS = (
    "the a an and or of to in is are was were be been it this that "
    "for on with as at by from"
).split()


def _once(expr: Column, build) -> Column:
    """Evaluate ``expr`` exactly once and hand it to ``build``.

    Higher-order/regex expressions are CodegenFallback and are NOT
    common-subexpression-eliminated: every reference re-inlines the
    whole computation (the word_shingles/minhash comments document a
    measured ~8x penalty for re-inlined tokenizations). Wrapping the
    expression as the single element of a literal array and
    ``transform``-ing it makes every downstream reference read the
    lambda variable instead — one evaluation, N uses."""
    return F.get(F.transform(F.array(expr), build), 0)


def stopword_ratio(col: Column | str) -> Column:
    toks = tokens(F.lower(_c(col)))
    stop = F.filter(toks, lambda t: t.isin(*STOPWORDS))
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        F.size(stop) / F.size(toks)
    )


def punct_ratio(col: Column | str) -> Column:
    s = F.coalesce(_c(col), F.lit(""))
    # \p{L}\p{N}: unicode letters/digits — ASCII \w would count every
    # CJK character as punctuation
    n_punct = F.length(s) - F.length(
        F.regexp_replace(s, r"[^\p{L}\p{N}\s]", "")
    )
    return F.when(F.length(s) == 0, F.lit(0.0)).otherwise(
        n_punct / F.length(s)
    )


def mean_word_length(col: Column | str) -> Column:
    # one tokenization: fold (n, chars) in a single pass, then build
    # the ratio from the _once-captured struct
    stats = F.aggregate(
        tokens(col),
        F.struct(
            F.lit(0).cast("bigint").alias("n"),
            F.lit(0).cast("bigint").alias("chars"),
        ),
        lambda a, t: F.struct(
            (a["n"] + 1).alias("n"), (a["chars"] + F.length(t)).alias("chars")
        ),
    )
    return _once(
        stats,
        lambda st: F.when(st["n"] == 0, F.lit(0.0)).otherwise(
            st["chars"] / st["n"]
        ),
    )


def quality_score(col: Column | str) -> Column:
    """Composite [0,1] quality heuristic: penalize extreme shortness,
    high punctuation, and stopword-free (keyword-stuffed) text.

    One tokenization total (the lowered token array serves both the
    length score and the stopword ratio — whitespace splitting is
    case-insensitive, so the token COUNT matches the raw text's);
    punctuation is a regex pass with no tokenization."""
    stats = F.aggregate(
        tokens(F.lower(_c(col))),
        F.struct(
            F.lit(0).cast("bigint").alias("n"),
            F.lit(0).cast("bigint").alias("stop"),
        ),
        lambda a, t: F.struct(
            (a["n"] + 1).alias("n"),
            (a["stop"] + F.when(t.isin(*STOPWORDS), 1).otherwise(0)).alias(
                "stop"
            ),
        ),
    )
    punct_score = F.lit(1.0) - F.least(punct_ratio(col) * 4, F.lit(1.0))

    def build(st):
        len_score = F.least(
            st["n"].cast("double") / F.lit(20.0), F.lit(1.0)
        )
        stop_ratio = F.when(st["n"] == 0, F.lit(0.0)).otherwise(
            st["stop"] / st["n"]
        )
        stop_score = F.least(stop_ratio * 5, F.lit(1.0))
        return F.round((len_score + punct_score + stop_score) / 3, 4)

    return _once(stats, build)


#: Script-detection character classes for the n-gram-free language
#: heuristic: presence ratios of CJK / Cyrillic / Thai / Latin.
_SCRIPTS = {
    "cjk": r"[一-鿿]",
    "cyrillic": r"[Ѐ-ӿ]",
    "thai": r"[฀-๿]",
    "latin": r"[A-Za-z]",
}


def detect_script(col: Column | str) -> Column:
    """Best-effort language-family ID from character scripts.

    The reference's corpus is zh/en (machine-translated to en/ru/th —
    utils/universal_translator.py); script detection is the first
    stage of its language routing. Returns one of
    cjk|cyrillic|thai|latin|unknown.
    """
    # Highest-ratio script wins, threshold 0.3; on ties the earlier
    # entry in _SCRIPTS wins (priority encoded as the struct's second
    # field). One array_max over (count, priority) structs — a
    # when-cascade would nest each ratio expression into itself and
    # blow up exponentially (measured 2x slower at 4 scripts).
    # Comparing raw match counts (not ratios) needs the shared \S
    # total only ONCE, for the final threshold — 5 regex passes
    # instead of 8.
    names = list(_SCRIPTS)
    s = F.coalesce(_c(col), F.lit(""))
    candidates = F.array(
        *[
            F.struct(
                F.regexp_count(s, F.lit(_SCRIPTS[name])).alias("c"),
                F.lit(len(names) - i).alias("p"),
            )
            for i, name in enumerate(names)
        ]
    )
    best = F.array_max(candidates)
    name_expr = F.element_at(
        F.array(*[F.lit(n) for n in reversed(names)]), best["p"]
    )
    n = F.regexp_count(s, F.lit(r"\S"))
    return F.when(
        (n > 0) & (best["c"] / n >= 0.3), name_expr
    ).otherwise(F.lit("unknown"))


def gopher_quality_flags(col: Column | str) -> Column:
    """Gopher-style quality-filter battery (Rae et al. 2021, §A1.1):
    word-count bounds, mean-word-length bounds, symbol-to-word ratio,
    and the share of words containing an alphabetic character —
    returned as a struct of booleans plus the final keep decision.
    All pure expressions; at 100 TB this is a map-only scan. The
    text is tokenized exactly ONCE: a single fold collects
    (n, total chars, alpha words) and the _once wrapper keeps the
    fold from being re-inlined per flag (the previous shape paid
    four tokenizations per row)."""
    stats = F.aggregate(
        tokens(col),
        F.struct(
            F.lit(0).cast("bigint").alias("n"),
            F.lit(0).cast("bigint").alias("chars"),
            F.lit(0).cast("bigint").alias("alpha"),
        ),
        lambda a, t: F.struct(
            (a["n"] + 1).alias("n"),
            (a["chars"] + F.length(t)).alias("chars"),
            (a["alpha"] + F.when(t.rlike("[A-Za-z]"), 1).otherwise(0)).alias(
                "alpha"
            ),
        ),
    )
    s = F.coalesce(_c(col), F.lit(""))
    n_hash_ellipsis = F.regexp_count(s, F.lit(r"#|\.\.\.")).cast("double")

    def build(st):
        n_words = st["n"]
        mean_len = F.when(n_words == 0, F.lit(0.0)).otherwise(
            st["chars"] / n_words
        )
        symbol_ratio = F.when(n_words == 0, F.lit(1.0)).otherwise(
            n_hash_ellipsis / n_words
        )
        alpha_ratio = F.when(n_words == 0, F.lit(0.0)).otherwise(
            st["alpha"] / n_words
        )
        ok_words = (n_words >= 50) & (n_words <= 100_000)
        ok_mean = (mean_len >= 3.0) & (mean_len <= 10.0)
        ok_symbols = symbol_ratio <= 0.1
        ok_alpha = alpha_ratio >= 0.8
        return F.struct(
            ok_words.alias("ok_word_count"),
            ok_mean.alias("ok_mean_word_len"),
            ok_symbols.alias("ok_symbol_ratio"),
            ok_alpha.alias("ok_alpha_ratio"),
            (ok_words & ok_mean & ok_symbols & ok_alpha).alias("keep"),
        )

    return _once(stats, build)


def fingerprint(col: Column | str) -> Column:
    """Canonical document fingerprint: lowercase, collapse whitespace,
    strip punctuation, md5. Two documents differing only in case,
    spacing, or punctuation collide — the cheap first-pass dedup key.
    """
    canon = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.lower(F.coalesce(_c(col), F.lit(""))),
                # unicode letters/digits kept — ASCII \w would strip
                # CJK text entirely and collapse a zh corpus into one
                # fingerprint group
                r"[^\p{L}\p{N}\s]",
                "",
            ),
            r"\s+",
            " ",
        )
    )
    return F.md5(canon)


#: PII-ish patterns for redaction (emails, bare URLs, long digit runs
#: — the standard first-pass scrub for web-scraped training text).
REDACT_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "url": r"https?://[^\s]+",
    "digits": r"\b\d{7,}\b",
}


def redact_pii(col: Column | str) -> Column:
    """Mask emails/URLs/long digit runs with typed placeholders —
    pure regexp_replace chain, identical semantics in any engine."""
    out = F.coalesce(_c(col), F.lit(""))
    for name, pat in REDACT_PATTERNS.items():
        out = F.regexp_replace(out, pat, f"<{name.upper()}>")
    return out


def line_repetition_ratio(col: Column | str) -> Column:
    """Share of duplicate lines in a document (Gopher repetition
    filter family): 1 - distinct_lines/total_lines; 0 for <=1 line."""
    lines = F.filter(
        F.split(F.coalesce(_c(col), F.lit("")), r"\n"),
        lambda x: F.trim(x) != "",
    )
    n = F.size(lines)
    n_distinct = F.size(F.array_distinct(lines))
    return F.when(n <= 1, F.lit(0.0)).otherwise(
        F.round(F.lit(1.0) - n_distinct / n, 4)
    )


def dup_ngram_fraction(col: Column | str, n: int = 3) -> Column:
    """Duplicate word-n-gram fraction (Gopher/RefinedWeb repetition
    family, the n-gram rung above ``line_repetition_ratio``):
    1 - distinct_ngrams/total_ngrams; 0 for documents shorter than
    ``n`` words. High values flag boilerplate/templated text that
    survives line-level dedup (repeated phrases, SEO stuffing).

    FILTER-EXPRESSION form (map-only, case-sensitive): fine inside a
    one-shot predicate, but it references word_shingles THREE times
    and higher-order functions are interpreted with no CSE — measured
    6.8 s vs ~1.0 s at sf0.1 against the row-wise shape (explode +
    LEAD windows via operators.dedup.exploded_shingles + one doc-keyed
    count, codegen throughout). Hot paths use the exploded shape; see
    q144 (plans/catalog_ext9.py). Float policy: one integer division
    per row, ROUND(.,4) at the surface (engine-exact; both operands
    are integers)."""
    grams = word_shingles(col, n)
    total = F.size(grams)
    return F.when(total <= 0, F.lit(0.0)).otherwise(
        F.round(
            F.lit(1.0)
            - F.size(F.array_distinct(grams)).cast("double")
            / total.cast("double"),
            4,
        )
    )


def flesch_reading_ease(col: Column | str) -> Column:
    """Flesch reading-ease score from regex-countable proxies:
    sentences = [.!?]+ runs (min 1), words = whitespace tokens
    (min 1), syllables = [aeiouy]+ vowel groups over the whole text,
    floored at the word count (every word has >= 1 syllable — the
    standard cheap approximation). 206.835 - 1.015*(words/sentences)
    - 84.6*(syllables/words).

    Engine-exact: all three counts are integers; the two divisions
    and the affine combination run in ONE fixed IEEE order; ROUND(.,4)
    at the surface. Map-only — a pure projection, like the rest of
    the quality-heuristic family (quality_score, gopher_quality_flags
    feed the same curation filters)."""
    s = F.coalesce(_c(col), F.lit(""))
    n_words = F.greatest(token_count(s), F.lit(1)).cast("double")
    n_sents = F.greatest(
        F.size(F.regexp_extract_all(s, F.lit(r"[.!?]+"), 0)), F.lit(1)
    ).cast("double")
    vowel_groups = F.size(
        F.regexp_extract_all(F.lower(s), F.lit("[aeiouy]+"), 0)
    )
    n_syll = F.greatest(vowel_groups, token_count(s)).cast("double")
    return F.round(
        F.lit(206.835)
        - F.lit(1.015) * (n_words / n_sents)
        - F.lit(84.6) * (n_syll / n_words),
        4,
    )


#: Line-keep markers for the C4 battery: a line containing any of
#: these (case-insensitive) is boilerplate, not prose (Raffel et al.
#: 2020 §2.2 drops javascript/cookie notices and code-ish lines).
C4_LINE_MARKERS = ("javascript", "cookie", "{")

#: Terminal punctuation a kept line must end with (after trim).
C4_TERMINAL_PUNCT_RE = '[.!?"]$'


def c4_line_filters(
    col: Column | str,
    min_words: int = 3,
    markers: tuple[str, ...] = C4_LINE_MARKERS,
) -> Column:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2, the
    rung between HTML extraction — operators/html_text — and the
    document-level Gopher battery): keep only lines that (a) hold at
    least ``min_words`` whitespace words, (b) end in terminal
    punctuation, and (c) contain none of the boilerplate
    ``markers``. Returns a struct ``(text, n_lines_kept, n_lines)``
    — the reassembled kept lines plus the audit counts.

    Pure higher-order expressions over the line array — map-only
    codegen-adjacent, zero shuffles, cost bounded by the scan; at
    100 TB this composes with html_to_text into one map stage."""
    lines = F.split(F.coalesce(_c(col), F.lit("")), "\n")

    def keep(ln: Column) -> Column:
        t = F.trim(ln)
        wc = F.size(F.filter(F.split(t, r"\s+"), lambda x: x != ""))
        cond = (wc >= min_words) & t.rlike(C4_TERMINAL_PUNCT_RE)
        for m in markers:
            cond = cond & ~F.contains(F.lower(t), F.lit(m))
        return cond

    kept = F.filter(lines, keep)
    return F.struct(
        # explicit unary lambda: bare F.trim has an optional second
        # parameter, which F.transform would bind to the ELEMENT INDEX
        # (arity-based dispatch) — silently trimming nothing
        F.array_join(
            F.transform(kept, lambda x: F.trim(x)), "\n"
        ).alias("text"),
        F.size(kept).cast("bigint").alias("n_lines_kept"),
        F.size(lines).cast("bigint").alias("n_lines"),
    )


def c4_document_filters(col: Column | str) -> Column:
    """C4-style DOCUMENT-level flags (Raffel et al. 2020 §2.2), the
    companion of ``c4_line_filters``: sentence count (terminal
    punctuation occurrences), the 'lorem ipsum' placeholder flag,
    the curly-brace code flag, and the composite keep decision
    (>= 3 sentences, no placeholder, no brace). Returns a struct
    ``(n_sentences, has_lorem_ipsum, has_curly_brace, keep)``.

    Pure expressions — map-only, composes with html_to_text +
    c4_line_filters into one scan-bounded stage."""
    s = F.coalesce(_c(col), F.lit(""))
    low = F.lower(s)
    n_sent = F.regexp_count(s, F.lit(r"[.!?]")).cast("bigint")
    lorem = F.contains(low, F.lit("lorem ipsum"))
    brace = F.contains(s, F.lit("{"))
    return F.struct(
        n_sent.alias("n_sentences"),
        lorem.alias("has_lorem_ipsum"),
        brace.alias("has_curly_brace"),
        ((n_sent >= 3) & ~lorem & ~brace).alias("keep"),
    )
