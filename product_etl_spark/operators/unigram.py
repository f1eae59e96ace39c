"""Unigram-LM (SentencePiece-style) tokenizer: distributed candidate
harvesting + EM training + map-only Viterbi encoding — the sibling of
``operators/bpe.py`` (BPE alone is the 2020 recipe; most modern
training pipelines fit a unigram LM, Kudo 2018, "Subword
Regularization").

Division of labor mirrors BPE's (and SentencePiece's own): Spark does
the corpus-scale work — ONE groupBy word count over 100 TB, one
bounded substring-explode for the candidate inventory — and the EM
loop runs driver-side over the WORD-FREQUENCY dict (vocab-sized,
Zipf-bounded megabytes; SentencePiece trains from exactly such a
sample). Encoding distributes again: the learned (piece, logp) table
broadcasts to an Arrow-batched ``mapInPandas`` Viterbi with per-word
memoization.

Engine-exactness ladder (the q93/q142 treatment, applied to
tokenizers): the float EM trainer is NOT ANSI-expressible (iterative
forward-backward), so it is pytest-pinned on planted corpora; the
driver-hashed catalog row (q188) instead runs the INTEGER twin —
optimal min-piece segmentation over a corpus-learned piece inventory
(top-N substrings by integer count, ties piece-ascending, plus every
single character so segmentation always exists). Min piece count per
word is a unique integer (no tie-break needed at all), which a DuckDB
recursive-CTE breadth-first search reproduces bit-for-bit.

Reference parity note: the reference has no tokenizer (its text
stages are translation/OCR — utils/universal_translator.py); this
family is part of the training-data-pipeline extension the engine
adds beyond parity.
"""

from __future__ import annotations

import math
from collections import defaultdict
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from product_etl_spark.functions import text as T


def word_counts(df: DataFrame, text_col: str) -> DataFrame:
    """(word, n) over the corpus — the one corpus-scale shuffle
    (same tokenization as ``bpe.word_counts``: lowercased, split on
    ASCII whitespace)."""
    return (
        df.select(F.explode(T.tokens(F.lower(F.col(text_col)))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def candidate_pieces(
    df: DataFrame,
    text_col: str,
    min_len: int = 2,
    max_len: int = 4,
    top_n: int = 40,
) -> DataFrame:
    """(piece,) — the corpus-learned multi-char piece inventory: the
    ``top_n`` substrings of length ``min_len..max_len`` by total
    corpus occurrences (every position of every word occurrence),
    ties piece-ascending, UNIONed with every single character seen —
    so any word over the corpus alphabet is segmentable (the unigram
    invariant: characters are never pruned).

    Scale shape: word counts shuffle once; the substring explode runs
    over the DISTINCT-word dict weighted by count (vocab-sized, never
    corpus-sized); top-N is a single TakeOrdered. All integer
    arithmetic — the q188 oracle rebuilds the identical inventory.
    """
    wc = word_counts(df, text_col)
    subs = F.flatten(
        F.expr(
            f"transform(sequence({int(min_len)}, {int(max_len)}), "
            f"l -> IF(length(word) < l, array(), "
            f"transform(sequence(1, length(word) - l + 1), "
            f"i -> substring(word, i, l))))"
        )
    )
    top = (
        wc.select(F.col("n"), F.explode(subs).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("n").alias("pn"))
        .orderBy(F.col("pn").desc(), F.col("piece").asc())
        .limit(top_n)
        .select("piece")
    )
    chars = (
        wc.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(word)), "
                    "i -> substring(word, i, 1))"
                )
            ).alias("piece")
        )
        .distinct()
    )
    return top.unionByName(chars).distinct()


def min_pieces_costs(
    words: DataFrame,
    pieces: DataFrame,
    word_col: str = "word",
    piece_col: str = "piece",
    max_vocab_collect: int = 200_000,
) -> DataFrame:
    """(word, n_pieces) — OPTIMAL minimum-piece segmentation cost per
    word given a piece inventory (the integer Viterbi: dp[j] =
    1 + min over vocab pieces ending at j of dp[start]). This is the
    engine-exact twin the driver hashes (q188): min piece count is a
    unique integer, so no float and no tie-break exists to drift
    cross-engine. Words not segmentable over the inventory get NULL.

    Scale shape: the piece inventory is vocab-bounded (collected and
    broadcast — raises over ``max_vocab_collect`` rather than
    silently driver-OOMing, the loud-bound convention); the
    DP is a map-only Arrow-batched stage over the DISTINCT-word
    frame, memoized per batch, O(len x max_piece_len) per word.
    """
    import pandas as pd

    vocab_rows = pieces.select(piece_col).distinct().limit(
        max_vocab_collect + 1
    ).collect()
    if len(vocab_rows) > max_vocab_collect:
        raise ValueError(
            f"piece inventory exceeds max_vocab_collect="
            f"{max_vocab_collect}; this operator broadcasts the vocab"
        )
    vocab = {r[piece_col] for r in vocab_rows}
    max_len = max((len(p) for p in vocab), default=1)
    spark = words.sparkSession
    b_vocab = spark.sparkContext.broadcast((vocab, max_len))

    def run(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        voc, ml = b_vocab.value
        cache: dict[str, object] = {}

        def k_of(w: str):
            got = cache.get(w)
            if got is not None or w in cache:
                return got
            n = len(w)
            dp = [None] * (n + 1)
            dp[0] = 0
            for j in range(1, n + 1):
                best = None
                for i in range(max(0, j - ml), j):
                    if dp[i] is not None and w[i:j] in voc:
                        c = dp[i] + 1
                        if best is None or c < best:
                            best = c
                dp[j] = best
            cache[w] = dp[n]
            return dp[n]

        for pdf in it:
            yield pd.DataFrame(
                {
                    "word": pdf["_w"],
                    "n_pieces": pd.array(
                        [k_of(w) for w in pdf["_w"]], dtype="Int32"
                    ),
                }
            )

    out = words.select(F.col(word_col).alias("_w")).mapInPandas(
        run, schema="word string, n_pieces int"
    )
    return out.withColumnRenamed("word", word_col)


def _forward_backward(
    word: str, logp: dict[str, float], max_len: int
) -> tuple[float, dict[str, float]]:
    """Per-word E-step: (log Z, posterior expected count per piece)
    over the segmentation lattice. O(len x max_len)."""
    n = len(word)
    NEG = -math.inf
    alpha = [NEG] * (n + 1)
    alpha[0] = 0.0
    for j in range(1, n + 1):
        a = NEG
        for i in range(max(0, j - max_len), j):
            lp = logp.get(word[i:j])
            if lp is not None and alpha[i] != NEG:
                x = alpha[i] + lp
                a = x if a == NEG else (
                    max(a, x) + math.log1p(math.exp(-abs(a - x)))
                )
        alpha[j] = a
    z = alpha[n]
    exp: dict[str, float] = {}
    if z == NEG:
        return z, exp
    beta = [NEG] * (n + 1)
    beta[n] = 0.0
    for i in range(n - 1, -1, -1):
        b = NEG
        for j in range(i + 1, min(n, i + max_len) + 1):
            lp = logp.get(word[i:j])
            if lp is not None and beta[j] != NEG:
                x = lp + beta[j]
                b = x if b == NEG else (
                    max(b, x) + math.log1p(math.exp(-abs(b - x)))
                )
        beta[i] = b
    for i in range(n):
        if alpha[i] == NEG:
            continue
        for j in range(i + 1, min(n, i + max_len) + 1):
            piece = word[i:j]
            lp = logp.get(piece)
            if lp is not None and beta[j] != NEG:
                post = math.exp(alpha[i] + lp + beta[j] - z)
                exp[piece] = exp.get(piece, 0.0) + post
    return z, exp


def train_unigram(
    df: DataFrame,
    text_col: str,
    vocab_size: int = 200,
    max_piece_len: int = 4,
    seed_multiplier: int = 4,
    n_em_iters: int = 2,
    shrink: float = 0.75,
    min_count: int = 1,
    max_words: int | None = 1_000_000,
) -> list[tuple[str, float]]:
    """Learn a unigram-LM piece vocabulary (Kudo 2018): seed with the
    ``vocab_size * seed_multiplier`` most frequent substrings (plus
    all characters, never pruned), then alternate ``n_em_iters``
    EM sweeps (forward-backward expected counts over each word's
    segmentation lattice, weighted by corpus word frequency) with
    pruning to ``shrink`` of the current size until ``vocab_size``
    remains. Pruning drops the multi-char pieces with the LOWEST
    expected count (the standard low-utility approximation of
    SentencePiece's likelihood-loss rank; ties piece-ascending, so
    training is deterministic). Returns [(piece, logp)] sorted by
    (-logp, piece).

    Driver-memory bound like ``bpe.train_bpe``: only the word-count
    dict (``max_words``-capped after the ``min_count`` floor) is
    collected; EM cost is O(n_words x len x max_piece_len) per sweep,
    independent of corpus size.
    """
    from product_etl_spark.operators.bpe import word_counts as bpe_wc

    wdict = {
        r["word"]: r["n"]
        for r in bpe_wc(
            df, text_col, min_count=min_count, max_words=max_words
        ).collect()
    }
    if not wdict:
        return []
    # seed inventory: all substrings 1..max_piece_len weighted by
    # word frequency; chars are mandatory, multi-char capped
    seed_counts: dict[str, int] = defaultdict(int)
    for w, n in wdict.items():
        for ln in range(1, max_piece_len + 1):
            for i in range(0, len(w) - ln + 1):
                seed_counts[w[i : i + ln]] += n
    chars = {p for p in seed_counts if len(p) == 1}
    multi = sorted(
        (p for p in seed_counts if len(p) > 1),
        key=lambda p: (-seed_counts[p], p),
    )[: max(0, vocab_size * seed_multiplier - len(chars))]
    vocab = chars | set(multi)
    total = float(sum(seed_counts[p] for p in vocab))
    logp = {p: math.log(seed_counts[p] / total) for p in vocab}

    while True:
        for _ in range(n_em_iters):
            exp_total: dict[str, float] = defaultdict(float)
            for w, n in wdict.items():
                _, exp = _forward_backward(w, logp, max_piece_len)
                for p, c in exp.items():
                    exp_total[p] += n * c
            z = sum(exp_total.values())
            if z <= 0.0:
                break
            floor = math.log(1e-12)
            logp = {
                p: (
                    math.log(exp_total[p] / z)
                    if exp_total.get(p, 0.0) > 0.0
                    else floor
                )
                for p in vocab
            }
        n_multi = sum(1 for p in vocab if len(p) > 1)
        target_multi = max(0, vocab_size - len(chars))
        if n_multi <= target_multi:
            break
        keep_n = max(target_multi, int(n_multi * shrink))
        ranked = sorted(
            (p for p in vocab if len(p) > 1),
            key=lambda p: (-exp_total.get(p, 0.0), p),
        )
        vocab = chars | set(ranked[:keep_n])
        logp = {p: lp for p, lp in logp.items() if p in vocab}
    return sorted(logp.items(), key=lambda kv: (-kv[1], kv[0]))


def _viterbi_word(
    word: str, logp: dict[str, float], max_len: int, unk_logp: float
) -> list[str]:
    """Max-likelihood segmentation; unknown characters fall back to a
    single-char piece at ``unk_logp``. Deterministic: strictly-greater
    comparisons over a fixed scan order prefer the segmentation whose
    LAST piece starts earliest among equals."""
    n = len(word)
    best = [(-math.inf, -1)] * (n + 1)
    best[0] = (0.0, -1)
    for j in range(1, n + 1):
        bs, bi = -math.inf, -1
        for i in range(max(0, j - max_len), j):
            if best[i][0] == -math.inf:
                continue
            lp = logp.get(word[i:j])
            if lp is None and j - i == 1:
                lp = unk_logp
            if lp is None:
                continue
            s = best[i][0] + lp
            if s > bs:
                bs, bi = s, i
        best[j] = (bs, bi)
    out: list[str] = []
    j = n
    while j > 0:
        i = best[j][1]
        out.append(word[i:j])
        j = i
    out.reverse()
    return out


def encode_unigram(
    df: DataFrame,
    text_col: str,
    id_col: str,
    vocab: list[tuple[str, float]],
    unk_logp: float = math.log(1e-12),
) -> DataFrame:
    """(id, tokens array<string>, n_tokens) — Viterbi segmentation
    under the learned unigram LM, per word. Broadcast vocab +
    Arrow-batched ``mapInPandas`` with per-batch word memoization
    (the ``encode_bpe`` shape; same ASCII-whitespace tokenization the
    trainer used)."""
    import re

    import pandas as pd

    spark = df.sparkSession
    logp = dict(vocab)
    max_len = max((len(p) for p in logp), default=1)
    b = spark.sparkContext.broadcast((logp, max_len, unk_logp))
    _ws = re.compile(r"\s+", re.ASCII)

    def run(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        lp, ml, unk = b.value
        cache: dict[str, list[str]] = {}
        for pdf in it:
            toks_col, counts = [], []
            for text in pdf["_text"]:
                toks: list[str] = []
                for word in filter(None, _ws.split((text or "").lower())):
                    got = cache.get(word)
                    if got is None:
                        got = cache[word] = _viterbi_word(word, lp, ml, unk)
                    toks.extend(got)
                toks_col.append(toks)
                counts.append(len(toks))
            yield pd.DataFrame(
                {"_id": pdf["_id"], "tokens": toks_col, "n_tokens": counts}
            )

    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("_id", df.schema[id_col].dataType),
            StructField("tokens", ArrayType(StringType())),
            StructField("n_tokens", IntegerType()),
        ]
    )
    out = df.select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_text")
    ).mapInPandas(run, schema=out_schema)
    return out.select(F.col("_id").alias(id_col), "tokens", "n_tokens")


def em_expected_counts(
    words: DataFrame,
    vocab: list[tuple[str, float]],
    word_col: str = "word",
    count_col: str = "n",
) -> DataFrame:
    """(piece, exp_n) — ONE distributed E-step: per-word
    forward-backward posteriors (map-only, vocab broadcast, memoized
    per batch) weighted by the word-frequency column, partial-summed
    into a single groupBy(piece) shuffle bounded by the VOCAB size.
    This is the 100 TB EM shape for when even the distinct-word dict
    exceeds driver memory: ``train_unigram`` collects the dict and
    loops driver-side (SentencePiece's own regime — megabytes for
    real corpora); this twin keeps the dict distributed and moves
    only (piece, partial) rows, so the M-step collect is
    vocab-bounded regardless of corpus or dict size.
    pytest-pinned equal to the driver E-step on fixture corpora.
    """
    import pandas as pd

    logp = dict(vocab)
    max_len = max((len(p) for p in logp), default=1)
    spark = words.sparkSession
    b = spark.sparkContext.broadcast((logp, max_len))

    def run(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        lp, ml = b.value
        cache: dict[str, dict[str, float]] = {}
        for pdf in it:
            partial: dict[str, float] = defaultdict(float)
            for w, n in zip(pdf["_w"], pdf["_n"]):
                exp = cache.get(w)
                if exp is None:
                    _, exp = _forward_backward(w, lp, ml)
                    cache[w] = exp
                for p, c in exp.items():
                    partial[p] += float(n) * c
            items = sorted(partial.items())
            yield pd.DataFrame(
                {
                    "piece": [p for p, _ in items],
                    "exp_n": [c for _, c in items],
                }
            )

    return (
        words.select(
            F.col(word_col).alias("_w"), F.col(count_col).alias("_n")
        )
        .mapInPandas(run, schema="piece string, exp_n double")
        .groupBy("piece")
        .agg(F.sum("exp_n").alias("exp_n"))
    )
