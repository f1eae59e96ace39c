"""Deterministic sampling for training-data pipelines.

``df.sample()`` is seed-dependent per partitioning and not
reproducible across engines or re-partitions; every operator here
selects by **content hash** instead, so the same row is always in
the same split — across reruns, engines (the DuckDB oracle computes
identical picks), and cluster layouts. That property is what makes
train/test splits auditable and dedupe-then-sample pipelines
rerun-stable at 100 TB.

All selections are md5-based (functions/text.hash64).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from product_etl_spark.functions import text as T


def _bucket(key: Column, n: int = 10_000, seed: int = 0) -> Column:
    """Uniform deterministic bucket in [0, n) from a key column.

    NULL keys coalesce to a sentinel before hashing, so selection is
    EXHAUSTIVE — a NULL hash would silently exclude the row from
    every split (neither train nor test), breaking the disjoint+
    exhaustive contract. ``seed=0`` is the oracle-mirrored default;
    pass a DIFFERENT seed per pipeline stage when composing two
    threshold samplers on the same key — two seed-0 stages share one
    bucket assignment, so their selections NEST (intersection = the
    smaller fraction, or empty for a split-then-sample chain) instead
    of being independent."""
    k = F.coalesce(key.cast("string"), F.lit("\x1f<null-key>"))
    if seed:
        k = F.concat(k, F.lit(f"\x1fseed={seed}"))
    return T.hash64(k) % n


def _threshold(fraction: float, buckets: int) -> int:
    """round(), not int(): IEEE gives 0.29 * 10000 = 2899.99…95, and
    truncation would under-sample a whole bucket for such fractions
    (identical to int() for every exactly-representable product, so
    the oracle-mirrored catalog thresholds are unchanged)."""
    return int(round(fraction * buckets))


def deterministic_sample(
    df: DataFrame, key_col: str, fraction: float, buckets: int = 10_000,
    seed: int = 0,
) -> DataFrame:
    """Keep ~``fraction`` of rows, chosen by key hash — reproducible
    anywhere, stable under repartitioning, and consistent across
    tables sharing the key (sampling orders and lineitem at the same
    fraction keeps them join-consistent). ``seed``: see ``_bucket``
    (decorrelates stages sampling on the same key)."""
    threshold = _threshold(fraction, buckets)
    return df.filter(_bucket(F.col(key_col), buckets, seed) < threshold)


def train_test_split(
    df: DataFrame, key_col: str, test_fraction: float = 0.1, buckets: int = 10_000,
    seed: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """(train, test) with disjoint, exhaustive, hash-stable membership
    (NULL keys land in train via the _bucket sentinel — exhaustive
    means exhaustive)."""
    threshold = _threshold(test_fraction, buckets)
    b = _bucket(F.col(key_col), buckets, seed)
    return df.filter(b >= threshold), df.filter(b < threshold)


def stratified_cap(
    df: DataFrame, strata_cols: list[str], cap: int, order_col: str
) -> DataFrame:
    """At most ``cap`` rows per stratum, picked in deterministic
    ``order_col`` order (window row_number — the balanced-subset
    primitive for class-skewed corpora)."""
    w = Window.partitionBy(*strata_cols).orderBy(order_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )


def mix_sources(
    df: DataFrame,
    source_col: str,
    key_col: str,
    weights: dict[str, float],
    buckets: int = 10_000,
    seed: int = 0,
) -> DataFrame:
    """Data mixing: keep a per-source deterministic fraction
    (source -> weight in [0,1]); unlisted sources drop. The standard
    'mixture recipe' step of a pretraining pipeline, rerun-stable.
    A ``None`` key in ``weights`` addresses the NULL-source group
    (which ``temperature_weights`` emits when source_col has NULLs —
    ``col == None`` would never match it)."""
    expr = None
    b = _bucket(F.col(key_col), buckets, seed)
    for source, w in weights.items():
        src = (
            F.col(source_col).isNull()
            if source is None
            else (F.col(source_col) == source)
        )
        cond = src & (b < _threshold(w, buckets))
        expr = cond if expr is None else (expr | cond)
    return df.filter(expr if expr is not None else F.lit(False))


def temperature_weights(
    df: DataFrame,
    source_col: str,
    alpha: float = 0.5,
    target_fraction: float = 0.5,
    weight_col: str | None = None,
) -> dict[str, float]:
    """Derive the per-source keep fractions for ``mix_sources`` from
    temperature-based sampling (the multilingual/pretraining mixing
    rule: sampling probability p_s ∝ n_s^alpha). alpha=1 keeps the
    natural distribution (every source keeps ``target_fraction``);
    alpha<1 up-weights rare sources at the expense of dominant ones.

    keep_s = min(1, target * p_s / n_s) with target =
    ``target_fraction`` × corpus size — the single-pass realization
    (probability mass a capped source can't absorb is NOT
    redistributed; iterate externally if exact budget matters).
    ``weight_col`` sizes sources by a column sum (e.g. n_tokens)
    instead of row counts. One aggregation + a source-cardinality
    collect (dimension-sized)."""
    agg = (
        F.sum(weight_col) if weight_col else F.count(F.lit(1))
    ).alias("_n")
    counts = {
        r[source_col]: float(r["_n"] or 0)  # all-NULL weight_col -> 0
        for r in df.groupBy(source_col).agg(agg).collect()
    }
    total = sum(counts.values())
    if not total:
        return {s: 0.0 for s in counts}
    mass = {s: n**alpha if n > 0 else 0.0 for s, n in counts.items()}
    z = sum(mass.values())
    target = target_fraction * total
    # a zero-mass source (0 rows of weight) keeps nothing — and must
    # not divide by its own zero count
    return {
        s: 0.0 if not counts[s]
        else round(min(1.0, target * (mass[s] / z) / counts[s]), 6)
        for s in counts
    }


def weighted_sample(
    df: DataFrame, key_col: str, weight_col: str, fraction_num: int, fraction_den: int
) -> DataFrame:
    """Deterministic weighted Bernoulli sample: row i is kept with
    probability min(1, f · w_i / mean_w) where f = num/den — i.e.
    inclusion probability proportional to an integer weight column
    (tokens, chars, bytes), expected kept fraction ≈ f.

    Fully deterministic AND engine-portable: the keep test is the
    integer inequality

        u_i · den · Σw  <  2^60 · num · w_i · N

    evaluated in DECIMAL(38,0) (exact in Spark decimals and DuckDB
    HUGEINT alike), with u_i the md5-derived 60-bit uniform of the
    key. No float division exists, so no rounding boundary can flip
    membership between engines or reruns.

    Scale shape: one scalar aggregate (Σw, N — a single collected
    row, like temperature_weights), then a map-only filter with the
    reduced constants inlined as literals — no shuffle of the data
    itself, no join at all.

    Overflow safety: both constant sides are reduced by their gcd
    driver-side, and the remaining headroom is checked against the
    DECIMAL(38,0) ceiling — an envelope the reduced u·A term could
    still exceed (den·Σw beyond ~8.6e19 after reduction) raises a
    clear error instead of overflowing (ANSI) or silently dropping
    every row (non-ANSI).
    """
    import math

    row = df.agg(
        # decimal sum: a bigint sum of huge weights would overflow
        # LONG before the envelope guard below ever sees it
        F.sum(F.col(weight_col).cast("decimal(38,0)")).alias("_sum_w"),
        F.count(F.lit(1)).alias("_n_rows"),
        F.max(F.col(weight_col)).alias("_max_w"),
    ).first()
    sum_w, n_rows, max_w = int(row[0] or 0), int(row[1]), int(row[2] or 0)
    if not sum_w:
        return df.filter(F.lit(False))
    # keep iff u·den·Σw < 2^60·num·w·N  ⇔  u·A < B·w with the gcd out
    a_raw, b_raw = fraction_den * sum_w, (2**60) * fraction_num * n_rows
    g = math.gcd(a_raw, b_raw)
    a, b = a_raw // g, b_raw // g
    if (2**60) * a >= 10**38 or b * max_w >= 10**38:
        raise ValueError(
            "weighted_sample keep-test exceeds DECIMAL(38,0): reduce "
            f"fraction_den or pre-scale {weight_col} (den*sum_w={a_raw:.3g})"
        )
    u = T.hash64(F.col(key_col).cast("string")).cast("decimal(38,0)")
    lhs = u * F.lit(str(a)).cast("decimal(38,0)")
    rhs = F.lit(str(b)).cast("decimal(38,0)") * F.col(weight_col).cast(
        "decimal(38,0)"
    )
    return df.filter(lhs < rhs)


def shuffle_deterministic(
    df: DataFrame, key_col: str, seed: int = 0, num_partitions: int | None = None
) -> DataFrame:
    """Reproducible global shuffle for training-data ordering.

    Every training run wants the corpus in a pseudorandom order that
    is (a) decorrelated from ingest/curation order, (b) identical
    across reruns and cluster layouts, and (c) cheap at 100 TB. The
    obvious ``orderBy(rand())`` fails all three: rand() is
    partitioning-dependent, and a full global sort funnels range
    boundaries through a driver-side sample of the *whole* dataset
    every run.

    This implements the standard scalable recipe: order by a
    content-derived 64-bit hash of the key (seeded, so epochs can use
    seed=epoch for distinct orders) via ``repartitionByRange`` on the
    hash + ``sortWithinPartitions``. Rows land range-partitioned by
    hash and sorted inside each partition, so partition 0's rows all
    precede partition 1's in hash order — a total deterministic
    pseudorandom order when read back part-file by part-file, with
    only a range Exchange (no single reduce task, unlike a LIMIT'd
    global sort) and the per-partition sort spillable.

    The (hash, key) composite makes the order total even under hash
    collisions — PROVIDED ``key_col`` is unique per row (the usual
    doc-id contract). Distinct rows sharing a key value sort equal
    and their relative order is layout-dependent; include a
    discriminator in the key if duplicates are possible.
    """
    h = (T.hash64(F.concat_ws("\x1f", F.lit(str(seed)), F.col(key_col)
                              .cast("string")))).alias("_shuffle_key")
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    return (
        df.withColumn("_shuffle_key", h)
        .repartitionByRange(n, F.col("_shuffle_key"), F.col(key_col))
        .sortWithinPartitions("_shuffle_key", key_col)
        .drop("_shuffle_key")
    )


def leakage_safe_split(
    df: DataFrame,
    text_col: str,
    key_col: str,
    test_fraction: float = 0.1,
    jaccard_threshold: float = 0.8,
    k: int = 8,
    buckets: int = 10_000,
) -> tuple["DataFrame", "DataFrame"]:
    """(train, test) split with NEAR-DUPLICATE LEAKAGE removed: any
    train document that is a near-duplicate of a test document is
    dropped from train.

    A hash split alone leaves eval contamination in place — a
    near-copy of a test doc sitting in train inflates every metric
    (the within-corpus twin of benchmark decontamination, and the
    reason published pipelines dedup BEFORE splitting or scrub
    across the boundary after). This runs the MinHash-LSH candidate +
    exact-Jaccard-verify machinery from ``operators/dedup`` once over
    the corpus and drops the train side of every confirmed
    cross-split pair. Test is never modified (its membership stays
    hash-stable and reproducible); train shrinks by the leaked docs.

    Scale shape: one signature pass + banded LSH join + candidate-
    restricted verification (never all-pairs), then an anti-join —
    all shapes already proven at corpus scale by q31-q33.
    """
    from product_etl_spark.operators import dedup as D

    train, test = train_test_split(df, key_col, test_fraction, buckets)
    # the SAME membership predicate train_test_split uses — via the
    # shared _bucket/_threshold helpers, so the boundary cannot drift
    # between the split and the cross-split scrub
    threshold = _threshold(test_fraction, buckets)
    is_test = lambda c: _bucket(c, buckets) < threshold  # noqa: E731
    sig = D.minhash_signatures(df, text_col, key_col, k=k)
    cand = D.lsh_candidate_pairs(sig, key_col, bands=k // 2, rows_per_band=2)
    # Only CROSS-split pairs matter, and split membership is a pure
    # hash of the id — filter candidates BEFORE the expensive
    # shingle-intersection verification (at test_fraction=0.1, ~82%
    # of candidates are same-side and would be verified for nothing).
    cand = cand.filter(is_test(F.col("id_a")) != is_test(F.col("id_b")))
    confirmed = D.jaccard_pairs(
        df, text_col, key_col, threshold=jaccard_threshold, candidates=cand
    )
    leaked = (
        confirmed.select(
            F.when(is_test(F.col("id_b")), F.col("id_a"))
            .otherwise(F.col("id_b")).alias(key_col)
        )
        .distinct()
    )
    return train.join(leaked, key_col, "leftanti"), test


def balanced_shards(
    df: DataFrame,
    weight_col: str,
    id_col: str,
    n_shards: int,
) -> DataFrame:
    """Deterministic balanced shard assignment for training-data
    manifests: documents are laid out in GLOBAL weight-descending
    order (token counts, byte sizes — tie-broken by ``id_col``) and
    dealt to ``n_shards`` in SNAKE (boustrophedon) order — pass 0
    deals shards 0..n-1, pass 1 deals n-1..0, and so on; the trailing
    PARTIAL pass always deals forward (see ``_snake_slot`` — the rule
    that keeps the incremental twin's per-append bound). This is the
    distributable greedy approximation of longest-processing-time
    bin packing: each full double-pass gives every shard exactly one
    heavy-half and one light-half item, so the max-min shard-total
    spread stays within TWICE the largest single weight (the tested
    guarantee — test_scale_ops' adversarial property; a one-giant-item
    corpus shows a within-ONE-max-item claim is not generally
    achievable, ADVICE r13), and is far tighter on realistic
    heavy-tailed length distributions — where naive modulo
    round-robin systematically overloads shard 0 with every pass's
    largest item.

    The reference pipeline (pandas row loops) has no sharding at
    all; this extends the packing/split family (q61 train_test_split,
    q66 context_packing, q118 chunking) with the "write N balanced
    training shards" manifest step every 100 TB run needs.

    Returns ``df``'s rows plus ``shard`` (int, 0-based). Purely
    deterministic: same corpus, same assignment, any engine.

    Scale shape: ONE two-level global rank
    (linkage.global_sort_ranks — repartitionByRange + per-partition
    windows + k-bounded offset collect; never a single-task global
    window) plus pure expressions. No shuffle beyond the rank's
    range partition; the output is input-sized."""
    if n_shards < 1:
        raise ValueError(f"balanced_shards: need n_shards >= 1, got {n_shards}")
    from product_etl_spark.operators.linkage import (
        global_sort_ranks_counted,
    )

    ranked, n_rows = global_sort_ranks_counted(
        df.withColumn("_negw", -F.col(weight_col).cast("double")),
        ["_negw", id_col],
        "_grank",
    )
    return ranked.withColumn(
        "shard", _snake_slot(n_shards, n_rows).cast("int")
    ).drop("_negw", "_grank")


def _snake_slot(n_shards: int, n_rows: int):
    """Slot expression for the snake deal over a global 1-based rank
    ``_grank`` of ``n_rows`` items into ``n_shards`` slots: full
    passes alternate direction (boustrophedon — each double-pass
    gives every slot one heavy-half and one light-half item); the
    trailing PARTIAL pass always deals FORWARD (slots 0..m-1, the
    lightest-first end). A reversed partial pass would hand its
    extra items to the HEAVIEST end — harmless once, but under
    repeated appends of odd-tail batches (append_balanced_shards)
    the drift compounds without bound, breaching the 2x-max-weight
    spread contract (r14 review finding; regression-pinned in
    tests/test_sampling.py)."""
    idx = (F.col("_grank") - 1) % n_shards
    snake_pass = F.floor((F.col("_grank") - 1) / n_shards)
    partial_start = (n_rows // n_shards) * n_shards
    return (
        F.when(F.col("_grank") > F.lit(partial_start), idx)
        .when(snake_pass % 2 == 0, idx)
        .otherwise(F.lit(n_shards - 1) - idx)
    )


def shard_weight_totals(assigned: DataFrame, weight_col: str) -> DataFrame:
    """Per-shard weight totals of a shard-assigned frame — the
    n_shards-bounded state ``append_balanced_shards`` folds over.
    One map-side-combined groupBy; output is n_shards rows."""
    return assigned.groupBy("shard").agg(
        F.sum(F.col(weight_col).cast("double")).alias("total_weight")
    )


def append_balanced_shards(
    df: DataFrame,
    weight_col: str,
    id_col: str,
    n_shards: int,
    shard_totals: DataFrame | None = None,
) -> DataFrame:
    """Incremental twin of ``balanced_shards`` (r13 verdict item 5):
    deal a NEW batch into EXISTING shard manifests keeping totals
    balanced — the batch's weight-descending snake order is dealt
    into the shards ordered CURRENT-LIGHTEST-FIRST, so each pass
    hands the heaviest remaining documents to the lightest shards;
    the trailing partial pass deals forward (``_snake_slot`` — a
    reversed partial would feed the heaviest shards and compound
    without bound over repeated odd-tail appends).
    ``shard_totals`` is the (shard, total_weight) state from prior
    appends (``shard_weight_totals``; n_shards rows — the only
    driver-side piece, a k-bounded collect); ``None`` means empty
    manifests, where the lightest-first order is the identity and
    the assignment EQUALS ``balanced_shards`` on the batch
    (pytest-pinned).

    Balance contract (pytest-pinned over K appends on adversarial
    shapes): after every append the max-min shard-total spread stays
    within twice the largest single weight ingested so far — the
    same tested bound as the batch operator, and far tighter on
    realistic heavy-tailed corpora.

    Scale shape: ONE two-level global rank over the BATCH
    (linkage.global_sort_ranks), pure integer snake arithmetic, and
    an n_shards-bounded literal array lookup for the lightest-first
    permutation. History is never read — the state is n_shards rows.

    Deletion posture (r14 verdict item 5): after rows are anti-joined
    out of the manifests, totals recomputed with ``shard_weight_totals``
    are EXACT again, but the balance contract above restarts from the
    post-deletion spread — the snake's direction alternation cancels
    within-pass bias by design, so appends bound the spread at
    (post-deletion spread + 2x max weight) rather than healing the
    hole. Light deletion therefore just rides along; after HEAVY
    deletion, re-deal the remaining corpus with ``balanced_shards``
    (one batch pass) to restore the 2x bound."""
    if n_shards < 1:
        raise ValueError(
            f"append_balanced_shards: need n_shards >= 1, got {n_shards}"
        )
    from product_etl_spark.operators.linkage import (
        global_sort_ranks_counted,
    )

    if shard_totals is None:
        order = list(range(n_shards))
    else:
        rows = shard_totals.collect()  # n_shards-bounded by contract
        totals = {int(r["shard"]): float(r["total_weight"] or 0.0) for r in rows}
        bad = [s for s in totals if not (0 <= s < n_shards)]
        if bad:
            raise ValueError(
                f"append_balanced_shards: shard_totals names shards {bad} "
                f"outside 0..{n_shards - 1}"
            )
        order = sorted(range(n_shards), key=lambda s: (totals.get(s, 0.0), s))
    ranked, n_rows = global_sort_ranks_counted(
        df.withColumn("_negw", -F.col(weight_col).cast("double")),
        ["_negw", id_col],
        "_grank",
    )
    slot = _snake_slot(n_shards, n_rows)
    perm = F.array(*[F.lit(s) for s in order])
    return ranked.withColumn(
        "shard", F.element_at(perm, (slot + 1).cast("int")).cast("int")
    ).drop("_negw", "_grank")


def curriculum_interleave(
    df: DataFrame,
    source_col: str,
    difficulty_col: str,
    id_col: str,
) -> DataFrame:
    """Deterministic curriculum training order with source
    interleaving: within each source, documents are ranked
    easy-first (``difficulty_col`` ascending, ``id_col`` tie-break);
    the global order cycles the sources round-robin so every
    training window sees every source — ``curriculum_key =
    (rank_in_source - 1) * n_sources + source_index`` is a SORT KEY
    (strictly increasing along the intended order; not dense once
    the smallest source exhausts), returned as a new column.

    The standard pretraining schedule combo (curriculum ordering x
    mixture interleaving) the sampling family lacked: mix_sources
    decides WHAT stays, balanced_shards decides WHERE it lives,
    this decides WHEN it is seen.

    Scale shape: one vocabulary-sized distinct + counted rank for
    the source index (linkage.global_sort_ranks_counted — its
    offsets collect supplies n_sources for free), one SEGMENTED
    two-level prefix sum of 1s over the per-source
    (difficulty, id) struct order (suffixes._segmented_prefix_sum —
    a source with any number of documents is never a single window
    task), and one vocabulary-sized equi-join back. Pure integer
    arithmetic after that; no global window, no corpus-sized
    collect.

    NULL contract (r14 ADVICE): rows with a NULL ``source_col`` are
    DROPPED explicitly up front — the same stance as
    rank_sum_test/spearman_corr. Before this filter they were
    dropped anyway by the null-unsafe equi-join back, but a NULL
    source additionally inflated ``n_sources`` by one, silently
    shifting every row's curriculum_key; now neither happens."""
    from product_etl_spark.operators.linkage import (
        global_sort_ranks_counted,
    )
    from product_etl_spark.operators.suffixes import _segmented_prefix_sum

    df = df.filter(F.col(source_col).isNotNull())
    srcs = df.select(F.col(source_col)).distinct()
    sr, n_sources = global_sort_ranks_counted(srcs, [source_col], "_sidx")
    base = df.withColumn("_one", F.lit(1)).withColumn(
        "_ord",
        F.struct(
            F.col(difficulty_col).alias("d"), F.col(id_col).alias("i")
        ),
    )
    ranked = _segmented_prefix_sum(base, [source_col], "_ord", "_one", "_srank")
    return (
        ranked.join(sr, source_col)
        .withColumn(
            "curriculum_key",
            (
                (F.col("_srank") - 1) * F.lit(n_sources)
                + (F.col("_sidx") - 1)
            ).cast("bigint"),
        )
        .drop("_one", "_ord", "_srank", "_sidx")
    )


def token_budget_select(
    df: DataFrame,
    weight_col: str,
    order_cols: list[str],
    budget: int,
) -> DataFrame:
    """Greedy best-first data-budget selection: keep the
    ``order_cols``-ascending prefix of the corpus whose cumulative
    ``weight_col`` stays within ``budget`` — "the best N tokens",
    the step between scoring (quality/importance families) and
    packing. A document is kept iff its INCLUSIVE cumulative weight
    fits, so the boundary document that would overflow the budget is
    dropped (deterministic; no partial documents). ``order_cols``
    must be a total order (tie-break with the id) or membership is
    nondeterministic. Returns the kept rows plus ``cum_weight``
    (DECIMAL(38,6) — weights are accumulated as exact decimals at
    6-fractional-digit precision, so fractional weights neither
    truncate nor float-drift; r14 review finding).

    Scale shape: ONE distributed prefix sum over the total order
    (suffixes._prefix_sum on a struct sort key —
    repartitionByRange + per-partition windows + #partitions-bounded
    offset collect; never the single-task SUM() OVER (ORDER BY)
    cliff the oracle is allowed), one filter. History-free,
    input-sized, no corpus collect."""
    from product_etl_spark.operators.suffixes import _prefix_sum

    if budget < 0:
        raise ValueError(f"token_budget_select: budget must be >= 0, got {budget}")
    base = df.withColumn(
        "_ord",
        F.struct(*[F.col(c).alias(f"o{i}") for i, c in enumerate(order_cols)]),
    ).withColumn("_w", F.col(weight_col).cast("decimal(27,6)"))
    c = _prefix_sum(base, "_ord", "_w", "cum_weight", out_cast="decimal(38,6)")
    return c.filter(F.col("cum_weight") <= F.lit(budget)).drop("_ord", "_w")


def append_token_budget_select(
    df: DataFrame,
    weight_col: str,
    order_cols: list[str],
    budget: int,
    state: tuple | None = None,
) -> tuple[DataFrame, tuple]:
    """Incremental twin of ``token_budget_select`` (r14 verdict item
    6, the q226/q218 pattern): consume a NEW order-aligned batch
    against a remaining-budget state so the selection extends
    without re-scanning accepted documents. Returns
    ``(selected, new_state)``; ``selected`` carries the same
    ``cum_weight`` surface as the one-shot operator (the GLOBAL
    inclusive cumulative weight, DECIMAL(38,6)), and folding batches
    through this function equals ``token_budget_select`` on the
    union EXACTLY (pytest-pinned, including the boundary document
    and everything after it).

    ``state`` is ``(spent, hwm)`` — ``spent`` the Decimal total
    weight of ALL rows seen so far (kept AND dropped: the one-shot
    cumulative includes overflow rows, so the fold must too) and
    ``hwm`` the tuple high-water mark of the order key; ``None``
    means nothing seen (the fold's identity, where the append EQUALS
    the one-shot on the batch). Both are O(1) driver values — the
    n_shards-rows-of-state discipline of ``append_balanced_shards``.

    Order-aligned contract (validated LOUDLY, one count job): every
    batch row's ``order_cols`` key must be STRICTLY ABOVE ``hwm`` —
    the greedy prefix is only foldable when batches arrive in
    nondecreasing total order (an out-of-order document would
    rewrite history one-shot never saw). ``order_cols`` must be a
    total order (tie-break with the id), which also makes cross-
    batch key equality a violation, not a tie.

    Scale shape: ONE two-level prefix sum over the BATCH plus a
    1-row aggregate for the new state; history is never re-read."""
    from product_etl_spark.operators.suffixes import _prefix_sum

    if budget < 0:
        raise ValueError(
            f"append_token_budget_select: budget must be >= 0, got {budget}"
        )
    import decimal

    spent, hwm = state if state is not None else (decimal.Decimal(0), None)
    base = df.withColumn(
        "_ord",
        F.struct(*[F.col(c).alias(f"o{i}") for i, c in enumerate(order_cols)]),
    ).withColumn("_w", F.col(weight_col).cast("decimal(27,6)"))
    if hwm is not None:
        hwm_lit = F.struct(
            *[
                F.lit(v).cast(df.schema[c].dataType).alias(f"o{i}")
                for i, (c, v) in enumerate(zip(order_cols, hwm))
            ]
        )
        n_bad = base.filter(F.col("_ord") <= hwm_lit).limit(1).count()
        if n_bad:
            raise ValueError(
                "append_token_budget_select: batch contains rows at or "
                f"below the state's order high-water mark {hwm!r} — "
                "batches must arrive order-aligned (strictly above the "
                "previous batch's max key) for the greedy prefix to fold"
            )
    stats = base.agg(
        F.sum("_w").alias("_tw"), F.max("_ord").alias("_mx")
    ).collect()[0]
    if stats["_tw"] is None:  # empty batch: identity
        return (
            base.withColumn(
                "cum_weight", F.lit(None).cast("decimal(38,6)")
            ).drop("_ord", "_w"),
            (spent, hwm),
        )
    c = _prefix_sum(base, "_ord", "_w", "cum_weight", out_cast="decimal(38,6)")
    c = c.withColumn(
        "cum_weight",
        (F.col("cum_weight") + F.lit(spent).cast("decimal(38,6)")).cast(
            "decimal(38,6)"
        ),
    )
    new_state = (
        spent + decimal.Decimal(stats["_tw"]),
        tuple(stats["_mx"]),
    )
    return (
        c.filter(F.col("cum_weight") <= F.lit(budget)).drop("_ord", "_w"),
        new_state,
    )


def stratified_quota_backfill(
    df: DataFrame,
    group_col: str,
    order_cols: list[str],
    cap: int,
) -> DataFrame:
    """Per-group quota sampling with BACKFILL: every group keeps at
    most ``cap`` rows (picked in deterministic ``order_cols``
    ascending order), and the budget that under-full groups leave
    unused is redistributed to the over-full groups — ``floor``
    share each, the remainder dealt one-each to the first over-full
    groups in group-key order. The total kept thus stays at
    ``min(n_rows, cap * n_groups)`` instead of silently shrinking
    whenever domains are skewed — the flaw of a plain stratified cap
    (q62) as a corpus BUDGET tool. One redistribution round only:
    backfill a group cannot absorb is forfeited (documented, and the
    common case — a single dominant domain — absorbs everything).

    ``order_cols`` must totally order rows within a group (tie-break
    with the id) or membership is nondeterministic.

    Scale shape: group counts are one map-side-combined groupBy; the
    unused-budget aggregate is ONE row; over-group ranks come from
    the two-level global_sort_ranks over the GROUP-cardinality
    frame; per-row in-group ranks come from the segmented two-level
    prefix sum of 1s (suffixes._segmented_prefix_sum — a group with
    any number of rows is never a single window task); the final
    keep test is one broadcast-sized equi-join. Nothing corpus^2,
    no corpus-sized collect.

    NULL contract (r14 ADVICE): rows with a NULL ``group_col`` are
    DROPPED explicitly up front — the same stance as
    rank_sum_test/spearman_corr. Before this filter they were
    dropped anyway by the null-unsafe keep-join, but a NULL group
    also entered the group counts, silently skewing the unused-pool
    arithmetic; now neither happens, and the kept-total claim
    ``min(n_rows, cap * n_groups)`` reads over NON-NULL-keyed rows
    and groups."""
    from product_etl_spark.operators.linkage import global_sort_ranks
    from product_etl_spark.operators.suffixes import _segmented_prefix_sum

    if cap < 0:
        raise ValueError(f"stratified_quota_backfill: cap must be >= 0, got {cap}")
    df = df.filter(F.col(group_col).isNotNull())
    counts = df.groupBy(F.col(group_col).alias("_g")).agg(
        F.count(F.lit(1)).alias("_n")
    )
    pool = counts.agg(
        F.coalesce(
            F.sum(
                F.when(F.col("_n") < cap, F.lit(cap) - F.col("_n"))
            ),
            F.lit(0),
        ).alias("_unused"),
        F.coalesce(
            F.sum(F.when(F.col("_n") > cap, F.lit(1))), F.lit(0)
        ).alias("_n_over"),
    )
    over_ranked = global_sort_ranks(
        counts.filter(F.col("_n") > cap).select("_g"), ["_g"], "_orank"
    )
    allowed = (
        counts.join(over_ranked, "_g", "left")
        .crossJoin(F.broadcast(pool))
        .select(
            "_g",
            F.when(
                F.col("_orank").isNull(), F.lit(cap).cast("bigint")
            )
            .otherwise(
                F.lit(cap)
                # integral `div` on the bigints, not floor(a / b): the
                # double division diverges from the oracle's exact
                # `unused // n_over` past 2^53 (r14 ADVICE finding)
                + F.expr("_unused div _n_over")
                + F.when(
                    F.col("_orank") <= F.col("_unused") % F.col("_n_over"),
                    F.lit(1),
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("_allowed"),
        )
    )
    base = df.withColumn("_one", F.lit(1)).withColumn(
        "_ord",
        F.struct(*[F.col(c).alias(f"o{i}") for i, c in enumerate(order_cols)]),
    )
    ranked = _segmented_prefix_sum(base, [group_col], "_ord", "_one", "_rn")
    return (
        ranked.join(allowed, ranked[group_col] == allowed["_g"])
        .filter(F.col("_rn") <= F.col("_allowed"))
        .drop("_one", "_ord", "_rn", "_g", "_allowed")
    )
