"""Entity resolution / record linkage: blocked fuzzy matching plus
transitive clustering.

The reference deduplicates products by EXACT natural key only
(master_code / SKU equality — importer upsert keys and the
`products_all` master/variant split), so two feeds spelling the same
product name slightly differently become two entities. Record linkage
is the standard generalization: BLOCK records into small candidate
groups, score candidate pairs with an edit-distance (or other)
similarity, keep pairs above threshold, and take the transitive
closure so that A~B, B~C land in one entity cluster (Fellegi–Sunter
blocking + match, the same shape Dedupe/Splink/JedAI use).

Scale shape (the blocked-cosine / LSH contract, SCALING.md):

- The quadratic term is BOUNDED BY THE BLOCK: pairs are generated by
  a self-equi-join on the blocking key, so cost is O(sum block^2),
  never O(corpus^2). Skewed blocks hurt exactly like skewed LSH
  buckets — pass several cheap keys (multi-pass blocking) rather
  than one coarse one, and cap pathological blocks upstream.
- Multi-key blocking is a UNION of per-key pair sets with one
  distinct — recall adds, cost adds, nothing multiplies.
- Scoring is `levenshtein()` — JVM codegen, no Python, evaluated
  only on candidate pairs.
- Clustering reuses dedup.connected_components (iterative min-label
  propagation, O(diameter) rounds, lineage checkpointed; raises
  RuntimeError past ``max_iter`` rounds); records
  that matched nothing keep their own id as entity_id via one left
  join against the component table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from product_etl_spark.operators.dedup import connected_components


def blocked_pairs(
    df: DataFrame,
    id_col: str,
    block_cols: list[str | Column],
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Candidate pairs (id_a < id_b) sharing ANY blocking key.

    ``block_cols`` may be column names or expressions (e.g. a phonetic
    key, a name prefix, a zip code); each key contributes the pairs
    co-bucketed under it and the union is deduplicated, so several
    NARROW keys beat one coarse key on both recall and cost. NULL
    blocking keys never pair (standard blocking semantics).

    Output: id_a, id_b, plus ``<col>_a`` / ``<col>_b`` for every
    carry column (the fields the scorer needs).
    """
    carry = carry_cols or []
    out = None
    for i, bc in enumerate(block_cols):
        bexpr = F.col(bc) if isinstance(bc, str) else bc
        side = df.select(
            F.col(id_col).alias("_rid"),
            bexpr.alias("_blk"),
            *[F.col(c) for c in carry],
        ).filter(F.col("_blk").isNotNull())
        a = side.select(
            F.col("_rid").alias("id_a"),
            F.col("_blk"),
            *[F.col(c).alias(f"{c}_a") for c in carry],
        )
        b = side.select(
            F.col("_rid").alias("id_b"),
            F.col("_blk").alias("_blk_b"),
            *[F.col(c).alias(f"{c}_b") for c in carry],
        )
        pairs = a.join(
            b,
            (F.col("_blk") == F.col("_blk_b"))
            & (F.col("id_a") < F.col("id_b")),
        ).drop("_blk", "_blk_b")
        out = pairs if out is None else out.unionByName(pairs)
    # One distinct over the union: a pair co-blocked under two keys
    # must score once. Keyed on (id_a, id_b [, carried values — which
    # are functionally dependent on the ids]) — uniform hash shuffle.
    return out.distinct()


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_cols: list[str | Column],
    max_dist: int = 2,
) -> DataFrame:
    """Matched pairs by Levenshtein distance within blocks:
    (id_a, id_b, name_a, name_b, dist) for dist <= max_dist.

    ``levenshtein`` is exact and integer — engine-portable (the
    DuckDB oracle computes the identical value), unlike float
    similarity scores.
    """
    pairs = blocked_pairs(df, id_col, block_cols, carry_cols=[name_col])
    dist = F.levenshtein(F.col(f"{name_col}_a"), F.col(f"{name_col}_b"))
    return pairs.withColumn("dist", dist).filter(F.col("dist") <= max_dist)


def resolve_entities(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_cols: list[str | Column],
    max_dist: int = 2,
    max_iter: int = 10,
) -> DataFrame:
    """Full entity resolution: every input record mapped to an
    ``entity_id`` (the minimum record id in its match-closure
    cluster; unmatched records are their own entity).

    The closure matters: feeds A/B/C spelling one product three ways
    may only pair (A,B) and (B,C) under edit distance — transitive
    clustering still lands all three in one entity, which is what a
    downstream get-or-create keys on.
    """
    matched = edit_distance_pairs(df, id_col, name_col, block_cols, max_dist)
    comp = connected_components(
        matched.select("id_a", "id_b"), "id_a", "id_b", max_iter=max_iter
    )
    return (
        df.join(comp, df[id_col] == comp["id"], "left")
        .withColumn("entity_id", F.coalesce("component", F.col(id_col)))
        .drop("id", "component")
    )


def global_sort_ranks(
    df: DataFrame,
    order_cols: list[str],
    rank_col: str = "rank",
    n_range_parts: int | None = None,
) -> DataFrame:
    """Dense global 1-based ranks over a TOTAL order — see
    ``global_sort_ranks_counted`` (this is that, discarding the
    total)."""
    ranked, _ = global_sort_ranks_counted(
        df, order_cols, rank_col, n_range_parts
    )
    return ranked


def global_sort_ranks_counted(
    df: DataFrame,
    order_cols: list[str],
    rank_col: str = "rank",
    n_range_parts: int | None = None,
) -> tuple[DataFrame, int]:
    """Dense global 1-based ranks over a TOTAL order — without the
    single-task global window that ``row_number() OVER (ORDER BY …)``
    plans (every row through one partition: the classic 100 TB
    cliff). Shape: repartitionByRange on the order columns (skew-
    sampled range boundaries), per-partition ``row_number`` windows
    (parallel), and partition-count offsets — a spark_partition_id
    groupBy whose result is num-partitions-sized, broadcast back.
    ``order_cols`` must be a total order (tie-break with a unique id)
    or ranks are nondeterministic.

    Returns ``(ranked_df, total_rows)``: the offsets collect already
    sums every partition, so the frame's row count comes for free —
    callers that would otherwise fire a separate ``COUNT(*)`` job on
    the same frame take this instead: one pass instead of two.

    ONE exchange (r15, guide §2.4): the per-partition row numbers
    come from ``sortWithinPartitions`` + ``monotonically_increasing_id``
    (whose value is ``partition_id * 2^33 + row_index_in_partition``,
    assigned in the sorted task-local order) instead of a
    ``Window.partitionBy(spark_partition_id())`` — Catalyst cannot
    prove range partitioning clusters the partition id, so the window
    form planned a SECOND, degenerate ``Exchange hashpartitioning(_pid)``
    (verified in the physical plan): a full extra shuffle of the data
    in the engine's hottest primitive. The id split is exact for any
    partition under 2^33 rows (8.5 B — far above any sane partition).
    """
    parts = n_range_parts or df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "32"
    )
    order_exprs = [F.col(c) for c in order_cols]
    # PIN one materialization: repartitionByRange SAMPLES its range
    # boundaries, so two executions of this plan (the offsets collect
    # below, plus every downstream reference — e.g. both sides of the
    # neighbor self-join) could otherwise assign different _pid splits
    # and hand out inconsistent ranks between references. The
    # checkpoint is LAZY: the offsets collect below is the action
    # that materializes it, so pinning costs no extra job (the
    # eager-checkpoint job + collect job used to be two).
    local = (
        df.repartitionByRange(int(parts), *order_exprs)
        .sortWithinPartitions(*order_exprs)
        .withColumn("_mid", F.monotonically_increasing_id())
        .withColumn("_pid", F.shiftright(F.col("_mid"), 33))
        .withColumn(
            "_lrn", (F.col("_mid") % F.lit(1 << 33)) + F.lit(1)
        )
        .drop("_mid")
        .localCheckpoint(eager=False)
    )
    # partition sizes -> cumulative offsets: num-partitions rows, the
    # one deliberately driver-bounded piece (k-bounded collect)
    sizes = (
        local.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n")).collect()
    )
    offsets = {}
    acc = 0
    for r in sorted(sizes, key=lambda r: r["_pid"]):
        offsets[r["_pid"]] = acc
        acc += r["_n"]
    if offsets:
        off = F.create_map(
            *[F.lit(x) for kv in offsets.items() for x in kv]
        )
        rank_expr = (off[F.col("_pid")] + F.col("_lrn")).cast("bigint")
    else:
        # empty input: no partitions materialized — create_map() with
        # zero entries is VOID-typed and map()[_pid] fails analysis;
        # the frame has no rows, so any well-typed column is correct
        rank_expr = F.lit(None).cast("bigint")
    ranked = local.withColumn(rank_col, rank_expr).drop("_pid", "_lrn")
    return ranked, acc


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    sort_expr: Column | str,
    window: int = 3,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández–Stolfo): rank all
    records by a fuzzy sort key (normalized name, address …) and pair
    every record with its ``window`` successors in rank order —
    catches near-matches that share NO exact blocking key (typo in
    the first character kills equality blocking; it usually moves a
    record only a few rank positions). The classic ER complement to
    ``blocked_pairs``: run both, union, score once.

    Output: (id_a, id_b, rank_a, rank_b [, carried cols]) with
    id_a/id_b ordered by rank (rank_a < rank_b).

    Scale shape: ranks via ``global_sort_ranks`` (range partition +
    local windows + offset map — NO single-task global window), then
    the neighbor join is an equi-join of rank against an exploded
    rank+1..rank+window (window-bounded fan-out) — skew-free integer
    keys, work O(n * window).
    """
    key = F.col(sort_expr) if isinstance(sort_expr, str) else sort_expr
    carry = carry_cols or []
    base = df.select(
        F.col(id_col).alias("_rid"),
        key.alias("_sk"),
        *[F.col(c) for c in carry],
    ).filter(F.col("_sk").isNotNull())
    ranked = global_sort_ranks(base, ["_sk", "_rid"], rank_col="_rank")
    a = ranked.select(
        F.col("_rid").alias("id_a"),
        F.col("_rank").alias("rank_a"),
        F.explode(
            F.sequence(
                F.col("_rank") + F.lit(1), F.col("_rank") + F.lit(window)
            )
        ).alias("_nb"),
        *[F.col(c).alias(f"{c}_a") for c in carry],
    )
    b = ranked.select(
        F.col("_rid").alias("id_b"),
        F.col("_rank").alias("_nb"),
        *[F.col(c).alias(f"{c}_b") for c in carry],
    )
    return a.join(b, "_nb").select(
        "id_a",
        "id_b",
        "rank_a",
        F.col("_nb").alias("rank_b"),
        *[f"{c}_a" for c in carry],
        *[f"{c}_b" for c in carry],
    )


def agreement_pattern_profile(
    df: DataFrame,
    block_col: str,
    id_col: str,
    agree_cols: list[str],
) -> DataFrame:
    """Fellegi-Sunter agreement-pattern profile (Fellegi & Sunter
    1969): over the blocked candidate pairs, the frequency of every
    field-agreement pattern (one bit per compare field, '1' = the
    pair agrees on it) together with the count expected if fields
    agreed INDEPENDENTLY at their marginal rates, and the lift
    observed/expected. Patterns with lift >> 1 are the co-agreement
    signal that the EM step of a full FS model fits m/u weights to —
    this table is that model's sufficient statistic, and on its own
    it tells a linkage pipeline which compare fields actually
    discriminate before any labels exist.

    Output: (pattern, n_pairs, expected, lift), one row per observed
    pattern (<= 2^len(agree_cols)).

    Float policy: counts are BIGINTs; marginal rates are single
    divisions of exact-integer doubles; expected is the fixed
    left-fold tree ((tot*f1)*f2)*...; lift divides by the ROUNDED
    expected (both engines round first), 0.0 when expected rounds
    to zero.

    Scale shape: pairs are bounded by the block (O(sum block^2),
    never corpus^2 — the module contract above); the pattern table
    is <= 2^k rows, so marginals fold from IT (a broadcast 1-row
    aggregate), never from a second pass over the pairs."""
    left = df.select(
        F.col(id_col).alias("_ida"),
        F.col(block_col).alias("_blk"),
        *[F.col(c).alias(f"_a_{c}") for c in agree_cols],
    )
    right = df.select(
        F.col(id_col).alias("_idb"),
        F.col(block_col).alias("_blk2"),
        *[F.col(c).alias(f"_b_{c}") for c in agree_cols],
    )
    bits = [
        F.when(
            F.col(f"_a_{c}") == F.col(f"_b_{c}"), F.lit("1")
        ).otherwise(F.lit("0"))
        for c in agree_cols
    ]
    pc = (
        left.join(
            right,
            (F.col("_blk") == F.col("_blk2"))
            & (F.col("_ida") < F.col("_idb")),
        )
        .select(F.concat(*bits).alias("pattern"))
        .groupBy("pattern")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    k = len(agree_cols)
    m = pc.agg(
        F.sum("n_pairs").alias("tot"),
        *[
            F.sum(
                F.when(
                    F.substring("pattern", i + 1, 1) == "1",
                    F.col("n_pairs"),
                ).otherwise(F.lit(0))
            ).alias(f"a{i + 1}")
            for i in range(k)
        ],
    )
    tot_d = F.col("tot").cast("double")
    expected = tot_d
    for i in range(k):
        rate = F.col(f"a{i + 1}").cast("double") / tot_d
        factor = F.when(
            F.substring("pattern", i + 1, 1) == "1", rate
        ).otherwise(F.lit(1.0) - rate)
        expected = expected * factor
    expected_r = F.round(expected, 6)
    return (
        pc.crossJoin(F.broadcast(m))
        .select(
            "pattern",
            F.col("n_pairs").cast("long").alias("n_pairs"),
            expected_r.alias("expected"),
            F.when(expected_r == F.lit(0.0), F.lit(0.0))
            .otherwise(
                F.round(F.col("n_pairs").cast("double") / expected_r, 6)
            )
            .alias("lift"),
        )
        .orderBy("pattern")
    )
