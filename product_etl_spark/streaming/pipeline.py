"""Structured Streaming twins of batch operators.

The reference is strictly batch (SURVEY.md §2.10): its incremental
semantics are rerunnable scripts + anti-joins. This module holds the
streaming postures of batch operators — same transforms, same sinks,
with checkpointed exactly-once file sources:

- ``stream_events_rollup``: the q23 hourly rollup as an event-time
  windowed aggregation with a watermark for late data;
- ``stream_sessionize``: session windows (the q24 gaps-and-islands
  logic, stateful).

The continuous product ingest, the one streaming path the CLI runs
(``stream-ingest``), lives beside the batch ingest as
``pipelines.ingest.stream_ingest_csv``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def stream_events_rollup(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time tumbling-window rollup with late-data watermark —
    the streaming twin of catalog q23 (same aggregates)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def stream_sessionize(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Session-window aggregation (inactivity gap) — the streaming
    twin of catalog q24's gaps-and-islands batch query."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sess"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "n_events",
        )
    )


def stream_dedup_events(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exactly-once dedup: drop events whose key was already
    seen within the watermark horizon (at-least-once sources emit
    duplicates; this is the standard idempotence stage before any
    downstream aggregation). State is bounded by the watermark — keys
    older than the horizon are expired, so state never grows without
    bound."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def stream_enrich_with_dimension(
    events: DataFrame, dimension: DataFrame, on: str
) -> DataFrame:
    """Stream-static join: each micro-batch joins against the current
    dimension snapshot (broadcast — the dimension is static per
    batch). The streaming twin of the reference's per-row dimension
    lookups (J8)."""
    from pyspark.sql import functions as F2

    return events.join(F2.broadcast(dimension), on, "left")


def stream_purchase_attribution(
    views: DataFrame,
    purchases: DataFrame,
    attribution_window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: attribute each purchase to the
    same user's view events within the preceding attribution window.

    Both sides are watermarked, and the join condition bounds the
    event-time distance (purchase.ts in [view.ts, view.ts + window]),
    so Spark can expire buffered state for rows older than
    watermark + window — state stays bounded no matter how long the
    streams run. Without the time-bound predicate a stream-stream
    join would buffer both streams forever; that unbounded form is
    deliberately not exposed here.
    """
    v = (
        views.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user_id"),
            F.col("event_id").alias("view_event_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", watermark)
    )
    p = (
        purchases.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_event_id"),
            F.col("ts").alias("purchase_ts"),
            "value",
        )
        .withWatermark("purchase_ts", watermark)
    )
    return p.join(
        v,
        F.expr(
            f"""
            user_id = v_user_id AND
            purchase_ts >= view_ts AND
            purchase_ts <= view_ts + interval {attribution_window}
            """
        ),
        "inner",
    ).select(
        "user_id", "purchase_event_id", "purchase_ts", "value",
        "view_event_id", "view_ts",
    )


def stream_user_running_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``:
    per-user running event count + value total, persisted in state
    across micro-batches (the arbitrary-state API for operators that
    windows/aggregations can't express — here a lifetime running
    total, unbounded in event-time).

    Output (update mode): one row per user per batch with the
    cumulated totals so far.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("total", DoubleType())]
    )

    def update(key, pdfs, state: GroupState):
        (user_id,) = key
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, round(total, 2)))
        yield pd.DataFrame(
            [{"user_id": user_id, "n_events": n, "total_value": round(total, 2)}]
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _fold_to_batch_dirs(events: DataFrame, state_dir: str, checkpoint: str,
                        partial_fn):
    """Shared replay-safe fold scaffold: each micro-batch's partial
    (computed by ``partial_fn(batch_df)``) is written with overwrite
    mode to an immutable ``state_dir/batch=<id>`` directory, so a
    replayed batch rewrites the SAME directory with the SAME content.
    Drains everything available exactly once, then stops."""

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        partial_fn(batch_df).write.mode("overwrite").parquet(
            f"{state_dir}/batch={batch_id}"
        )

    q = (
        events.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def stream_continuous_rollup(
    events: DataFrame,
    state_dir: str,
    keys: list[str],
    measures: dict[str, "F.Column"],
    checkpoint: str,
):
    """Streaming continuous aggregate with REPLAY-SAFE additive state.

    A naive foreachBatch that folds into an additive table
    double-counts when a batch replays after a mid-fold failure
    (additive state is not idempotent — unlike the MERGE ingest,
    where replay is a no-op by key). So each micro-batch writes its
    partial aggregate to an immutable per-batch directory
    ``state_dir/batch=<id>`` with overwrite mode: a replayed batch
    rewrites the SAME directory with the SAME content, making the
    fold idempotent. ``read_rollup_state`` merges the partials (sum
    of sums — partial count is bounded by batch count, and
    `operators/rollup.py.incremental_rollup` can compact old
    partials into a base table when that matters).

    Drains everything available, exactly once, then stops.
    """

    def partial(batch_df: DataFrame) -> DataFrame:
        return batch_df.groupBy(*keys).agg(
            *[F.sum(expr).alias(name) for name, expr in measures.items()]
        )

    return _fold_to_batch_dirs(events, state_dir, checkpoint, partial)


def read_rollup_state(
    spark: SparkSession, state_dir: str, keys: list[str], measure_names: list[str]
) -> DataFrame:
    """Current continuous-aggregate state: merge the per-batch
    partials written by ``stream_continuous_rollup``."""
    return (
        spark.read.option("basePath", state_dir)
        .parquet(f"{state_dir}/batch=*")
        .groupBy(*keys)
        .agg(*[F.sum(n).alias(n) for n in measure_names])
    )


def run_available_now(
    stream_df: DataFrame,
    out_path: str,
    checkpoint: str,
    fmt: str = "parquet",
    output_mode: str = "append",
):
    """Drain everything currently available, exactly once, then stop —
    the batch-friendly trigger for incremental pipelines. Returns the
    finished StreamingQuery."""
    q = (
        stream_df.writeStream.format(fmt)
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def stream_dedup_corpus(
    spark: SparkSession,
    input_dir: str,
    accepted_dir: str,
    signature_store: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    strategy: str = "fingerprint",
    jaccard_threshold: float = 0.8,
    bloom_prefilter: bool = False,
):
    """Continuously ingest documents (json-lines files landing in
    ``input_dir``), dedup each micro-batch against everything already
    accepted via the persisted signature store
    (operators/dedup_incremental.py), and append survivors to the
    accepted corpus.

    foreachBatch is the right seam for the same reason as the MERGE
    ingest above: the store append + corpus append are an idempotent
    batch operation (replayed batches re-collide with their own
    stored signatures and append nothing), so checkpoint-tracked file
    pickup + rerun-idempotent dedup gives effectively-exactly-once
    corpus building — the accepted set never holds a text twice even
    across crashes mid-batch (the signature append lands before the
    corpus append; a replay that finds signatures present skips the
    doc, so the failure mode is a dropped straggler on the torn batch,
    never a duplicate — and re-submitting the source file re-ingests
    any stragglers).

    ``bloom_prefilter`` passes through to ``incremental_dedup``
    (fingerprint strategy): as the accepted corpus grows without
    bound, each micro-batch's store join is gated by the bounded
    bloom sidecar, keeping per-batch latency independent of history
    size. The sidecar's append-before-store ordering keeps the
    replay idempotence argument above intact (over-coverage only).
    """
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from product_etl_spark.operators.dedup_incremental import incremental_dedup

    schema = StructType(
        [StructField(id_col, LongType()), StructField(text_col, StringType())]
    )
    stream = spark.readStream.schema(schema).json(input_dir)

    def process_batch(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        survivors = incremental_dedup(
            batch_df.sparkSession,
            batch_df,
            text_col,
            id_col,
            signature_store,
            strategy=strategy,
            jaccard_threshold=jaccard_threshold,
            bloom_prefilter=bloom_prefilter,
        )
        survivors.write.mode("append").parquet(accepted_dir)

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_distinct_sketch_rollup(
    events: DataFrame,
    state_dir: str,
    keys: list[str],
    distinct_col: str,
    checkpoint: str,
    lg_k: int = 12,
):
    """Streaming continuous DISTINCT counting via HLL sketch partials
    — the shape that replaces ``COUNT(DISTINCT)`` when the stream is
    unbounded: exact distinct needs state proportional to the key
    universe, while each HLL partial is ~2^lg_k bytes per group.
    State on disk is one partial per micro-batch, so it grows with
    batch COUNT until ``compact_distinct_sketch_state`` folds the
    partials into a single base — run it on whatever cadence keeps
    the directory listing cheap; compaction is safe at any moment
    because HLL union is idempotent (see below).

    Same replay-safe recipe as ``stream_continuous_rollup``: each
    micro-batch writes its per-group sketch partial to an immutable
    ``state_dir/batch=<id>`` directory (a replayed batch rewrites the
    same directory with the same bytes). Because HLL union is
    commutative, associative, AND idempotent (re-merging the same
    sketch cannot overcount — unlike additive sums), the merged
    estimate is correct under any combination of replays,
    out-of-order folds, and compactions. Read the current state with
    ``read_distinct_sketch_state``.
    """
    from product_etl_spark.operators.sketches import hll_partials

    return _fold_to_batch_dirs(
        events, state_dir, checkpoint,
        lambda batch_df: hll_partials(batch_df, keys, distinct_col, lg_k=lg_k),
    )


def stream_cms_rollup(
    events: DataFrame,
    state_dir: str,
    keys: list[str],
    col: str,
    checkpoint: str,
    depth: int = 4,
    width: int = 8192,
    seed: int = 0,
):
    """Streaming point-frequency state via count-min partials
    (operators/cms.py): per micro-batch, one bounded depth x width
    sketch per group lands in an immutable ``state_dir/batch=<id>``
    directory; ``read_cms_state`` sums the cells and answers "how
    often has THIS value appeared so far?" for any probe set under
    state that never grows with the value universe.

    Replay contract is ``stream_continuous_rollup``'s, NOT the HLL
    fold's: CMS cells merge by SUM, which is additive — a failed
    batch replaying under the SAME checkpoint rewrites the same
    ``batch=<id>`` directory (safe), but unlike HLL's idempotent
    union, the additive state does NOT tolerate re-folding the same
    data under a fresh checkpoint, and there is deliberately no
    compaction helper (folding batch dirs into a base would
    double-count if a folded batch later replays). The two sketch
    folds side by side are the point: mergeable-and-idempotent (HLL)
    vs mergeable-only (CMS) state need different replay discipline.
    """
    from product_etl_spark.operators.cms import cms_partials

    return _fold_to_batch_dirs(
        events, state_dir, checkpoint,
        lambda b: cms_partials(b, keys, col, depth=depth, width=width,
                               seed=seed),
    )


def read_cms_state(
    spark: SparkSession, state_dir: str, keys: list[str],
    key_schema: str | None = None,
) -> DataFrame:
    """Current merged CMS sketch (``keys..., row_idx, bucket, n``):
    feed it straight to ``cms.cms_estimate`` with the SAME
    depth/width/seed the fold used. Before the first fold (missing or
    empty state_dir) returns an EMPTY sketch frame instead of letting
    the glob read throw — ``key_schema`` (DDL, e.g. ``"day string"``)
    pins the key types for that empty frame; without it string keys
    are assumed (matching the post-fold schema only for string
    keys)."""
    from product_etl_spark.operators.cms import cms_merge

    if not _sketch_partial_dirs(state_dir):
        ddl = (key_schema + ", " if key_schema else "".join(
            f"{k} string, " for k in keys
        )) + "row_idx int, bucket int, n long"
        return spark.createDataFrame([], ddl)
    return cms_merge(
        spark.read.option("basePath", state_dir).parquet(
            f"{state_dir}/batch=*"
        ),
        keys,
    )


def _sketch_partial_dirs(state_dir: str) -> list[str]:
    """NOTE: the sketch-state helpers (_sketch_partial_dirs,
    compact_distinct_sketch_state) manage ``state_dir`` with
    driver-local filesystem calls (os.listdir/shutil.rmtree), so
    ``state_dir`` must be a LOCAL path — unlike the streaming
    checkpoint/output paths, which go through Hadoop FS and accept
    any URI. A remote state_dir raises here rather than silently
    reading nothing."""
    import os

    if "://" in state_dir:
        # includes file:// — os.listdir/os.path.isdir cannot resolve
        # URI spellings, so letting file:// through would silently
        # report an empty state instead of reading months of folds
        raise ValueError(
            "sketch state_dir must be a PLAIN local filesystem path "
            f"(got {state_dir!r}); the state helpers use driver-local "
            "listing/compaction and cannot resolve URI schemes"
        )
    if not os.path.isdir(state_dir):
        return []
    return sorted(
        f"{state_dir}/{d}" for d in os.listdir(state_dir)
        if d.startswith("batch=") or d == "base"
    )


def read_distinct_sketch_state(
    spark: SparkSession, state_dir: str, keys: list[str],
    alias: str = "n_distinct",
    key_schema: str | None = None,
) -> DataFrame:
    """Current distinct estimates: union the compacted base (if any)
    with the per-batch HLL partials. Before the first fold (missing
    or empty state_dir) returns an EMPTY frame with the
    ``(*keys, alias)`` schema instead of letting
    ``spark.read.parquet()`` throw on zero paths; pass ``key_schema``
    (DDL, e.g. ``"user_id long"``) when the keys aren't strings so
    the before-first-fold schema matches the post-fold one."""
    dirs = _sketch_partial_dirs(state_dir)
    if not dirs:
        if key_schema:
            return spark.createDataFrame([], key_schema + f", {alias} long")
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        schema = StructType(
            [StructField(k, StringType()) for k in keys]
            + [StructField(alias, LongType())]  # hll_sketch_estimate: long
        )
        return spark.createDataFrame([], schema)
    return (
        spark.read.parquet(*dirs)
        .groupBy(*keys)
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias(alias))
    )


def compact_distinct_sketch_state(
    spark: SparkSession, state_dir: str, keys: list[str]
) -> None:
    """Fold all sketch partials (base + per-batch) into a single
    ``state_dir/base`` directory and delete the folded batch dirs —
    bounding on-disk state and read cost at O(groups) regardless of
    how many micro-batches have run.

    Safe under replay: if a folded batch later replays, its rewritten
    ``batch=<id>`` partial re-merges with the base; HLL union is
    SET-idempotent, so re-merging already-absorbed keys can never
    double-count (re-serializing a union sketch may wiggle the
    estimate within the sketch's normal error bound — asserted in
    tests).
    """
    import shutil

    dirs = _sketch_partial_dirs(state_dir)
    if not dirs:
        return
    merged = (
        spark.read.parquet(*dirs)
        .groupBy(*keys)
        .agg(F.hll_union_agg("sketch").alias("sketch"))
        .localCheckpoint(eager=True)  # sever lineage from the dirs we delete
    )
    merged.write.mode("overwrite").parquet(f"{state_dir}/base")
    for d in dirs:
        if not d.endswith("/base"):
            shutil.rmtree(d, ignore_errors=True)


def stream_dedup_embeddings(
    spark: SparkSession,
    input_dir: str,
    accepted_dir: str,
    signature_store: str,
    checkpoint: str,
    thresholds: list[float],
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    max_hamming: int = 3,
):
    """Continuously ingest embedding batches (parquet files landing
    in ``input_dir``) and keep only vectors no closer than
    ``max_hamming`` sign-bits to anything already accepted — the
    vector-space twin of ``stream_dedup_corpus``, built on
    operators/embdedup.incremental_embedding_dedup (multi-index
    Hamming banding over the 32x-compressed signature store).

    Same effectively-exactly-once argument as the corpus dedup: the
    store append is idempotent (already-stored ids are anti-joined
    before appending; a replayed batch re-derives the same verdicts),
    so checkpoint-tracked file pickup + rerun-idempotent dedup never
    double-accepts a vector."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from product_etl_spark.operators.embdedup import incremental_embedding_dedup

    schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField(emb_col, ArrayType(DoubleType())),
        ]
    )
    stream = spark.readStream.schema(schema).parquet(input_dir)

    def process_batch(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        accepted, _ = incremental_embedding_dedup(
            batch_df.sparkSession,
            batch_df,
            signature_store,
            thresholds,
            emb_col=emb_col,
            id_col=id_col,
            max_hamming=max_hamming,
        )
        accepted.write.mode("append").parquet(accepted_dir)

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_ingest_jsonl(
    spark: SparkSession,
    input_dir: str,
    corpus_dir: str,
    quarantine_dir: str,
    checkpoint: str,
    schema,
    max_files_per_trigger: int | None = None,
):
    """Continuous JSONL corpus ingest with corrupt-record quarantine —
    the streaming twin of ``sources.jsonl.read_jsonl`` (the split
    itself is the SAME ``split_parsed`` projection; streaming vs
    batch is only the file-arrival contract).

    Each micro-batch's good rows and quarantined raw lines are
    written with overwrite to immutable ``batch=<id>`` directories
    (the replay-safe fold scaffold): a checkpoint-replayed batch
    rewrites the same directory with the same content, so the
    pipeline is end-to-end exactly-once without a transactional
    sink. Read the corpus back with
    ``spark.read.parquet(f"{corpus_dir}/batch=*")``.

    Drains the available backlog under Trigger.AvailableNow and
    stops; ``max_files_per_trigger`` bounds micro-batch size for
    continuous operation (a crawl backlog of thousands of shards
    otherwise lands in one giant first batch).
    """
    from product_etl_spark.sources.jsonl import split_parsed

    reader = spark.readStream
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    lines = reader.text(input_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        good, bad = split_parsed(batch_df, schema)
        # Two sinks from one batch: the split shares the scan via
        # plan reuse; each write is an independent immutable dir.
        good.write.mode("overwrite").parquet(f"{corpus_dir}/batch={batch_id}")
        bad.write.mode("overwrite").parquet(
            f"{quarantine_dir}/batch={batch_id}"
        )

    return (
        lines.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def prepare_psi_baseline(
    expected: DataFrame, value_col: str, n_bins: int, path: str
) -> None:
    """Freeze a PSI baseline for the streaming drift monitor: one
    parquet of (bin, n_expected, _lo, _hi) — the bin frame AND the
    reference counts. Computed once from the blessed snapshot; every
    later micro-batch bins against the SAME frozen frame (recomputing
    min/max per batch would silently re-frame the bins and hide
    drift)."""
    from product_etl_spark.operators.profile import psi_bin_counts

    stats = expected.agg(
        F.min(F.col(value_col).cast("double")).alias("_lo"),
        F.max(F.col(value_col).cast("double")).alias("_hi"),
    )
    counts = psi_bin_counts(expected, value_col, stats, n_bins, "n_expected")
    counts.crossJoin(F.broadcast(stats)).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


def stream_psi_monitor(
    values: DataFrame,
    value_col: str,
    baseline_path: str,
    state_dir: str,
    checkpoint: str,
    n_bins: int = 10,
):
    """Streaming PSI drift monitor: each micro-batch's bin counts are
    written as an immutable ``state_dir/batch=<id>`` partial (the
    replay-safe _fold_to_batch_dirs contract — a replayed batch
    rewrites the same directory with the same content, so restarts
    never double-count). ``read_psi_drift`` folds the partials into
    the current observed distribution and scores it against the
    frozen baseline with the SAME arithmetic as the batch operator
    (profile.psi_from_counts — the q139 semantics, not a streaming
    re-implementation).

    State per batch is at most n_bins rows — kilobytes, regardless of
    stream volume.
    """
    from product_etl_spark.operators.profile import psi_bin_counts

    spark = values.sparkSession
    base = spark.read.parquet(baseline_path)
    stats = base.select("_lo", "_hi").limit(1)

    def partial(batch_df: DataFrame) -> DataFrame:
        return psi_bin_counts(batch_df, value_col, stats, n_bins, "n_actual")

    return _fold_to_batch_dirs(values, state_dir, checkpoint, partial)


def read_psi_drift(
    spark: SparkSession, state_dir: str, baseline_path: str, n_bins: int = 10
) -> DataFrame:
    """Current drift report from the monitor state: per-bin PSI terms
    of (all observed micro-batches combined) vs the frozen baseline —
    identical output contract to profile.population_stability_index.
    Total PSI = SUM(psi_term); gate at 0.1 / 0.25."""
    from product_etl_spark.operators.profile import psi_from_counts

    base = spark.read.parquet(baseline_path)
    e = base.select("bin", "n_expected")
    a = (
        spark.read.parquet(state_dir)
        .groupBy("bin")
        .agg(F.sum("n_actual").alias("n_actual"))
    )
    return psi_from_counts(e, a, n_bins)


def read_ks_drift(
    spark: SparkSession, state_dir: str, baseline_path: str
) -> DataFrame:
    """KS drift report from the SAME monitor state as read_psi_drift:
    the frozen baseline counts vs the folded micro-batch partials,
    scored as per-bin CDF gaps (profile.ks_from_counts — the q148
    semantics). KS statistic = MAX(ks_gap). Zero extra streaming
    state: one stream_psi_monitor feeds BOTH drift gates — PSI for
    per-bin mass ratios, KS for cumulative location shifts."""
    from product_etl_spark.operators.profile import ks_from_counts

    base = spark.read.parquet(baseline_path)
    e = base.select("bin", "n_expected")
    a = (
        spark.read.parquet(state_dir)
        .groupBy("bin")
        .agg(F.sum("n_actual").alias("n_actual"))
    )
    return ks_from_counts(e, a)


def stream_checksum_monitor(
    values: DataFrame,
    group_cols: list[str],
    value_cols: list[str],
    state_dir: str,
    checkpoint: str,
):
    """Streaming integrity monitor: each micro-batch's group checksums
    (operators/integrity.group_checksums) land as an immutable
    ``state_dir/batch=<id>`` partial — the replay-safe
    _fold_to_batch_dirs contract, so restarts never double-count.
    Because count/xor/min/max partials MERGE exactly
    (merge_group_checksums), ``read_table_checksums`` reconstructs
    the checksums of EVERYTHING ingested so far from kilobytes of
    state — a continuously-validated table with no history rescan,
    comparable against any other engine's half (q143's contract)."""
    from product_etl_spark.operators.integrity import group_checksums

    def partial(batch_df: DataFrame) -> DataFrame:
        return group_checksums(batch_df, group_cols, value_cols)

    return _fold_to_batch_dirs(values, state_dir, checkpoint, partial)


def read_table_checksums(
    spark: SparkSession, state_dir: str, group_cols: list[str]
) -> DataFrame:
    """Current whole-history checksums from the monitor state —
    bit-equal to group_checksums over every row ever ingested."""
    from product_etl_spark.operators.integrity import merge_group_checksums

    return merge_group_checksums(spark.read.parquet(state_dir), group_cols)


def stream_jaccard_token_rows(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    state_dir: str,
    checkpoint: str,
    shingle_n: int = 1,
):
    """Streaming half of the EXACT-dedup gate (the PPJoin probe's
    index, operators/dedup_incremental): each micro-batch's distinct
    (id, tok) set-element rows land as an immutable
    ``state_dir/batch=<id>`` partial — the replay-safe
    _fold_to_batch_dirs contract, so a redelivered batch rewrites the
    same directory with the same content. The text-side work
    (tokenization / shingling) runs ONCE per document at ingest;
    ``read_jaccard_index`` then folds kilobyte-scale token rows into
    the probe index without ever rescanning accepted text.

    Assumes doc ids are unique across batches (append-only corpus —
    the same contract as the signature store)."""
    from product_etl_spark.operators.dedup_incremental import (
        _doc_token_rows,
    )

    def partial(batch_df: DataFrame) -> DataFrame:
        return _doc_token_rows(batch_df, text_col, id_col, "id", shingle_n)

    return _fold_to_batch_dirs(docs, state_dir, checkpoint, partial)


def read_jaccard_index(
    spark: SparkSession,
    state_dir: str,
    threshold_num: int = 3,
    threshold_den: int = 5,
) -> DataFrame:
    """Current probe index from the streamed token-row state —
    IDENTICAL to build_jaccard_index over every document ingested so
    far (token df and prefix ranks recompute over the folded rows, so
    the global rare-first order is exactly the batch builder's).
    Feed straight into probe_jaccard_index."""
    from product_etl_spark.operators.dedup_incremental import (
        index_from_token_rows,
    )

    toks = spark.read.parquet(state_dir).select("id", "tok")
    return index_from_token_rows(toks, threshold_num, threshold_den)


def stream_segment_divergence_monitor(
    values: DataFrame,
    seg_col: str,
    value_col: str,
    baseline_path: str,
    state_dir: str,
    checkpoint: str,
    n_bins: int = 10,
):
    """Streaming per-SEGMENT divergence monitor: each micro-batch's
    (seg, bin) counts — framed by the FROZEN baseline's [min, max]
    (prepare_psi_baseline; re-framing per batch would hide drift) —
    land as immutable replay-safe ``state_dir/batch=<id>`` partials.
    ``read_segment_divergence`` folds them and scores every segment
    against the global population with the EXACT batch arithmetic
    (profile.segment_divergence_from_counts — the q163 semantics),
    so a single source silently shifting lights up its segment while
    the global PSI/KS gates (same scaffold) stay flat. State per
    batch: at most segments x n_bins rows."""
    spark = values.sparkSession
    base = spark.read.parquet(baseline_path)
    stats = base.select("_lo", "_hi").limit(1)

    def partial(batch_df: DataFrame) -> DataFrame:
        v = F.col(value_col).cast("double")
        width = (F.col("_hi") - F.col("_lo")) / F.lit(float(n_bins))
        raw = F.floor((v - F.col("_lo")) / width)
        bin_ = F.greatest(
            F.lit(0), F.least(F.lit(n_bins - 1), raw)
        ).cast("int")
        return (
            batch_df.filter(v.isNotNull())
            .crossJoin(F.broadcast(stats))
            .select(F.col(seg_col).alias("seg"), bin_.alias("bin"))
            .groupBy("seg", "bin")
            .agg(F.count(F.lit(1)).alias("n_seg"))
        )

    return _fold_to_batch_dirs(values, state_dir, checkpoint, partial)


def read_segment_divergence(
    spark: SparkSession, state_dir: str, n_bins: int = 10
) -> DataFrame:
    """Current per-segment divergence report from the monitor state —
    identical output contract to profile.segment_divergence over
    everything ingested so far (with bins framed by the frozen
    baseline rather than the running min/max)."""
    from product_etl_spark.operators.profile import (
        segment_divergence_from_counts,
    )

    s = (
        spark.read.parquet(state_dir)
        .groupBy("seg", "bin")
        .agg(F.sum("n_seg").alias("n_seg"))
    )
    return segment_divergence_from_counts(s, n_bins)


def stream_quantile_sample(
    values: DataFrame,
    group_cols: list[str],
    val_col: str,
    key_col: str,
    state_dir: str,
    checkpoint: str,
    k: int = 256,
):
    """Streaming half of the portable QUANTILE sample sketch (q169,
    operators/sketches.quantile_sample_*): each micro-batch's
    bottom-k hash sample rows land as an immutable
    ``state_dir/batch=<id>`` partial — the replay-safe
    _fold_to_batch_dirs contract (a redelivered batch rewrites the
    same directory with the same content, because the sample is a
    pure hash predicate, not a random draw). State per batch: at
    most k rows per group — kilobytes — so the corpus is never
    rescanned for a quantile question.

    Assumes ``key_col`` values are unique across batches (append-only
    stream — the signature-store contract); a key replayed in two
    batches dedups in the read-side merge on its (group, hv) cell."""
    from product_etl_spark.operators.sketches import (
        quantile_sample_partials,
    )

    def partial(batch_df: DataFrame) -> DataFrame:
        return quantile_sample_partials(
            batch_df, group_cols, val_col, key_col, k
        )

    return _fold_to_batch_dirs(values, state_dir, checkpoint, partial)


def read_quantile_sample(
    spark: SparkSession,
    state_dir: str,
    group_cols: list[str],
    k: int = 256,
) -> DataFrame:
    """Current whole-history sample from the streamed partials —
    cell-identical to quantile_sample_partials over every row ever
    ingested (bottom-k of a union == union of bottom-ks re-cut to k:
    the KMV merge property). Feed into quantile_sample_estimate."""
    from product_etl_spark.operators.sketches import (
        quantile_sample_merge,
    )

    parts = spark.read.parquet(state_dir).select(*group_cols, "hv", "val")
    return quantile_sample_merge(parts, group_cols, k)


def stream_span_excision(
    spark: SparkSession,
    input_dir: str,
    cleaned_dir: str,
    gram_store: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
):
    """Continuous exact-substring dedup (the q177 operator's streaming
    posture): documents land as json-lines files in ``input_dir``;
    each micro-batch is excised against the persisted gram->keeper
    store (operators/dedup_incremental.incremental_span_excision) and
    the CLEANED batch lands under ``cleaned_dir/batch=<id>`` — spans
    already owned by history are removed, this batch's new spans are
    claimed for future batches.

    Same foreachBatch idempotence argument as stream_dedup_corpus: the
    gram append is keyed (only grams NEW to the store land), the
    cleaned output is a per-batch-dir overwrite, and a replayed batch
    finds its grams stored with the keepers decided in the first run —
    so the replayed cleaned output is byte-identical and the store
    gains nothing. Failure mid-batch (grams appended, cleaned dir not
    landed) re-runs to the same cleaned rows: the batch's own docs ARE
    the keepers of the grams they introduced, so self-collision never
    excises the keeper copy.
    """
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from product_etl_spark.operators.dedup_incremental import (
        incremental_span_excision,
    )

    schema = StructType(
        [StructField(id_col, LongType()), StructField(text_col, StringType())]
    )
    stream = spark.readStream.schema(schema).json(input_dir)

    def process_batch(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        cleaned = incremental_span_excision(
            batch_df.sparkSession,
            batch_df,
            gram_store,
            text_col,
            id_col,
            n=n,
        )
        cleaned.write.mode("overwrite").parquet(
            f"{cleaned_dir}/batch={batch_id}"
        )

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_daily_rate(
    events: DataFrame,
    state_dir: str,
    checkpoint: str,
    ts_col: str = "ts",
):
    """Continuous-ingest twin of the batch rate-analytics family
    (q205 CUSUM changepoint, q209 MAD anomaly days, q211 seasonal-
    naive backtest): maintain the daily event-count series under
    streaming ingest so the batch analyzers run over materialized
    state instead of rescanning history.

    Shape: each micro-batch folds to per-day partial counts written
    to an immutable ``state_dir/batch=<id>`` directory (the
    `_fold_to_batch_dirs` replay contract — a replayed batch
    rewrites the same directory with the same content, so the fold
    is idempotent). ``read_daily_rate`` merges partials by day:
    per-batch cost is one day-keyed partial aggregate over the
    BATCH; history is never rescanned; state is #days x #batches
    rows (compactable like the rollup partials).

    Drains everything available exactly once, then stops."""

    def partial(batch_df: DataFrame) -> DataFrame:
        return batch_df.groupBy(
            F.to_date(F.col(ts_col)).alias("day")
        ).agg(F.count(F.lit(1)).alias("n"))

    return _fold_to_batch_dirs(events, state_dir, checkpoint, partial)


def read_daily_rate(spark: SparkSession, state_dir: str) -> DataFrame:
    """Merged daily event counts from ``stream_daily_rate`` partials:
    (day, n_events) — the exact frame the batch rate analyzers
    (`timeseries.cusum_changepoint` / `mad_anomaly_days` /
    `seasonal_naive_backtest`) derive internally, so streaming-fed
    state and a batch rescan agree row-for-row (pytest-pinned)."""
    return (
        spark.read.option("basePath", state_dir)
        .parquet(f"{state_dir}/batch=*")
        .groupBy("day")
        .agg(F.sum("n").cast("long").alias("n_events"))
    )


def stream_balanced_shard_append(
    spark: SparkSession,
    input_dir: str,
    manifest_dir: str,
    state_dir: str,
    checkpoint: str,
    weight_col: str = "n_tokens",
    id_col: str = "doc_id",
    n_shards: int = 8,
):
    """Continuous balanced-shard manifest growth (the q220 operator's
    incremental posture, r13 verdict item 5): sized documents land
    as json-lines (id, weight) rows in ``input_dir`` (weights, not
    text — the manifest step runs after tokenize/count upstream);
    each micro-batch is dealt into
    the EXISTING shard totals lightest-first
    (operators/sampling.append_balanced_shards), the batch's
    assignments land under ``manifest_dir/batch=<id>``, and the
    batch's n_shards-row per-shard weight partial lands under
    ``state_dir/batch=<id>`` — the `_fold_to_batch_dirs` shape with
    one extra wrinkle: the totals each batch deals into must EXCLUDE
    its own partial, or a REPLAYED batch would see itself in the
    state and deal differently. Reading only ``batch < batch_id``
    partials makes replay byte-identical (availableNow replays are
    always the tail batch, so strictly-lower ids are exactly the
    pre-batch state).

    State per batch is n_shards rows — bytes, regardless of stream
    volume; history documents are never re-read.
    """
    from pyspark.sql.types import LongType, StructField, StructType

    from product_etl_spark.operators.sampling import (
        append_balanced_shards,
        shard_weight_totals,
    )

    schema = StructType(
        [StructField(id_col, LongType()), StructField(weight_col, LongType())]
    )
    stream = spark.readStream.schema(schema).json(input_dir)

    def process_batch(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sess = batch_df.sparkSession
        totals = read_shard_totals(
            sess, state_dir, before_batch=batch_id, n_shards=n_shards
        )
        assigned = append_balanced_shards(
            batch_df, weight_col, id_col, n_shards, totals
        ).localCheckpoint(eager=True)
        assigned.write.mode("overwrite").parquet(
            f"{manifest_dir}/batch={batch_id}"
        )
        shard_weight_totals(assigned, weight_col).write.mode(
            "overwrite"
        ).parquet(f"{state_dir}/batch={batch_id}")
        _write_n_shards_marker(state_dir, n_shards)

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_token_budget_select(
    spark: SparkSession,
    input_dir: str,
    selected_dir: str,
    state_dir: str,
    checkpoint: str,
    budget: int,
    id_col: str = "doc_id",
    weight_col: str = "weight",
    score_col: str = "score",
):
    """Continuous greedy budget selection (the q228 operator's
    incremental posture, r14 verdict item 6): scored documents land
    as json-lines (id, weight, score) rows in ``input_dir`` in
    ORDER-ALIGNED batches (each batch strictly above the previous
    high-water mark on (score, id) — the producer contract
    ``append_token_budget_select`` validates loudly); each
    micro-batch's kept prefix lands under
    ``selected_dir/batch=<id>`` and a 1-row state PARTIAL — the
    batch's own total weight (kept AND dropped) and its max order
    key — under ``state_dir/batch=<id>``. Reading only strictly-
    lower partials makes availableNow replay byte-identical (the
    stream_balanced_shard_append argument). State per batch is ONE
    row regardless of volume; accepted documents are never re-read.

    ``budget`` is part of the stream's identity: changing it between
    runs changes only FUTURE batches' keeps (the fold state carries
    weight seen, not budget)."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from product_etl_spark.operators.sampling import (
        append_token_budget_select,
    )

    schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField(weight_col, DoubleType()),
            StructField(score_col, LongType()),
        ]
    )
    stream = spark.readStream.schema(schema).json(input_dir)

    def process_batch(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sess = batch_df.sparkSession
        state = read_budget_state(
            sess, state_dir, before_batch=batch_id
        )
        prior_spent = state[0] if state else 0
        sel, new_state = append_token_budget_select(
            batch_df, weight_col, [score_col, id_col], budget, state
        )
        sel.localCheckpoint(eager=True).write.mode("overwrite").parquet(
            f"{selected_dir}/batch={batch_id}"
        )
        import decimal as _dec

        partial = sess.createDataFrame(
            [
                (
                    _dec.Decimal(new_state[0]) - _dec.Decimal(prior_spent),
                    int(new_state[1][0]),
                    int(new_state[1][1]),
                )
            ],
            "total_weight decimal(38,6), hwm_score long, hwm_id long",
        )
        partial.coalesce(1).write.mode("overwrite").parquet(
            f"{state_dir}/batch={batch_id}"
        )

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def read_budget_state(
    spark: SparkSession,
    state_dir: str,
    before_batch: int | None = None,
) -> tuple | None:
    """Fold the per-batch budget partials into the
    ``append_token_budget_select`` state tuple ``(spent, hwm)`` —
    ``None`` when no partial exists yet. ``before_batch`` restricts
    to strictly-lower batch ids (replay determinism). The hwm folds
    as MAX over the (score, id) STRUCT — field-wise max would be
    wrong on ties."""
    import os

    if "://" in state_dir:
        raise ValueError(
            "budget state_dir must be a PLAIN local filesystem path "
            f"(got {state_dir!r}); the state readers use driver-local "
            "listing and cannot resolve URI schemes"
        )
    if not os.path.isdir(state_dir) or not any(
        d.startswith("batch=") for d in os.listdir(state_dir)
    ):
        return None
    df = spark.read.option("basePath", state_dir).parquet(
        f"{state_dir}/batch=*"
    )
    if before_batch is not None:
        df = df.filter(F.col("batch") < before_batch)
    row = df.agg(
        F.sum("total_weight").alias("_s"),
        F.max(F.struct("hwm_score", "hwm_id")).alias("_m"),
    ).collect()[0]
    if row["_s"] is None:
        return None
    return (row["_s"], tuple(row["_m"]))


def rebuild_shard_totals_state(
    spark: SparkSession,
    manifest_dir: str,
    state_dir: str,
    weight_col: str,
) -> list[int]:
    """Re-derive every per-batch (shard, total_weight) partial from
    the CURRENT manifest rows — the erasure companion of the shard
    store (r14 verdict item 5): the persisted partials are DERIVED
    state, so after ``erasure.erase_from_stores`` drops subject rows
    from ``manifest_dir`` (id-keyed, ``partition_by=["batch"]``)
    the totals must be recomputed or every future deal would keep
    balancing against the erased weight — a doc-shaped ghost in the
    state, the exact resurface class the gram-store erasure pins
    close. Returns the batch ids rebuilt.

    Scale shape: one map-side-combined groupBy per batch over that
    batch's manifest partition only (n_shards rows out), published
    by ``fs.swap_in`` per batch — idempotent, convergent under
    crash-mid-loop. State stays n_shards rows per batch; history
    manifests are read once each, never joined."""
    import os
    import shutil

    from product_etl_spark.fs import staging, swap_in
    from product_etl_spark.operators.sampling import shard_weight_totals

    for d in (manifest_dir, state_dir):
        if "://" in d:
            raise ValueError(
                "shard manifest/state dirs must be PLAIN local paths "
                f"(got {d!r}); the state writers use driver-local "
                "renames and cannot resolve URI schemes"
            )
    manifest_batches = (
        {
            d
            for d in os.listdir(manifest_dir)
            if d.startswith("batch=")
        }
        if os.path.isdir(manifest_dir)
        else set()  # erasure removed the whole table: absent == empty
    )
    rebuilt = []
    for name in sorted(manifest_batches):
        batch_id = int(name.split("=", 1)[1])
        part = spark.read.parquet(f"{manifest_dir}/{name}")
        totals = shard_weight_totals(part, weight_col)
        target = f"{state_dir}/{name}"
        with staging(target) as staged:
            totals.coalesce(1).write.mode("error").parquet(staged)
            swap_in(spark, staged, target)
        rebuilt.append(batch_id)
    # a batch whose EVERY row was erased loses its manifest partition
    # in the rewrite — its state partial must go too, or the fold
    # would keep balancing against the erased weight forever (r15
    # self-review finding, regression-pinned in the lifecycle test)
    if os.path.isdir(state_dir):
        for name in sorted(os.listdir(state_dir)):
            if name.startswith("batch=") and name not in manifest_batches:
                shutil.rmtree(
                    os.path.join(state_dir, name), ignore_errors=True
                )
    spark.catalog.refreshByPath(state_dir)
    return rebuilt


def _write_n_shards_marker(state_dir: str, n_shards: int) -> None:
    """Persist the shard count the state was written under
    (``state_dir/_n_shards``, write-once) so ``read_shard_totals``
    can compare it DIRECTLY: the id-range check alone only catches
    state written under a LARGER previous count — state written
    under a smaller count (4 then reconfigured to 8) has every id
    in range and would silently deal as if shards 4-7 were empty
    (r14 ADVICE finding). Raises on a mismatching existing marker —
    a misconfigured restart fails at the first batch, not by
    corrupting balance."""
    import os

    path = os.path.join(state_dir, "_n_shards")
    if os.path.exists(path):
        with open(path) as f:
            existing = int(f.read().strip())
        if existing != n_shards:
            raise ValueError(
                f"shard state at {state_dir!r} was written under "
                f"n_shards={existing}; refusing to append under "
                f"n_shards={n_shards}"
            )
        return
    os.makedirs(state_dir, exist_ok=True)
    with open(path, "w") as f:
        f.write(str(n_shards))


def read_shard_totals(
    spark: SparkSession,
    state_dir: str,
    before_batch: int | None = None,
    n_shards: int | None = None,
) -> DataFrame | None:
    """Current (shard, total_weight) state folded from the per-batch
    partials ``stream_balanced_shard_append`` writes — ``None`` when
    no partial exists yet (empty manifests). ``before_batch``
    restricts the fold to strictly-lower batch ids (the replay
    determinism contract above). ``n_shards``, when given, validates
    the state against the caller's shard count two ways: the
    ``_n_shards`` marker the writer persists is compared DIRECTLY
    (catches both larger AND smaller stale counts), and the folded
    shard ids are range-checked as a fallback for stores written
    before the marker existed (catches only a larger stale count —
    the r14 ADVICE gap the marker closes)."""
    import os

    if "://" in state_dir:
        # includes file:// — os.path.isdir cannot resolve URI
        # spellings, so letting one through would silently report an
        # EMPTY state (every batch dealt as if manifests were empty)
        # rather than reading the accumulated totals — the
        # _sketch_partial_dirs guard, same failure mode (ADVICE-class
        # r14 review finding)
        raise ValueError(
            "shard state_dir must be a PLAIN local filesystem path "
            f"(got {state_dir!r}); the state readers use driver-local "
            "listing and cannot resolve URI schemes"
        )
    marker = os.path.join(state_dir, "_n_shards")
    if n_shards is not None and os.path.exists(marker):
        with open(marker) as f:
            written = int(f.read().strip())
        if written != n_shards:
            raise ValueError(
                f"shard state at {state_dir!r} was written under "
                f"n_shards={written}, caller asked for "
                f"n_shards={n_shards}; refusing to deal against "
                "stale-count state"
            )
    if not os.path.isdir(state_dir) or not any(
        d.startswith("batch=") for d in os.listdir(state_dir)
    ):
        return None
    df = spark.read.option("basePath", state_dir).parquet(
        f"{state_dir}/batch=*"
    )
    if before_batch is not None:
        df = df.filter(F.col("batch") < before_batch)
    folded = df.groupBy("shard").agg(
        F.sum("total_weight").alias("total_weight")
    )
    if n_shards is not None:
        bad = folded.filter(
            (F.col("shard") < 0) | (F.col("shard") >= n_shards)
        ).limit(1).count()
        if bad:
            raise ValueError(
                f"shard state at {state_dir!r} names shards outside "
                f"0..{n_shards - 1} — it was written under a different "
                "n_shards; refusing to deal against stale-count state"
            )
    if before_batch is not None and not folded.limit(1).count():
        return None
    return folded
