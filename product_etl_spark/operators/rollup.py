"""Incremental rollup maintenance (batch continuous aggregates).

The 100 TB pattern for standing dashboards: keep a small aggregate
state table and fold each new data batch into it — per batch, work is
O(batch) to partial-aggregate plus O(touched keys) to merge, never a
rescan of history. The additive measures (SUM / COUNT) merge exactly;
pair with `operators/sketches.py` partials when the dashboard also
needs distincts/quantiles (HLL/KLL merge the same way).

Delivery contract: each batch must be folded exactly once — drive
batches from `operators/incremental.py`'s only-unprocessed anti-join
or a streaming checkpoint's foreachBatch, the way
`pipelines/ingest.stream_ingest_csv` drives the MERGE ingest.
Re-folding a batch double-counts, by definition of additive state.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from product_etl_spark.fs import read_table, table_exists
from product_etl_spark.operators.upsert import upsert_parquet


def incremental_rollup(
    spark: SparkSession,
    new_batch: DataFrame,
    path: str,
    keys: list[str],
    measures: dict[str, Column],
) -> DataFrame:
    """Fold ``new_batch`` into the rollup state table at ``path``.

    ``measures`` maps output column -> row-level expression; the state
    stores SUM(expr) per key group and merges additively (use exact
    decimal expressions for money-like values — the state is long-
    lived, float drift compounds). Returns the post-merge state.

    Scale shape: one partial-aggregated shuffle over the batch, a
    semi-join that reads only the touched state keys, and the MERGE
    writer's partition-pruned swap. History is never rescanned.
    """
    partial = new_batch.groupBy(*keys).agg(
        *[F.sum(expr).alias(name) for name, expr in measures.items()]
    )
    # Re-summing a decimal sum widens its precision; pin every measure
    # to the single-batch aggregate's type so the state schema cannot
    # drift merge-over-merge.
    stable = dict(partial.dtypes)
    if table_exists(spark, path):
        cur = read_table(spark, path)
        affected = cur.join(partial.select(*keys).distinct(), keys, "left_semi")
        merged = (
            affected.unionByName(partial)
            .groupBy(*keys)
            .agg(
                *[
                    F.sum(name).cast(stable[name]).alias(name)
                    for name in measures
                ]
            )
        )
    else:
        merged = partial
    return upsert_parquet(spark, merged, path, keys, audit=False)
