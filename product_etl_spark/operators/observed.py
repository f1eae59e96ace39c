"""One-pass write-audit-publish with ``df.observe`` quality gates.

The Spark-native answer to "validate the batch you are loading
without scanning it twice": ``Observation`` metrics are accumulated
ON the write job itself (plain aggregate expressions evaluated as
the rows stream through), so the load and its audit are ONE pass —
at 100 TB the difference between one scan and two. Only a batch
whose observed metrics pass the caller's predicates is published, by
the ``fs`` staged swap (write-AUDIT-publish, literally).

Reference parity: the reference validates after loading with
separate SELECTs (utils/importer/verify_collections.py:33-66 and
utils/importer/verify_etl_results.py:34 count/completeness audits) —
a second full read the observe gate removes. Relation to profile_columns:
that is the ad-hoc ANALYZE over an existing table; this is the
ingest-time gate fused into the write.

On Delta/Iceberg the same Observation plugs into the transactional
commit and the staging/rename machinery falls away.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


class QualityGateError(RuntimeError):
    """The observed metrics of a staged load failed the gate: the
    batch was NOT published (no partial state to clean up) and the
    offending metric values are in ``.metrics`` / the message."""

    def __init__(self, failures: dict, metrics: dict):
        self.failures = dict(failures)
        self.metrics = dict(metrics)
        super().__init__(
            "quality gate failed, batch not published: "
            + ", ".join(f"{k}={v!r}" for k, v in failures.items())
        )


def write_with_quality_gate(
    df: DataFrame,
    path: str,
    checks: dict[str, tuple[Column, Callable[[object], bool]]],
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> dict:
    """Write ``df`` to ``path`` with metrics observed during the ONE
    write pass and the publish gated on them.

    ``checks``: {name: (aggregate_column, predicate)} — e.g.
    ``{"null_keys": (F.count_if(F.col("k").isNull()), lambda v: v == 0),
    "n_rows": (F.count(F.lit(1)), lambda v: v > 0)}``. All aggregate
    expressions are evaluated by the write job itself (``df.observe``
    — no second scan, asserted structurally in tests via a scan-count
    listener). If every predicate passes, the staged output is
    swapped into ``path`` under the table write lock and the observed
    metric dict is returned; otherwise ``path`` is untouched and
    QualityGateError carries the failing values."""
    import uuid

    from product_etl_spark.fs import staging, swap_in, table_write_lock

    if not checks:
        raise ValueError(
            "write_with_quality_gate with no checks is just a write — "
            "call df.write directly, or state the gate"
        )
    if mode != "overwrite":
        raise ValueError(
            f"unsupported mode {mode!r}: the gate publishes by "
            "atomic swap, which is overwrite semantics; for "
            "append-shaped loads gate the batch into a staging "
            "table and MERGE it (operators/upsert.py)"
        )
    spark = df.sparkSession
    obs = Observation(f"quality_gate_{uuid.uuid4().hex[:8]}")
    observed = df.observe(
        obs, *[agg.alias(name) for name, (agg, _) in checks.items()]
    )
    with (
        table_write_lock(path, "write_with_quality_gate"),
        staging(path) as staged,
    ):
        writer = observed.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(staged)
        metrics = dict(obs.get)
        failures = {
            name: metrics[name]
            for name, (_, pred) in checks.items()
            if not pred(metrics[name])
        }
        if failures:
            raise QualityGateError(failures, metrics)
        swap_in(spark, staged, path)
    return metrics


def standard_checks(
    key_col: str,
    min_rows: int = 1,
    max_null_key_fraction: float = 0.0,
) -> dict:
    """The gate most loads want: at least ``min_rows`` rows, and the
    key column's null fraction at or under the threshold — expressed
    as observe-able aggregates (count / count_if only, so the gate
    adds no shuffle to the write)."""
    return {
        "n_rows": (F.count(F.lit(1)), lambda v: v >= min_rows),
        "null_keys": (
            F.count_if(F.col(key_col).isNull()),
            # captured count is checked against the row count at gate
            # time via the fraction predicate below; kept as a raw
            # count so the metric is exact and integer
            lambda v: True,
        ),
        "_null_key_ok": (
            (
                F.count_if(F.col(key_col).isNull()).cast("double")
                / F.greatest(F.count(F.lit(1)), F.lit(1)).cast("double")
            ),
            lambda v: v <= max_null_key_fraction,
        ),
    }
