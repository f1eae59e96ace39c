"""Count-min sketch frequency partials (Cormode & Muthukrishnan 2005).

Completes the mergeable-sketch family in ``sketches.py`` (HLL =
distinct counts, theta = set overlap, KLL = quantiles) with the
remaining classic: POINT-FREQUENCY estimates under bounded state.
Exact per-token counts over 100 TB of web text need a shuffle keyed
on the full vocabulary (10^8-10^9 distinct tokens); the CMS answers
"how often does THIS n-gram / URL / token appear?" from a sketch of
at most ``depth x width`` counters per group — kilobytes, regardless
of vocabulary size — with the standard one-sided guarantee
``exact <= est <= exact + (e/width) * N`` w.p. ``1 - e^-depth``.

Scale shape: building a partial is ONE map-side-combined groupBy on
(row, bucket) — the key space is depth*width, never vocabulary-sized,
so the shuffle is bounded and skew-free (buckets are uniform by
construction). Partials merge by plain SUM (commutative/associative,
asserted in tests), so per-day / per-batch sketches roll up like the
other sketch families. Probing joins the (tiny, broadcast) sketch —
the corpus is never rescanned. JVM-side expressions only: hashing is
``xxhash64``, no Python in any hot path.

Relation to exact operators: ``q77_vocabulary_topk`` keeps the exact
oracle-checked form; CMS is its bounded-state scale twin, same way
q49's HLL twin works (see sketches.py module doc).

Reference parity anchor: the reference's only frequency analyses are
exact GROUP BY counts in PostgreSQL (utils/importer/
verify_collections.py:172-195 top-k distributions); the sketch form
is the 100 TB generalization BASELINE.json's north star asks for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _bucket_cols(
    col: str, depth: int, width: int, seed: int, portable: bool = False
) -> list:
    """The depth independent hash rows: bucket_j = xxhash64(value, seed, j)
    mod width. pmod (not abs%) so Long.MIN_VALUE can't go negative.

    ``portable=True`` switches to the md5-based functions.text.hash64
    over 'value<US>seed<US>j' — ~3x the hash cost of xxhash64, but any
    md5-capable engine reproduces the sketch cell-for-cell (the q143
    checksum convention), so a replica can verify or probe a sketch it
    didn't build. Build and probe must agree on the flag."""
    if portable:
        from product_etl_spark.functions.text import hash64

        return [
            F.pmod(
                hash64(
                    F.concat_ws(
                        "\x1f",
                        F.col(col).cast("string"),
                        F.lit(str(seed)),
                        F.lit(str(j)),
                    )
                ),
                F.lit(width),
            ).cast("int")
            for j in range(depth)
        ]
    return [
        F.pmod(
            F.xxhash64(F.col(col).cast("string"), F.lit(seed), F.lit(j)),
            F.lit(width),
        ).cast("int")
        for j in range(depth)
    ]


def cms_partials(
    df: DataFrame,
    group_cols: list[str],
    col: str,
    depth: int = 4,
    width: int = 8192,
    seed: int = 0,
    portable: bool = False,
) -> DataFrame:
    """One pass over raw data -> per-group CMS partial as rows
    ``(group..., row_idx, bucket, n)``. At most depth*width rows per
    group (zero-count cells are implicit); partials merge by cellwise
    SUM. Store this instead of vocabulary-sized counts."""
    return (
        df.select(
            *group_cols,
            F.posexplode(
                F.array(*_bucket_cols(col, depth, width, seed, portable))
            ).alias("row_idx", "bucket"),
        )
        .groupBy(*group_cols, "row_idx", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def cms_estimate(
    sketch_df: DataFrame,
    items: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 8192,
    seed: int = 0,
    group_cols: list[str] | None = None,
    out_col: str = "est_count",
    portable: bool = False,
) -> DataFrame:
    """Point-frequency estimates for ``items[col]`` (one output row
    per distinct item x group): min over the depth rows of the
    counter at that item's bucket, missing cells counting as 0.

    depth/width/seed MUST match the build call (the probe re-derives
    the same buckets). The sketch side is broadcast — it is bounded at
    depth*width rows per group — so probing any number of items is a
    map-side join, no shuffle of the probe side."""
    group_cols = group_cols or []
    probes = items.select(col, *group_cols).distinct().select(
        F.col(col),
        *group_cols,
        F.posexplode(
            F.array(*_bucket_cols(col, depth, width, seed, portable))
        ).alias("row_idx", "bucket"),
    )
    joined = probes.join(
        F.broadcast(sketch_df), on=[*group_cols, "row_idx", "bucket"], how="left"
    )
    return joined.groupBy(col, *group_cols).agg(
        F.min(F.coalesce(F.col("n"), F.lit(0))).alias(out_col)
    )
