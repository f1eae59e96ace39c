"""Subject erasure (right-to-be-forgotten) across a parquet lake:
delete every row belonging to a set of subject keys from every table
that carries them, and maintain a suppression list so the subjects
cannot silently re-enter through later ingest batches.

The two halves matter equally at scale:

- **Erasure** is a keyed anti-join rewrite per table — read, drop,
  staged write, atomic swap — run under the same single-writer
  advisory lock as the MERGE writer (two concurrent rewriters of one
  table would lose one side's work; an erasure racing an upsert is
  exactly the lost-update case the lock exists for). Tables where no
  subject key matches are NOT rewritten (a semi-join probe first) —
  on a 100 TB lake most tables don't hold a given subject.
- **Suppression** is the half naive implementations forget: ingest is
  continuous, so a deleted subject reappears with the next feed
  unless every ingest anti-joins the suppression list
  (``apply_suppression``). The list is tiny (one row per erased key),
  broadcast-joins against any batch, and is append-only parquet.

Reference parity: the reference has no deletion path at all — rows
only ever accrete (ETL.py upserts). This is the lake-side analog of
a cascading DELETE plus a denylist.

On a transactional table format (Delta/Iceberg) the per-table rewrite
becomes ``DELETE WHERE`` and the swap/lock machinery falls away; the
suppression contract is format-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from product_etl_spark.fs import (
    drop_table,
    staging,
    swap_in,
    table_exists,
    table_write_lock,
)


def _checkpointed_keys(subject_keys: DataFrame) -> DataFrame:
    [key_in] = subject_keys.columns
    keys = subject_keys.select(F.col(key_in).alias("_subject")).distinct()
    return keys.localCheckpoint(eager=True)  # small; reused per table


def _erase_keyed_table(
    spark: SparkSession,
    path: str,
    keys: DataFrame,
    key_col: str,
    partition_by: list[str] | None = None,
) -> int:
    """One table's erase cycle under the single-writer lock: semi-join
    probe (untouched tables are never rewritten), anti-join rewrite to
    staging — PRESERVING ``partition_by`` layout, so a bucket-
    partitioned index store keeps its partition pruning through the
    swap — then atomic rename swap. Returns rows deleted. A table
    erased to ZERO rows is removed entirely (absent == empty: stores
    probe existence first, and a schema-stub file would poison later
    partitioned appends with a mixed layout); the rerun is still
    idempotent (absent table -> 0)."""
    import os

    def _batch_dir_committed() -> bool:
        # a store appended one partition per batch
        # (state/batch=N/_SUCCESS) has no root _SUCCESS marker; such
        # stores may already be on disk, and without this probe
        # erasure on them would silently no-op
        if not os.path.isdir(path):
            return False
        return any(
            "=" in d
            and os.path.exists(os.path.join(path, d, "_SUCCESS"))
            for d in os.listdir(path)
        )

    with table_write_lock(path, "erase_subjects"):
        if not table_exists(spark, path) and not _batch_dir_committed():
            return 0
        current = spark.read.parquet(path)
        cond = current[key_col] == keys["_subject"]
        n_hit = current.join(F.broadcast(keys), cond, "left_semi").count()
        if n_hit == 0:
            return 0  # no rewrite for untouched tables
        kept = current.join(F.broadcast(keys), cond, "left_anti")
        with staging(path) as staged:
            writer = kept.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(staged)
            # A FULLY-erased table writes no data files at all (just
            # _SUCCESS); swapping that in would leave an unreadable dir
            # (UNABLE_TO_INFER_SCHEMA on read, and a later partitioned
            # append would conflict with any schema-stub file). Erased
            # to nothing == table ABSENT: stores probe existence first
            # (read_signature_store -> None == fresh), so absence is
            # the faithful empty state.
            if any(not e.startswith(("_", ".")) for e in os.listdir(staged)):
                swap_in(spark, staged, path)
            else:
                drop_table(spark, path)
        return n_hit


def erase_subjects(
    spark: SparkSession,
    subject_keys: DataFrame,
    tables: list[dict],
    suppression_path: str | None = None,
) -> dict[str, int]:
    """Delete all rows matching ``subject_keys`` (a 1-column frame)
    from each table in ``tables`` (``[{"path": ..., "key_col": ...,
    "partition_by": [...]?}, ...]``); returns {path: n_deleted}.
    Idempotent: a rerun deletes 0 rows. If ``suppression_path`` is
    given, the erased keys are appended there (deduplicated on read)
    for ``apply_suppression``.

    RAW tables only erase half the lake: persisted DERIVED stores
    (token indexes, postings, code stores) still carry
    the subjects' doc-derived rows — use ``erase_from_stores`` /
    ``erase_from_inverted_index`` for those, in the same pass.
    """
    keys = _checkpointed_keys(subject_keys)
    report: dict[str, int] = {}
    for spec in tables:
        report[spec["path"]] = _erase_keyed_table(
            spark,
            spec["path"],
            keys,
            spec["key_col"],
            spec.get("partition_by"),
        )

    if suppression_path is not None:
        keys.select(
            F.col("_subject").alias("subject_key"),
            F.current_timestamp().alias("erased_on"),
        ).write.mode("append").parquet(suppression_path)
    return report


def apply_suppression(
    batch: DataFrame, spark: SparkSession, suppression_path: str, key_col: str
) -> DataFrame:
    """Drop rows whose ``key_col`` is on the suppression list — the
    ingest-side half of erasure: without this, the next feed run
    re-creates every deleted subject. No-op if the list doesn't exist
    yet. The list is one row per erased key, so the anti-join
    broadcasts."""
    from product_etl_spark.operators.dedup_incremental import (
        read_signature_store,
    )

    sup = read_signature_store(spark, suppression_path)
    if sup is None:
        return batch
    keys = sup.select(F.col("subject_key").alias("_subject")).distinct()
    return batch.join(
        F.broadcast(keys), batch[key_col] == keys["_subject"], "left_anti"
    )


def erase_from_stores(
    spark: SparkSession,
    subject_doc_ids: DataFrame,
    stores: list[dict],
) -> dict[str, int]:
    """Propagate subject erasure into persisted DERIVED stores — the
    half of right-to-be-forgotten ``erase_subjects`` alone does not
    reach: a doc-id-keyed index REMEMBERS an erased document (its
    tokens, shingles, signatures, codes) even after the raw table
    rewrite, and a probe against it can resurface the subject.

    Each spec is ``{"path": ..., "id_col": ..., "partition_by":
    [...]?}``; any id-keyed parquet store qualifies — the suffix-span
    gram store (``id_col="keep"``, ``["gram_bucket"]``), trigram
    postings (``["gram_bucket"]``), BM25 postings (``["term_bucket"]`` — but
    prefer ``erase_from_inverted_index``, which also re-freezes the
    corpus stats), PQ/IVF code stores, quantile samples. The rewrite
    preserves each store's partition layout through the staged swap,
    so partition pruning (the reason the store is bucketed) survives
    erasure. Returns {path: rows_deleted}; idempotent.

    Derived quantities that are CORPUS-relative (token document
    frequencies, prefix flags, idf, avgdl) must be recomputed over
    the remaining rows — stores here follow the repo convention of
    persisting RAW per-doc rows and deriving corpus-relative state
    at read time (bm25_topk_indexed recounts df from postings), so
    dropping the subject's rows IS the full fix; the exceptions (the
    inverted index's frozen stats/) get their own function below.
    Pytest pins probe-after-erasure == index-rebuilt-from-erased-corpus
    for the trigram, BM25 and IVF-PQ stores (tests/test_erasure.py).
    """
    keys = _checkpointed_keys(subject_doc_ids)
    return {
        spec["path"]: _erase_keyed_table(
            spark,
            spec["path"],
            keys,
            spec["id_col"],
            spec.get("partition_by"),
        )
        for spec in stores
    }


def erase_from_inverted_index(
    spark: SparkSession,
    subject_doc_ids: DataFrame,
    index_path: str,
    n_empty_docs: int | None = None,
) -> dict[str, int]:
    """Subject erasure for the persisted BM25 inverted index
    (retrieval.build_inverted_index): anti-join the erased doc ids
    out of ``postings/`` (term_bucket partitioning preserved) and
    ``doclens/``, then RE-FREEZE ``stats/`` — n_docs and avgdl are
    corpus constants baked at build time, and serving them stale
    would mis-score every remaining document (idf and length
    normalization both shift when the corpus shrinks). After this,
    ``bm25_topk_indexed`` is bit-identical to ``bm25_topk`` over the
    erased corpus (pytest contract).

    The re-freeze is computed ABSOLUTELY from the post-erasure store
    — ``n_docs = count(doclens) + n_empty_docs`` — never by
    decrementing the old stats, so the whole call is idempotent: a
    retry after a partial failure re-deletes 0 rows and re-freezes
    the stats to the identical values (erasure jobs are exactly the
    kind that get retried; a delta-decrement would corrupt n_docs on
    every rerun).

    ``n_empty_docs`` is the number of EMPTY documents (zero index
    terms) REMAINING in the corpus after this erasure: empty docs
    have no doclens row, so the store alone cannot count them toward
    the Okapi n_docs (which counts all docs, empty included).
    Default: the count implied by the pre-erasure stats
    (``old n_docs - count(doclens before erasure)``), i.e. the
    assumption that the erased set contains no empty docs — pass the
    explicit remaining-empty count when it does.
    """
    keys = _checkpointed_keys(subject_doc_ids)
    doclens_path = f"{index_path}/doclens"
    stats_path = f"{index_path}/stats"
    if n_empty_docs is None:
        old_n = int(spark.read.parquet(stats_path).collect()[0]["n_docs"])
        dl_before = (
            spark.read.parquet(doclens_path)
            .select("doc_id")
            .distinct()
            .count()
        )
        n_empty_docs = max(0, old_n - dl_before)
    report = {
        f"{index_path}/postings": _erase_keyed_table(
            spark,
            f"{index_path}/postings",
            keys,
            "doc_id",
            ["term_bucket"],
        ),
        doclens_path: _erase_keyed_table(
            spark, doclens_path, keys, "doc_id", None
        ),
    }
    with table_write_lock(stats_path, "erase_from_inverted_index"):
        if table_exists(spark, doclens_path):
            dl = spark.read.parquet(doclens_path)
            agg = dl.agg(
                F.count_distinct("doc_id").alias("n"),
                F.sum("dl").alias("s"),
            ).collect()[0]
            n_dl, sum_dl = int(agg["n"]), agg["s"] or 0
        else:  # every indexed doc erased -> doclens removed entirely
            n_dl, sum_dl = 0, 0
        new_n = n_dl + int(n_empty_docs)
        old = spark.read.parquet(stats_path).collect()[0]
        new_avgdl = float(sum_dl) / new_n if new_n else 0.0
        if (int(old["n_docs"]), float(old["avgdl"])) != (new_n, new_avgdl):
            stats = spark.createDataFrame(
                [(new_n, new_avgdl)], "n_docs long, avgdl double"
            )
            with staging(stats_path) as staged:
                stats.write.mode("overwrite").parquet(staged)
                swap_in(spark, staged, stats_path)
    return report
