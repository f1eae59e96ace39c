"""Incremental (cross-batch) deduplication against a persisted
signature store.

The batch-dedup operators in ``dedup.py`` answer "is this corpus
internally duplicate-free?". A continuously-ingesting pipeline needs
the other question: "is this NEW batch duplicated against everything
already accepted?" — without re-reading the accepted corpus. The
standard production answer (the shape web-crawl pipelines like CCNet/
Dolma run) is to persist per-document *signatures* and join new
batches against the store:

- ``fingerprint`` strategy: store one normalization-fingerprint hash
  per accepted doc; a new doc collides iff its fingerprint equals a
  stored one. Exact (for the fingerprint equivalence class).
- ``near`` strategy: store the k MinHash components per accepted doc;
  banded-LSH buckets propose new-vs-store candidates, and the MinHash
  component-agreement estimate of Jaccard (unbiased; Broder 1997)
  decides. The accepted corpus's *text* is never touched — only its
  kilobytes-per-million-docs signature table.

Scale shape: the store grows by O(accepted docs) signature rows, the
per-batch work is (batch sketch: map + one groupBy) + (store join on
uniform band/fingerprint hash keys) + (append of survivors). Nothing
rescans history; the store parquet can be bucketed by the join key so
the per-batch join avoids shuffling the store side at all.

Rerun safety: re-ingesting an already-accepted batch finds every doc
colliding with its own stored signature, so it appends nothing and
returns zero survivors — ingestion retries are idempotent.
"""

from __future__ import annotations

import math

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from product_etl_spark.functions import text as T
from product_etl_spark.operators.dedup import (
    dedup_corpus,
    lsh_candidate_pairs,
    minhash_signatures,
)


def read_signature_store(spark: SparkSession, path: str) -> DataFrame | None:
    """The persisted store, or None before the first batch.

    Probed by ATTEMPTING the read and catching the path-not-found
    AnalysisException — NOT via os.path.exists, which silently returns
    False for any non-local URI (s3://, hdfs://) and would make
    cross-batch dedup skip the store, accept duplicates, and re-seed
    with no error. Any other read failure (corrupt store, permission)
    propagates loudly.
    """
    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if getattr(e, "getErrorClass", lambda: None)() == "PATH_NOT_FOUND" or (
            "PATH_NOT_FOUND" in str(e)
        ):
            return None
        raise


def _batch_fingerprints(batch: DataFrame, text_col: str, id_col: str) -> DataFrame:
    return batch.select(
        F.col(id_col).alias("sig_id"), T.fingerprint(text_col).alias("fp")
    )


def incremental_dedup(
    spark: SparkSession,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    store_path: str,
    strategy: str = "fingerprint",
    k: int = 8,
    jaccard_threshold: float = 0.8,
    bloom_prefilter: bool = False,
    bloom_m_bits: int = 1 << 22,
    threshold_num: int = 4,
    threshold_den: int = 5,
    shingle_n: int = 1,
) -> DataFrame:
    """Dedup ``batch`` internally AND against the signature store at
    ``store_path``, append the survivors' signatures to the store,
    and return the surviving batch rows.

    The store schema is per-strategy: ``(sig_id, fp)`` for
    fingerprint, ``(sig_id, h0..h{k-1})`` for near, ``(sig_id, tok)``
    distinct set-element rows for ``jaccard`` (EXACT set-similarity at
    threshold_num/threshold_den over unigram tokens or word
    ``shingle_n``-shingles — the deterministic PPJoin probe,
    probe_jaccard_index; MinHash-LSH 'near' is its probabilistic
    sibling and can miss threshold-grazing pairs). One store serves
    one strategy; mixing raises at the join (column mismatch) rather
    than silently passing everything.

    ``bloom_prefilter`` (fingerprint strategy only): maintain a
    bloom-as-table sidecar at ``{store_path}_bloom`` (see
    ``operators/bloom.py``) so "definitely new" fingerprints skip the
    exact store join entirely — at web-crawl scale the store side of
    that join grows with accepted HISTORY, while the sidecar's
    DISTINCT bucket set is bounded at the filter's m bits forever
    (append-mode partials may hold duplicate buckets between
    ``compact_bloom_sidecar`` runs; the probe dedupes them before
    broadcasting). Invariants the implementation maintains:

    - **Geometry is persisted** (``{store_path}_bloom_meta``): the
      sidecar's m_bits is fixed when the sidecar is CREATED
      (``bloom_m_bits`` applies then); later calls use the persisted
      geometry, so a caller passing a different value cannot split
      the sidecar across incompatible moduli (which would cause
      silent false negatives).
    - **Coverage survives flag-off runs**: once the sidecar exists,
      every fingerprint append maintains it even when this call has
      ``bloom_prefilter=False`` — otherwise a later flag-on run
      would treat the flag-off batches' docs as definitely-new and
      admit duplicates.
    - **Crash-safety ordering**: the sidecar is appended BEFORE the
      store, so a crash between the two writes can only leave the
      bloom OVER-covering — extra false positives fall through to
      the exact check; a store-first order could leave accepted
      fingerprints missing from the bloom, i.e. false negatives that
      admit duplicates.
    - A lost/corrupt sidecar heals itself: the next flag-on call
      finds it absent and re-seeds from the full store.
    """
    if strategy not in ("fingerprint", "near", "jaccard"):
        raise ValueError(f"unknown incremental dedup strategy: {strategy}")
    if bloom_prefilter and strategy != "fingerprint":
        raise ValueError("bloom_prefilter applies to the fingerprint strategy")

    # 1) intra-batch dedup (the batch may repeat itself)
    if strategy == "jaccard":
        from product_etl_spark.operators.dedup import set_similarity_pairs

        losers = (
            set_similarity_pairs(
                batch, text_col, id_col, threshold_num, threshold_den,
                shingle_n,
            )
            .select(F.col("id_b").alias(id_col))
            .distinct()
        )
        batch = batch.join(losers, id_col, "leftanti")
    else:
        batch = dedup_corpus(
            batch, text_col, id_col,
            strategy=strategy, jaccard_threshold=jaccard_threshold, k=k,
        )

    store = read_signature_store(spark, store_path)

    if strategy == "jaccard":
        if store is not None:
            # rerun idempotence: an id already accepted is a duplicate
            batch = batch.join(
                store.select(F.col("sig_id").alias(id_col)).distinct(),
                id_col, "leftanti",
            )
            index = index_from_token_rows(
                store.select(F.col("sig_id").alias("id"), "tok"),
                threshold_num, threshold_den,
            )
            matched = probe_jaccard_index(
                index, batch, text_col, id_col,
                threshold_num, threshold_den, shingle_n,
            )
            survivors = batch.join(
                matched.select(F.col("batch_id").alias(id_col)).distinct(),
                id_col, "leftanti",
            )
        else:
            survivors = batch
        survivors = survivors.localCheckpoint(eager=True)
        new_rows = _doc_token_rows(
            survivors, text_col, id_col, "sig_id", shingle_n
        )
        new_rows.write.mode("append").parquet(store_path)
        return survivors

    if strategy == "fingerprint":
        sigs = _batch_fingerprints(batch, text_col, id_col)
        if store is not None:
            if bloom_prefilter:
                from product_etl_spark.operators.bloom import (
                    bloom_partials,
                    split_by_bloom,
                )

                bloom = read_signature_store(spark, _bloom_path(store_path))
                if bloom is None:
                    # Flag turned on over a pre-existing store: a
                    # sidecar seeded from survivors alone would
                    # UNDER-cover history and admit duplicates as
                    # "definitely new" next run. Seed it from the
                    # full store first (one-time cost), then use it.
                    # Meta lands first: a crash in between leaves
                    # meta-without-sidecar, and the next run re-seeds.
                    _write_bloom_geometry(spark, store_path, bloom_m_bits)
                    bloom_partials(
                        store.select("fp"), "fp", m_bits=bloom_m_bits
                    ).write.mode("append").parquet(_bloom_path(store_path))
                    bloom = read_signature_store(
                        spark, _bloom_path(store_path)
                    )
                geom = _read_bloom_geometry(spark, store_path) or bloom_m_bits
                tagged = split_by_bloom(sigs, bloom, "fp", m_bits=geom)
                # only maybe-seen fingerprints pay the store join
                sigs = tagged.filter(F.col("_maybe_seen")).drop("_maybe_seen")
            hit_fps = sigs.join(
                store.select("fp").distinct(), "fp", "leftsemi"
            ).select("sig_id")
            survivors = batch.join(
                hit_fps, F.col("sig_id") == F.col(id_col), "leftanti"
            )
        else:
            survivors = batch
    else:
        sigs = minhash_signatures(batch, text_col, id_col, k=k).select(
            F.col(id_col).alias("sig_id"), *[f"h{i}" for i in range(k)]
        )
        if store is not None:
            # Ingestion retries resend accepted ids verbatim; the LSH
            # pair builder's id_a < id_b would drop those self-pairs,
            # so handle id collisions first: an id already in the
            # store is a duplicate by definition.
            batch = batch.join(
                store.select(F.col("sig_id").alias(id_col)).distinct(),
                id_col, "leftanti",
            )
            sigs = sigs.join(
                store.select("sig_id").distinct(), "sig_id", "leftanti"
            )
            # Banded LSH over batch+store proposes candidates; only
            # new-vs-store pairs survive the tag filter. The Jaccard
            # decision is the component-agreement estimate, computed
            # purely from the two signature vectors.
            need = math.ceil(jaccard_threshold * k)
            tagged = sigs.withColumn("_new", F.lit(True)).unionByName(
                store.withColumn("_new", F.lit(False))
            )
            cand = lsh_candidate_pairs(
                tagged, "sig_id", bands=k // 2, rows_per_band=2
            )
            a = tagged.select(
                F.col("sig_id").alias("id_a"), F.col("_new").alias("_new_a"),
                *[F.col(f"h{i}").alias(f"a{i}") for i in range(k)],
            )
            b = tagged.select(
                F.col("sig_id").alias("id_b"), F.col("_new").alias("_new_b"),
                *[F.col(f"h{i}").alias(f"b{i}") for i in range(k)],
            )
            agree = sum(
                F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
                for i in range(k)
            )
            dup_new_ids = (
                cand.join(a, "id_a").join(b, "id_b")
                .filter(F.col("_new_a") != F.col("_new_b"))
                .filter(agree >= need)
                .select(
                    F.when(F.col("_new_a"), F.col("id_a"))
                    .otherwise(F.col("id_b")).alias("sig_id")
                )
                .distinct()
            )
            survivors = batch.join(
                dup_new_ids, F.col("sig_id") == F.col(id_col), "leftanti"
            )
        else:
            survivors = batch

    # Materialize the survivor set BEFORE appending to the store it
    # was computed against: (a) the caller's action on the returned
    # frame would otherwise re-run the whole sketch+join pipeline a
    # second time, and (b) that recomputation would re-LIST the store
    # path we just appended to — every survivor would collide with
    # its own fresh signature and the result silently evaluate empty.
    survivors = survivors.localCheckpoint(eager=True)
    # Recompute signatures from the CHECKPOINTED survivors (tiny:
    # survivors only) so the appended frame has no lineage through
    # the store path at all.
    if strategy == "fingerprint":
        new_sigs = _batch_fingerprints(survivors, text_col, id_col)
        from product_etl_spark.fs import fs_exists

        sidecar_exists = fs_exists(spark, _bloom_path(store_path))
        if bloom_prefilter or sidecar_exists:
            # Maintain the sidecar whenever it exists — even on a
            # bloom_prefilter=False call — or a later flag-on run
            # would see an under-covering bloom and admit the docs
            # this batch accepted as "definitely new".
            from product_etl_spark.operators.bloom import bloom_partials

            geom = _read_bloom_geometry(spark, store_path) or bloom_m_bits
            if not sidecar_exists:
                _write_bloom_geometry(spark, store_path, geom)
            # sidecar BEFORE store: a crash in between over-covers
            # the bloom (safe: false positives -> exact check), never
            # under-covers it (unsafe: duplicates admitted).
            bloom_partials(new_sigs, "fp", m_bits=geom).write.mode(
                "append"
            ).parquet(_bloom_path(store_path))
    else:
        new_sigs = minhash_signatures(survivors, text_col, id_col, k=k).select(
            F.col(id_col).alias("sig_id"), *[f"h{i}" for i in range(k)]
        )
    new_sigs.write.mode("append").parquet(store_path)
    return survivors


def _bloom_path(store_path: str) -> str:
    return store_path.rstrip("/") + "_bloom"


def _bloom_meta_path(store_path: str) -> str:
    return store_path.rstrip("/") + "_bloom_meta"


def _read_bloom_geometry(spark: SparkSession, store_path: str) -> int | None:
    """The sidecar's persisted m_bits, or None (no sidecar yet, or a
    legacy sidecar written before geometry was persisted — the caller
    falls back to its own parameter for those)."""
    meta = read_signature_store(spark, _bloom_meta_path(store_path))
    if meta is None:
        return None
    return int(meta.collect()[0]["m_bits"])


def _write_bloom_geometry(spark: SparkSession, store_path: str, m_bits: int) -> None:
    spark.createDataFrame([(int(m_bits),)], "m_bits long").write.mode(
        "overwrite"
    ).parquet(_bloom_meta_path(store_path))


def compact_bloom_sidecar(spark: SparkSession, store_path: str) -> None:
    """Rewrite the bloom sidecar with its DISTINCT bucket set.

    Append-mode batch partials are distinct per batch but accumulate
    duplicate buckets across batches, so on-disk rows grow with batch
    count until compacted (the distinct set is always <= m by
    construction). Probe correctness never depends on this — the
    probe dedupes before broadcasting — compaction only bounds the
    sidecar's read/storage cost; run it on whatever cadence keeps the
    directory cheap, like the HLL state compactor."""
    bloom = read_signature_store(spark, _bloom_path(store_path))
    if bloom is None:
        return
    merged = bloom.distinct().localCheckpoint(eager=True)
    merged.write.mode("overwrite").parquet(_bloom_path(store_path))


# -------------------------------------------- exact-Jaccard probe store


def _doc_token_rows(
    df: DataFrame, text_col: str, id_col: str, alias: str, shingle_n: int
) -> DataFrame:
    """Distinct (id, tok) set elements: unigram tokens (shingle_n=1)
    or word n-gram shingles — the unit real dedup pipelines compare,
    because shingles stay distinctive even over a small vocabulary
    where every long doc contains every unigram."""
    if shingle_n > 1:
        from product_etl_spark.operators.dedup import exploded_shingles

        return exploded_shingles(df, text_col, id_col, shingle_n).select(
            F.col(id_col).alias(alias), F.col("sh").alias("tok")
        )
    return df.select(
        F.col(id_col).alias(alias),
        F.explode(
            F.array_distinct(T.tokens(F.lower(F.col(text_col))))
        ).alias("tok"),
    )


def build_jaccard_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold_num: int = 3,
    threshold_den: int = 5,
    shingle_n: int = 1,
) -> DataFrame:
    """Persistable index frame for the EXACT set-similarity probe:
    one row per (id, tok, is_prefix) plus the doc's token-set size.
    Store it partitioned/bucketed by ``tok`` so probe joins avoid
    shuffling the store. The prefix flag follows the q154 PPJoin
    rule over THIS corpus's token frequencies (the frozen-baseline
    convention: probe batches rank their tokens against the STORED
    frequency order, so a batch cannot silently re-frame prefixes).
    ``shingle_n`` picks the set element (unigrams or word n-gram
    shingles); probes against this index must pass the same value.
    """
    toks = _doc_token_rows(df, text_col, id_col, "id", shingle_n)
    return index_from_token_rows(toks, threshold_num, threshold_den)


def index_from_token_rows(
    toks: DataFrame, threshold_num: int = 3, threshold_den: int = 5
) -> DataFrame:
    """The index tail shared by the batch builder and the streaming
    fold: distinct (id, tok) rows -> (id, tok, tok_df, set_size,
    is_prefix). Token df and prefix ranks are computed over whatever
    corpus the rows span — so folding per-batch token-row partials
    through this function yields an index IDENTICAL to building from
    the concatenated corpus (asserted in tests)."""
    from pyspark.sql import Window

    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("tok_df"))
    sized = toks.join(dfreq, "tok")
    wpos = Window.partitionBy("id").orderBy("tok_df", "tok")
    wsz = Window.partitionBy("id")
    return (
        sized.withColumn("_pos", F.row_number().over(wpos))
        .withColumn("set_size", F.count(F.lit(1)).over(wsz))
        .select(
            "id",
            "tok",
            "tok_df",
            "set_size",
            (
                F.col("_pos")
                <= F.col("set_size")
                - F.ceil(
                    F.col("set_size")
                    * F.lit(threshold_num)
                    / F.lit(threshold_den)
                )
                + 1
            ).alias("is_prefix"),
        )
    )


def _rank_batch_prefix(
    index: DataFrame,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    threshold_num: int,
    threshold_den: int,
    shingle_n: int = 1,
) -> DataFrame:
    """Batch token rows ranked against the STORE's frequency order:
    (bid, tok, bsize, b_prefix). Store-unseen tokens rank rarest
    (df 0), which keeps one consistent global order across both
    sides of the probe — the precondition for the both-prefix
    pigeonhole below."""
    from pyspark.sql import Window

    btoks = _doc_token_rows(batch, text_col, id_col, "bid", shingle_n)
    store_freq = index.select("tok", "tok_df").distinct()
    ranked = btoks.join(store_freq, "tok", "left").withColumn(
        "_df", F.coalesce("tok_df", F.lit(0))
    )
    wpos = Window.partitionBy("bid").orderBy("_df", "tok")
    wsz = Window.partitionBy("bid")
    branked = ranked.withColumn("_pos", F.row_number().over(wpos)).withColumn(
        "bsize", F.count(F.lit(1)).over(wsz)
    )
    return branked.withColumn(
        "b_prefix",
        F.col("_pos")
        <= F.col("bsize")
        - F.ceil(
            F.col("bsize") * F.lit(threshold_num) / F.lit(threshold_den)
        )
        + 1,
    ).select("bid", "tok", "bsize", "b_prefix")


def probe_candidate_pairs(index: DataFrame, bpref: DataFrame) -> DataFrame:
    """Candidate (bid, sid) pairs from a PREFIX-TOKEN-ONLY join:
    batch prefix rows x store prefix rows on tok.

    Both sides rank by one global order (store df asc, token), so
    two sets with Jaccard >= t MUST share a token lying in BOTH
    prefixes (pigeonhole on the ordered overlap — the same PPJoin
    rule the batch join uses, dedup.py:set_similarity_pairs). Hot
    stop tokens are therefore structurally suppressed on BOTH join
    sides: a corpus-wide token ranks last everywhere and enters a
    prefix only for docs with almost no rarer tokens. This is the
    fix for the r7 scale finding — the previous shape joined ALL
    batch tokens against ALL store tokens and only applied the
    prefix condition after the per-pair aggregation, so every pair
    sharing any stop token became a shuffle group."""
    return (
        bpref.filter(F.col("b_prefix"))
        .select("bid", "tok")
        .join(
            index.filter(F.col("is_prefix")).select(
                "tok", F.col("id").alias("sid")
            ),
            "tok",
        )
        .select("bid", "sid")
        .distinct()
    )


def probe_jaccard_index(
    index: DataFrame,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    threshold_num: int = 3,
    threshold_den: int = 5,
    shingle_n: int = 1,
) -> DataFrame:
    """New-batch-vs-store exact set-similarity matches WITHOUT
    rescanning accepted text: (batch_id, store_id, n_inter, n_union,
    jaccard) for every pair at Jaccard >= num/den. ``shingle_n``
    MUST match the value the index was built with.

    Prefix contract across the store boundary: batch tokens rank
    against the STORE's frequency order (unseen tokens rank rarest),
    giving one global order; a qualifying pair must then share a
    token in BOTH prefixes, so candidates come from a prefix-row x
    prefix-row join only (``probe_candidate_pairs``).

    Scale shape: (1) candidates join ONLY prefix tokens — frequent
    tokens never fan out (the r7 verdict's scale fix; previously the
    all-token join made every stop-token-sharing pair a shuffle
    group); (2) verification materializes sorted token arrays for
    the batch (small by definition) and for candidate store docs
    only (semi-join on the candidate sid set, which is
    probe-bounded), then runs array_intersect per candidate pair —
    the same verify shape as the batch join; (3) union sizes come
    from the stored set_size, so accepted history is never read —
    only the index."""
    bpref = _rank_batch_prefix(
        index, batch, text_col, id_col, threshold_num, threshold_den,
        shingle_n,
    )
    cand = probe_candidate_pairs(index, bpref)
    bsets = bpref.groupBy("bid").agg(
        F.sort_array(F.collect_set("tok")).alias("_set_b"),
        F.max("bsize").alias("_bs"),
    )
    ssets = (
        index.join(
            F.broadcast(cand.select("sid").distinct()),
            index["id"] == F.col("sid"),
            "leftsemi",
        )
        .groupBy("id")
        .agg(
            F.sort_array(F.collect_set("tok")).alias("_set_s"),
            F.max("set_size").alias("_ss"),
        )
        .select(F.col("id").alias("sid"), "_set_s", "_ss")
    )
    inter = F.size(F.array_intersect("_set_b", "_set_s"))
    union = F.col("_bs") + F.col("_ss") - F.col("n_inter")
    return (
        cand.join(bsets, "bid")
        .join(ssets, "sid")
        .withColumn("n_inter", inter)
        .withColumn("n_union", union)
        .filter(
            F.lit(threshold_den) * F.col("n_inter")
            >= F.lit(threshold_num) * F.col("n_union")
        )
        .select(
            F.col("bid").alias("batch_id"),
            F.col("sid").alias("store_id"),
            "n_inter",
            "n_union",
            F.round(
                F.col("n_inter").cast("double")
                / F.col("n_union").cast("double"),
                4,
            ).alias("jaccard"),
        )
    )


def probe_containment_index(
    index: DataFrame,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    threshold_num: int = 9,
    threshold_den: int = 10,
    shingle_n: int = 1,
) -> DataFrame:
    """New-batch-vs-store CONTAINMENT matches: (batch_id, store_id,
    n_batch, n_inter, containment) for every pair where the BATCH
    doc's token set is >= num/den inside the stored doc — the
    at-ingest near-superset gate ("don't accept a doc that is a
    boilerplate-wrapped copy of something accepted"), the asymmetric
    complement to probe_jaccard_index on the SAME persisted index
    (operators/dedup.containment_pairs is its batch twin).

    Candidate rule: only the CONTAINED (batch) side needs a prefix —
    its |A| - ceil(t|A|) + 1 rarest tokens under the STORE's frozen
    frequency order (one-sided prefix filter; pigeonhole: missing all
    of them caps the overlap below ceil(t|A|)). Candidates join batch
    prefix rows against ALL index token rows; batch prefix tokens are
    store-rare by ranking, which bounds the fan-out. Verification is
    array_intersect on candidate pairs (batch arrays + candidate-sid
    store arrays via broadcast semi-join), keep by the integer
    predicate den*inter >= num*|A|. History text is never read."""
    bpref = _rank_batch_prefix(
        index, batch, text_col, id_col, threshold_num, threshold_den,
        shingle_n,
    )
    cand = (
        bpref.filter(F.col("b_prefix"))
        .select("bid", "tok")
        .join(index.select("tok", F.col("id").alias("sid")), "tok")
        .select("bid", "sid")
        .distinct()
    )
    bsets = bpref.groupBy("bid").agg(
        F.sort_array(F.collect_set("tok")).alias("_set_b"),
        F.max("bsize").alias("_bs"),
    )
    ssets = (
        index.join(
            F.broadcast(cand.select("sid").distinct()),
            index["id"] == F.col("sid"),
            "leftsemi",
        )
        .groupBy("id")
        .agg(F.sort_array(F.collect_set("tok")).alias("_set_s"))
        .select(F.col("id").alias("sid"), "_set_s")
    )
    inter = F.size(F.array_intersect("_set_b", "_set_s"))
    return (
        cand.join(bsets, "bid")
        .join(ssets, "sid")
        .withColumn("n_inter", inter)
        .filter(
            F.lit(threshold_den) * F.col("n_inter")
            >= F.lit(threshold_num) * F.col("_bs")
        )
        .select(
            F.col("bid").alias("batch_id"),
            F.col("sid").alias("store_id"),
            F.col("_bs").alias("n_batch"),
            "n_inter",
            F.round(
                F.col("n_inter").cast("double") / F.col("_bs").cast("double"),
                4,
            ).alias("containment"),
        )
    )


def incremental_span_excision(
    spark: SparkSession,
    batch: DataFrame,
    store_path: str,
    text_col: str,
    id_col: str,
    n: int = 5,
    n_buckets: int = 64,
) -> DataFrame:
    """Continuous-ingest twin of ``dedup.remove_duplicate_spans``
    (q177): excise from a NEW batch every n-gram span already owned
    by an earlier document — without ever re-reading accepted text.
    The persisted state is a gram->keeper store (``sh``, ``keep``,
    hash-bucketed by ``gram_bucket`` for compaction and bucket-
    preserving erasure): roughly one row per DISTINCT n-gram of the
    ingested history (singletons included), i.e. corpus-VOCABULARY-
    sized — the same order as the corpus text for natural-language n,
    though history text is never re-READ (per-batch cost stays one
    join vs the store). To shrink rows at larger n, store
    ``hash64(sh)`` instead of the gram text, as the batch operator's
    docstring suggests.

    Contract:

    - a batch gram's KEEPER is the stored keeper if the gram is in
      the store (first-seen wins across batches), else the lowest
      batch doc id when >= 2 distinct batch docs share it;
    - tokens of non-keeper occurrences are excised (the
      remove_duplicate_spans cover rule, via the shared
      ``_excise_positions`` tail); keeper docs keep all their
      occurrences;
    - grams NEW to the store append with keeper = lowest batch doc
      id carrying them (so future batches dedup against THIS batch's
      canonical copies); grams already stored append nothing.

    Ingesting batches in ascending doc-id order reproduces the batch
    operator exactly: for every doc, the incremental output equals
    ``remove_duplicate_spans`` over the union of all batches
    (pytest-pinned). Out-of-order ingest changes only WHO keeps a
    span (first-seen, the store's arrival order) — never whether one
    canonical copy survives.

    Rerun safety: replaying an ingested batch finds every gram
    stored with the keeper decided in the first run, so the cleaned
    output is identical and the store gains nothing (idempotent).
    RTBF: the store rows are keyed by keeper doc id —
    ``erase_from_stores(..., id_col="keep", partition_by=
    ["gram_bucket"])`` forgets an erased subject's ownership (the
    gram re-enters as new on next sighting, claimed by a surviving
    doc).

    Scale shape: one gram groupBy over the BATCH (map-side combine),
    one equi-join batch-grams x store on the gram key (the store is
    never rescanned as text), the n-bounded explode + (id,pos)
    anti-join of the batch operator, and an append of only-new gram
    rows. History cost per batch = one join against a
    vocab-of-history-sized store, not a corpus scan.
    """
    from product_etl_spark.operators.dedup import positional_shingles

    grams = positional_shingles(batch, text_col, id_col, n)
    # "duplicated within the batch" == min(id) != max(id) — single-
    # phase aggregate instead of COUNT(DISTINCT) (r16, guide §2.3)
    batch_first = grams.groupBy("sh").agg(
        F.min(F.col(id_col)).alias("_bkeep"),
        F.max(F.col(id_col)).alias("_bmax"),
    )
    store = read_signature_store(spark, store_path)
    if store is not None:
        with_store = batch_first.join(
            store.select("sh", F.col("keep").alias("_skeep")), "sh", "left"
        )
        keepers = with_store.select(
            "sh",
            "_bkeep",
            F.coalesce(
                F.col("_skeep"),
                F.when(
                    F.col("_bkeep") != F.col("_bmax"), F.col("_bkeep")
                ),
            ).alias("_keep"),
            F.col("_skeep").isNotNull().alias("_stored"),
        )
    else:
        keepers = batch_first.select(
            "sh",
            "_bkeep",
            F.when(
                F.col("_bkeep") != F.col("_bmax"), F.col("_bkeep")
            ).alias("_keep"),
            F.lit(False).alias("_stored"),
        )
    keepers = keepers.localCheckpoint(eager=True)  # one store read; the
    # append below must not re-trigger the join against a store this
    # call is itself appending to

    dup = keepers.filter(F.col("_keep").isNotNull()).select("sh", "_keep")
    # non-keeper occurrences feed the islands merge as INTERVALS
    # (pos, _d = n) — the per-token explode + (id, pos) distinct are
    # redundant, the merged islands ARE the union (the q177 shape)
    from product_etl_spark.operators.dedup import _excise_intervals
    from product_etl_spark.operators.suffixes import _merged_spans

    ivals = (
        grams.join(dup, "sh")
        .filter(F.col(id_col) != F.col("_keep"))
        .select(F.col(id_col), "pos", F.lit(n).cast("bigint").alias("_d"))
    )
    spans = _merged_spans(ivals, id_col, n)
    cleaned = _excise_intervals(batch, text_col, id_col, spans)

    new_grams = (
        keepers.filter(~F.col("_stored"))
        .select(
            "sh",
            F.col("_bkeep").alias("keep"),
            F.pmod(F.xxhash64("sh"), F.lit(n_buckets)).alias("gram_bucket"),
        )
    )
    if new_grams.limit(1).count():
        new_grams.write.mode("append").partitionBy("gram_bucket").parquet(
            store_path
        )
    return cleaned


# ------------------------------------------ suffix-span probe store (r13)
#
# Incremental twin of the exact duplicated-span family
# (operators/suffixes.py, q212/q214): "which spans of a NEW batch are
# shared verbatim (>= min_len tokens) with the accepted corpus?" —
# without rescanning accepted text. By the suffix module's
# cover-equality contract a position starts a shared span of
# >= min_len tokens iff its min_len-window occurs in another
# document, so for a FIXED min_len the distinct-window inventory is a
# complete sufficient statistic of history, and it is append-only.
# The probe runs the batch operators' own gate
# (suffixes._shared_window_positions) with the store joined in: one
# batch-window aggregate plus one equi-join on the window key against
# a vocabulary-sized store; the merged islands equal
# suffix_duplicated_spans over the combined corpus restricted to the
# batch (pinned in tests/test_dedup_incremental.py).


def build_suffix_span_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_len: int = 8,
    n_buckets: int = 64,
) -> DataFrame:
    """Persistable probe index for the suffix-span family: one row
    per DISTINCT ``min_len``-gram of the accepted corpus with its
    first-seen owner — (sh, keep, gram_bucket), the same store shape
    as ``incremental_span_excision`` (hash-bucketed for compaction
    and bucket-preserving RTBF erasure via ``erase_from_stores(...,
    id_col='keep', partition_by=['gram_bucket'])``). ``keep`` is the
    lowest doc id carrying the gram in THIS corpus; it exists so a
    replayed batch can recognize its own grams (self-matches are not
    duplication) — the idempotence keystone.

    Scale shape: one gram groupBy (map-side combine) over the corpus;
    the store is gram-vocabulary-sized, never position-sized."""
    from product_etl_spark.operators.dedup import positional_shingles

    return (
        positional_shingles(df, text_col, id_col, min_len)
        .groupBy("sh")
        .agg(F.min(F.col(id_col)).alias("keep"))
        .select(
            "sh",
            "keep",
            F.pmod(F.xxhash64("sh"), F.lit(n_buckets)).alias("gram_bucket"),
        )
    )


def probe_suffix_spans(
    index: DataFrame | None,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    min_len: int = 8,
) -> DataFrame:
    """q212's surface for a NEW batch against a frozen store: one row
    per MAXIMAL merged token interval (>= min_len tokens) of a batch
    document shared verbatim with the indexed history OR another
    batch document — (id, span_start, span_len), never reading
    history text. ``index=None`` degrades to batch-internal spans.

    Contract (pytest-pinned): ingesting batches in ascending doc-id
    order, each batch's probe output equals
    ``suffixes.suffix_duplicated_spans`` over the union of all
    batches so far RESTRICTED to this batch's documents — history
    docs' spans are history's business (they were probed when they
    arrived; the every-holder view needs the batch rebuild).

    Scale shape: one batch gram groupBy, one equi-join against the
    vocabulary-sized store on the gram key, per-doc island windows
    (doc-bounded). Nothing rescans accepted text; nothing is
    corpus^2."""
    from product_etl_spark.operators.suffixes import (
        _shared_window_positions,
        _span_rows,
    )

    dup = _shared_window_positions(
        batch, text_col, id_col, min_len, store=index
    )
    return _span_rows(dup, id_col, min_len)


def probe_suffix_excision(
    index: DataFrame | None,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    min_len: int = 8,
) -> DataFrame:
    """q214's conservative strip for a NEW batch: every batch token
    inside a probe span (shared with indexed history or another
    batch doc) is excised; the q177/q214 original-case
    reconstruction tail. History documents are untouched — excising
    THEM retroactively is the batch operator's job
    (suffixes.suffix_remove_duplicates), not an ingest path's.

    r16 shape: interval excision (dedup._excise_intervals over the
    merged islands — the q214 rewrite): the per-position explode +
    (id, pos) distinct + anti-join + doc reconstruction groupBy never
    materialize; the removal set is identical (every dup position
    carries _d = min_len, so the islands ARE the union of the old
    exploded intervals)."""
    from product_etl_spark.operators.dedup import _excise_intervals
    from product_etl_spark.operators.suffixes import (
        _merged_spans,
        _shared_window_positions,
    )

    dup = _shared_window_positions(
        batch, text_col, id_col, min_len, store=index
    )
    spans = _merged_spans(dup, id_col, min_len)
    return _excise_intervals(batch, text_col, id_col, spans)


