"""Deduplication operators for document corpora at scale.

Five escalating strategies, all pure DataFrame ops (no UDFs):

- ``exact_dedup``           — md5 hash-groupBy (byte-identical)
- ``fingerprint_dedup``     — canonicalized text hash (case/space/
                              punctuation-insensitive)
- ``minhash_signatures``    — k-permutation MinHash sketch over
                              word-bigram shingles
- ``lsh_candidate_pairs``   — banded LSH self-join proposing
                              near-duplicate candidates
- ``jaccard_pairs``         — exact n-gram Jaccard on a candidate set
- ``simhash``               — 16-bit SimHash for hamming-style near-dup

The scale story: exact/fingerprint are one skew-free shuffle on a
uniform hash. MinHash is explode + groupBy with map-side combine.
LSH joins on (band, band_hash) — uniformly distributed keys — then
exact Jaccard verifies only the candidate pairs, never all O(n²).

All hashing is md5-based (functions/text.py) so results are portable
across engines; the driver's DuckDB oracle reproduces every number.

Reference seed: the attribute dictionary dedup-before-expensive-call
pattern (utils/product_attributes_etl.py:60-80,
utils/translate_and_migrate_attributes.py:61-70), generalized to the
training-data operators BASELINE.json calls for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from product_etl_spark.functions import text as T


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct text with the
    minimum id as canonical survivor + duplicate count."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("canonical_id"),
        )
    )


def fingerprint_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Near-exact dedup on the canonical fingerprint (lowercase,
    punctuation stripped, whitespace collapsed)."""
    return (
        df.select(F.col(id_col), T.fingerprint(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("canonical_id"),
        )
    )


#: Mersenne prime for the universal-hash minhash family; products
#: a_i * (h % P) stay under 2^62, so no bigint overflow in either
#: engine (Spark is ANSI: overflow would throw, not wrap).
MINHASH_P = 2_147_483_647


def minhash_params(k: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) universal-hash coefficients, derived
    from md5 so the DuckDB oracle embeds identical literals."""
    import hashlib

    out = []
    for i in range(k):
        a = int(hashlib.md5(f"a{i}".encode()).hexdigest()[:8], 16) % (MINHASH_P - 1) + 1
        b = int(hashlib.md5(f"b{i}".encode()).hexdigest()[:8], 16) % MINHASH_P
        out.append((a, b))
    return out


def exploded_shingles(
    df: DataFrame, text_col: str, id_col: str, n: int = 2
) -> DataFrame:
    """(id, shingle) rows: distinct word n-gram shingles per doc.

    Row-based construction (``positional_shingles``) — explode tokens
    once, then n-1 LEAD windows — instead of array expressions:
    higher-order functions are interpreted (no codegen, no CSE), so
    the array form re-tokenizes the document once per reference
    (measured ~4x the scan cost). Rows also survive documents of any
    length, where per-row arrays eventually blow task memory.
    The (id, shingle) output is distinct; the id partitioning from
    the window shuffle is reused by any following groupBy(id).
    """
    return positional_shingles(df, text_col, id_col, n).select(id_col, "sh").distinct()


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, k: int = 8, shingle_n: int = 2
) -> DataFrame:
    """id -> k minhash columns h0..h{k-1} (bigint) over word n-gram
    shingles.

    Shape: shingle rows (exploded_shingles), hash each shingle
    **once** (md5-based), then k universal-hash variants
    (a_i*h + b_i) mod p as cheap integer MIN aggregations in one
    groupBy. Two earlier shapes measured slower: k array-minima in
    one projection re-inlines the shingle array per column (no CSE
    across higher-order functions, ~8x); k seeded md5s per shingle
    pays the digest cost k times. Docs with < shingle_n tokens have
    no shingles and drop out.
    """
    sh = exploded_shingles(df, text_col, id_col, shingle_n).select(
        F.col(id_col), (T.hash64("sh") % MINHASH_P).alias("hv")
    )
    return sh.groupBy(id_col).agg(
        *[
            F.min((F.lit(a) * F.col("hv") + F.lit(b)) % MINHASH_P).alias(f"h{i}")
            for i, (a, b) in enumerate(minhash_params(k))
        ]
    )


def lsh_candidate_pairs(
    signatures: DataFrame, id_col: str, bands: int = 4, rows_per_band: int = 2
) -> DataFrame:
    """Banded-LSH candidate pairs (id_a < id_b) from a signature
    frame with columns h0..h{bands*rows_per_band-1}."""
    band_hashes = [
        F.md5(
            F.concat_ws(
                "|", *[f"h{b * rows_per_band + r}" for r in range(rows_per_band)]
            )
        )
        for b in range(bands)
    ]
    exploded = signatures.select(
        F.col(id_col),
        F.posexplode(F.array(*band_hashes)).alias("band", "bh"),
    )
    a, b = exploded.alias("a"), exploded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 2,
    threshold: float = 0.2,
    candidates: DataFrame | None = None,
    max_self_join_docs: int = 10_000,
) -> DataFrame:
    """Exact word-n-gram Jaccard for pairs sharing >=1 shingle,
    filtered to >= threshold. Pass ``candidates`` (id_a, id_b) — e.g.
    from lsh_candidate_pairs — to verify only those pairs; without it
    the shingle self-join is exact but O(shared-shingle pairs), which
    OOMs at corpus scale (measured at 100k docs with a shared
    vocabulary). The un-restricted path is therefore GUARDED: it
    raises beyond ``max_self_join_docs`` rows so the full self-join
    can't be reached by accident — run LSH first (or raise the cap
    deliberately for a small corpus).
    """
    if candidates is None:
        n_docs = df.select(id_col).count()
        if n_docs > max_self_join_docs:
            raise ValueError(
                f"jaccard_pairs without candidates on {n_docs} docs "
                f"(cap {max_self_join_docs}): the full shingle "
                "self-join is O(shared-shingle pairs) and OOMs at "
                "corpus scale. Pass candidates=lsh_candidate_pairs(...) "
                "or raise max_self_join_docs explicitly."
            )
    sh = exploded_shingles(df, text_col, id_col, shingle_n).withColumnRenamed(
        "sh", "shingle"
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    if candidates is not None:
        # Candidate-restricted intersection: attach a's shingles to
        # each candidate pair, then match b's shingles on
        # (id_b, shingle). Work is |candidates| x shingle overlap —
        # NEVER the full self-join (filtering after a full shingle
        # self-join would do all the O(shared-shingle pairs) work the
        # LSH stage exists to avoid; that shape OOMed at 100k docs
        # with a shared vocabulary).
        # distinct: a caller-supplied pair frame with duplicate rows
        # (unions without distinct, per-band candidate rows) would
        # multiply n_inter and inflate jaccard past 1.0
        cand = candidates.select("id_a", "id_b").distinct()
        a_sh = sh.select(F.col(id_col).alias("id_a"), "shingle")
        b_sh = sh.select(F.col(id_col).alias("id_b"), "shingle")
        inter = (
            cand.join(a_sh, "id_a")
            .join(b_sh, ["id_b", "shingle"])
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    else:
        a, b = sh.alias("a"), sh.alias("b")
        inter = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .groupBy(
                F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
            )
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("nb"))
    jac = F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(jac >= threshold)
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
    )


def simhash16(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """16-bit SimHash over token frequencies: per-bit signed votes,
    reassembled into an int — near-dups differ in few bits."""
    # hash materialized ONCE per token row; the 16 per-bit votes read
    # the column (referencing the hash64 expression directly would
    # re-inline the md5 into every vote — no CSE for fallback exprs)
    tok = df.select(
        F.col(id_col), F.explode(T.tokens(F.lower(F.col(text_col)))).alias("tok")
    ).withColumn("hv", T.hash64("tok"))
    hv = F.col("hv")
    simhash = None
    for b in range(16):
        vote = F.sum(
            F.when(F.shiftright(hv, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        )
        bit = F.when(vote > 0, F.lit(1)).otherwise(F.lit(0)) * (2**b)
        simhash = bit if simhash is None else simhash + bit
    return tok.groupBy(id_col).agg(simhash.cast("int").alias("simhash16"))


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    gram: int = 4,
    window: int = 3,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken):
    rolling char-``gram`` hashes, minimum per sliding ``window``,
    distinct selected hashes per doc -> (id, fingerprint) rows.

    Two near-identical documents share most fingerprints even when
    edits shift offsets — the local-minimum selection is
    self-synchronizing, unlike fixed-stride sampling. Join on
    fingerprint to find plagiarism-style overlaps.

    Rolling hashes are built row-wise (posexplode of gram positions +
    a min-over-window frame) for the same reasons as
    exploded_shingles: no interpreted array HOF re-evaluation, no
    per-row arrays for huge documents, and the (id) partitioning from
    the window is reused by the distinct.
    """
    # same lowered overlapping-n-gram extraction as the shared
    # T.char_ngrams (one regex pass, zero-width lookahead) — reuse it
    # so a future unicode/escaping fix lands in one place
    grams_arr = T.char_ngrams(text_col, gram)
    grams = df.select(
        F.col(id_col),
        F.posexplode(grams_arr).alias("pos", "g"),
    )
    hv = T.hash64("g") % MINHASH_P
    w = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(0, window - 1)
    )
    selected = (
        grams.select(F.col(id_col), F.col("pos"), hv.alias("hv"))
        .withColumn("win_min", F.min("hv").over(w))
        .withColumn("_n_following", F.count("hv").over(w))
        # a full window ends at this position (mirror of the oracle's
        # range over hash windows)
        .filter(F.col("_n_following") == window)
        .select(F.col(id_col), F.col("win_min").alias("fingerprint"))
        .distinct()
    )
    return selected


def exploded_segments(
    df: DataFrame, text_col: str, id_col: str, seg_words: int = 50
) -> DataFrame:
    """Non-overlapping ``seg_words``-word segments as rows:
    (id, seg_idx, segment, fingerprint). Tokenize once in a projected
    column (higher-order funcs have no CSE — never repeat the split),
    then slice per segment index. Map-only."""
    # T.tokens filters empty strings — a bare split("") returns [""]
    # (size 1), which would slip an empty "segment" per blank/NULL doc
    # past this filter and collide every empty doc on md5("")
    toks = df.select(
        F.col(id_col),
        T.tokens(text_col).alias("_t"),
    ).filter(F.size("_t") > 0)
    n_segs = f"cast(ceil(size(_t) / {seg_words}.0) as int)"
    return (
        toks.select(
            F.col(id_col),
            F.posexplode(F.expr(f"sequence(0, {n_segs} - 1)")).alias(
                "seg_idx", "_i"
            ),
            F.col("_t"),
        )
        .select(
            F.col(id_col),
            "seg_idx",
            F.array_join(
                F.slice("_t", F.col("seg_idx") * seg_words + 1, seg_words), " "
            ).alias("segment"),
        )
        .withColumn("fingerprint", F.md5("segment"))
    )


def remove_duplicate_segments(
    df: DataFrame,
    text_col: str,
    id_col: str,
    seg_words: int = 50,
    out_col: str | None = None,
    include_empty_docs: bool = False,
) -> DataFrame:
    """Exact cross-document segment dedup (the ExactSubstr policy of
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better", at fixed segment granularity): every later occurrence of
    a segment already seen — in another document or earlier in the
    same one — is dropped, and each document's text is rebuilt from
    its surviving segments (first occurrence wins, ordered by
    (id, seg_idx)).

    Scale shape: segments are rows; "first occurrence" is
    ``min(struct(id, seg_idx))`` per fingerprint — a two-phase
    aggregation with map-side partial combine, so a boilerplate
    segment repeated in millions of documents collapses locally
    before the shuffle (a fingerprint-partitioned window would
    concentrate that hot key on one task). Reassembly is one
    groupBy(id) with an order-struct sort — all shuffles keyed
    uniform."""
    segs = exploded_segments(df, text_col, id_col, seg_words)
    firsts = segs.groupBy("fingerprint").agg(
        F.min(F.struct(F.col(id_col), F.col("seg_idx"))).alias("_first")
    )
    kept = (
        segs.join(firsts, "fingerprint")
        .filter(
            (F.col(id_col) == F.col(f"_first.{id_col}"))
            & (F.col("seg_idx") == F.col("_first.seg_idx"))
        )
        .drop("_first")
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.expr("transform(array_sort(collect_list(struct(seg_idx, segment))), x -> x.segment)"),
            " ",
        ).alias(out_col or text_col),
        F.count(F.lit(1)).alias("n_segments_kept"),
    )
    totals = segs.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_segments"))
    # NOTE a document whose EVERY segment is a duplicate has no rows
    # in `kept`, so the default inner join drops it from the output
    # entirely — the behavior a curation chain wants (a verbatim copy
    # of an earlier doc contributes nothing). Pass
    # ``include_empty_docs=True`` to keep one row per input doc
    # instead (empty text, n_segments_kept=0, dup_ratio=1.0) when the
    # caller needs to inspect or account for the fully-removed docs.
    how = "left" if include_empty_docs else "inner"
    out = totals.join(rebuilt, id_col, how).withColumn(
        out_col or text_col, F.coalesce(F.col(out_col or text_col), F.lit(""))
    ).withColumn(
        "n_segments_kept", F.coalesce("n_segments_kept", F.lit(0))
    )
    return out.withColumn(
        "dup_ratio",
        F.round(1 - F.col("n_segments_kept") / F.col("n_segments"), 4),
    )


def dedup_paragraphs_within_doc(
    df: DataFrame,
    text_col: str,
    id_col: str,
    sep: str = "\n\n",
    out_col: str | None = None,
) -> DataFrame:
    """WITHIN-document paragraph dedup, first occurrence wins — the
    Dolma paragraph-dedup policy applied inside each page: templated
    boilerplate repeated within one document (nav blocks, cookie
    banners, footer text stamped per section) is dropped without
    touching cross-document statistics (that is
    ``remove_duplicate_segments``' job). Returns (id, deduped text,
    n_paragraphs_kept).

    Scale shape: paragraphs are ROWS (posexplode of a single split —
    long documents never materialize per-row arrays in agg buffers
    beyond their own paragraph structs); first occurrence is one
    min(pos) aggregation keyed (id, paragraph) — no window;
    reassembly is one groupBy(id) with an order-struct sort. Both
    shuffles key on id(+paragraph) — uniform, and the second reuses
    nothing hot. Empty paragraphs (split artifacts of repeated
    separators) are dropped.
    """
    paras = (
        df.select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "para"),
        )
        .filter(F.trim(F.col("para")) != "")
    )
    firsts = paras.groupBy(id_col, "para").agg(F.min("pos").alias("pos"))
    return firsts.groupBy(id_col).agg(
        F.array_join(
            F.expr("transform(array_sort(collect_list(struct(pos, para))), x -> x.para)"),
            sep,
        ).alias(out_col or text_col),
        F.count(F.lit(1)).alias("n_paragraphs_kept"),
    )


def keep_canonical(
    df: DataFrame, dedup_groups: DataFrame, id_col: str
) -> DataFrame:
    """Filter a corpus to canonical survivors of a dedup grouping
    (semi-join against canonical_id — distributed, no collect)."""
    survivors = dedup_groups.select(F.col("canonical_id").alias(id_col))
    return df.join(survivors, id_col, "left_semi")


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 10,
) -> DataFrame:
    """Transitive closure of near-dup pairs -> (id, component) where
    component is the minimum id reachable (the GraphFrames-free
    connected components), by min-label propagation: every round each
    node adopts the smallest label among itself and its neighbors.

    Cost: O(diameter) rounds, each one join + one groupBy over the
    label frame. Round 1 is folded into the label initialization (one
    groupBy over the edge list), so ``max_iter`` bounds the rounds run
    AFTER that fold, the last of which only observes that no label
    changed: a path of d edges converges at ``max_iter = d`` and
    raises at ``d - 1``. A graph deeper than the cap raises
    RuntimeError; the operator never returns a partial labeling.
    Near-dup clusters are shallow, so the catalog's caps (10-20) hold.

    Intermediate frames are localCheckpointed to cut the growing
    lineage, which otherwise re-executes the whole chain per round.
    The checkpoint is LAZY and the convergence check is the action
    that materializes it: the changed-label count rides the update
    frame itself (a ``_chg`` column summed by the same job), so each
    round submits ONE Spark job instead of an eager-checkpoint job
    plus a separate join-and-count job.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        # Pin the layout every round's join needs: hash(dst) BEFORE
        # the checkpoint, so the LogicalRDD's outputPartitioning
        # already satisfies the join requirement and no round pays an
        # edge-list exchange (r15, guide §2.4 — each round is its own
        # action, so exchange reuse can never kick in across rounds;
        # the labels side is partition-aligned for free because it
        # exits each round's groupBy hash-partitioned on the id).
        .repartition("dst")
        # Dedup RIDES that exchange (r15, guide §2.4): duplicates of
        # (src, dst) share dst, so hash(dst) partitioning already
        # satisfies the aggregate's ClusteredDistribution(src, dst) —
        # dropDuplicates AFTER the repartition plans no exchange of
        # its own, where the old distinct-then-repartition shape
        # shuffled the symmetric edge frame twice.
        .dropDuplicates(["src", "dst"])
        # Materialize ONCE: edges are referenced by every round's join
        # AND convergence count — without the checkpoint each of those
        # actions re-executes the whole upstream pair-generation DAG
        # (measured: q156's PPJoin pairs re-ran ~8x, 7.5s -> ~3s).
        .localCheckpoint(eager=True)
    )
    # Round 1 folded into initialization (r15): starting from
    # identity labels, round 1 produces min(id, min neighbor id) —
    # one groupBy over the edge list, no join needed. This replaces
    # the old distinct-nodes init (same exchange count) AND saves a
    # full propagation round; converged labelings are unchanged
    # (each round only accelerates toward the same fixpoint).
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("_mn"))
        .select(
            F.col("src").alias("id"),
            F.least(F.col("_mn"), F.col("src")).alias("component"),
        )
    )
    for _ in range(max_iter):
        # min(own label, every neighbor's label) in ONE groupBy: the
        # node's own label rides the union as a flagged self row, so
        # the round is join + groupBy (two shuffles), not
        # join + groupBy + second join back onto labels.
        contrib = (
            edges.join(labels, edges.dst == labels.id)
            .select(
                F.col("src").alias("nid"),
                F.col("component").alias("cand"),
                F.lit(False).alias("_self"),
            )
            .unionByName(
                labels.select(
                    F.col("id").alias("nid"),
                    F.col("component").alias("cand"),
                    F.lit(True).alias("_self"),
                )
            )
        )
        updated = (
            contrib.groupBy("nid")
            .agg(
                F.min("cand").alias("component"),
                # exactly one self row per node: its old label
                F.max(F.when(F.col("_self"), F.col("cand"))).alias("_old"),
            )
            .select(
                F.col("nid").alias("id"),
                "component",
                (F.col("component") != F.col("_old")).alias("_chg"),
            )
            # lazy: the convergence agg below is the materializing
            # action (a full scan — ungrouped agg computes every
            # partition), so checkpoint + changed-count is ONE job
            .localCheckpoint(eager=False)
        )
        changed = updated.agg(
            F.sum(F.col("_chg").cast("int")).alias("n")
        ).first()["n"]
        labels = updated.select("id", "component")
        if not changed:
            break
    else:
        raise RuntimeError(
            "connected_components: labels still changing after "
            f"max_iter={max_iter} rounds; raise max_iter"
        )
    return labels


def dedup_corpus(
    df: DataFrame,
    text_col: str,
    id_col: str,
    strategy: str = "fingerprint",
    jaccard_threshold: float = 0.8,
    k: int = 8,
) -> DataFrame:
    """One-call corpus dedup returning the deduplicated frame.

    strategy:
      'exact'       — byte-identical collapse
      'fingerprint' — case/space/punct-insensitive collapse
      'near'        — MinHash-LSH candidates -> exact Jaccard verify
                      (>= jaccard_threshold) -> drop the higher id of
                      each confirmed pair

    'near' is the full scale pipeline: sketch (map + one groupBy),
    band join (uniform keys), exact verification only on candidates,
    survivor semi-join. Nothing touches the driver.
    """
    if strategy == "exact":
        return keep_canonical(df, exact_dedup(df, text_col, id_col), id_col)
    if strategy == "fingerprint":
        return keep_canonical(df, fingerprint_dedup(df, text_col, id_col), id_col)
    if strategy != "near":
        raise ValueError(f"unknown dedup strategy: {strategy}")
    if k < 2 or k % 2:
        raise ValueError(
            f"near dedup needs an even k >= 2 (got k={k}): bands = k//2 "
            "with 2 rows per band — k=1 would build ZERO bands and "
            "silently dedup nothing, odd k silently ignores the last "
            "signature component"
        )
    sig = minhash_signatures(df, text_col, id_col, k=k)
    cand = lsh_candidate_pairs(sig, id_col, bands=k // 2, rows_per_band=2)
    confirmed = jaccard_pairs(
        df, text_col, id_col, threshold=jaccard_threshold, candidates=cand
    )
    # drop the higher id of each confirmed near-dup pair
    losers = confirmed.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def canonical_by_quality(
    df: DataFrame,
    cluster_col: str,
    id_col: str,
    quality_col: str,
    min_members: int = 1,
) -> DataFrame:
    """Highest-QUALITY member per duplicate cluster (vs the min-id
    rule of fingerprint_dedup/keep_canonical): real curation keeps
    the longest/cleanest copy, not the lowest id. Ties -> lowest id.

    One min-struct aggregation — (-quality, id) minimized — so the
    selection is a single partial+final aggregation (SortAggregate
    for the struct buffer, still map-side combinable): no window, no
    whole-corpus sort, no second pass. Returns
    ``(cluster_col, n_members, canonical_id, canonical_quality)``
    for clusters with at least ``min_members`` rows."""
    best = df.groupBy(cluster_col).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min(
            F.struct(
                (-F.col(quality_col).cast("long")).alias("nq"),
                F.col(id_col).cast("long").alias("cid"),
            )
        ).alias("_b"),
    )
    out = best.select(
        cluster_col,
        "n_members",
        F.col("_b.cid").alias("canonical_id"),
        (-F.col("_b.nq")).alias("canonical_quality"),
    )
    return out.filter(F.col("n_members") >= min_members) if min_members > 1 else out


def positional_shingles(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """(id, pos, sh) rows: EVERY word n-gram with its 0-based token
    position (NOT distinct — the span-coverage input needs all
    occurrences), lowercased. Tokens are exploded once and the gram
    is built from n-1 LEAD windows (codegen). ``keep`` names
    per-document columns of ``df`` carried onto every row after
    ``id``.

    The window is partitioned by id but ordered by input row first:
    documents that share an id (or have a NULL one) stay separate
    token streams, and a gram is kept only where its last token sits
    n-1 positions after its first, i.e. in the same document."""
    tok = df.select(
        F.col(id_col),
        *keep,
        F.col(text_col),
        F.monotonically_increasing_id().alias("_doc"),
    ).select(
        F.col(id_col),
        *keep,
        "_doc",
        F.posexplode(T.tokens(F.lower(F.col(text_col)))).alias("pos", "tok"),
    )
    w = Window.partitionBy(id_col).orderBy("_doc", "pos")
    parts = [F.col("tok")] + [F.lead("tok", i).over(w) for i in range(1, n)]
    end = F.lead("pos", n - 1).over(w) if n > 1 else F.col("pos")
    return (
        tok.select(
            F.col(id_col),
            *keep,
            "pos",
            F.concat_ws(" ", *parts).alias("sh"),
            end.alias("_end"),
        )
        .filter(F.col("_end") == F.col("pos") + (n - 1))
        .select(id_col, *keep, "pos", "sh")
    )


def crossdoc_dup_span_coverage(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    min_df: int = 2,
) -> DataFrame:
    """Per-document fraction of tokens inside word n-grams that also
    appear in >= ``min_df`` OTHER-or-same documents (cross-document
    duplicated text) — the "dup n-gram coverage" signal from exact-
    substring dedup (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better"): a high value means most of the
    document is verbatim boilerplate shared across the corpus, even
    when no single whole document is a duplicate.

    Output: (id, n_tokens, covered, coverage) where ``covered`` is
    the size of the UNION of all duplicated-gram intervals
    [pos, pos+n-1] — overlapping grams are merged (gaps-and-islands),
    not double-counted.

    Scale shape: one (gram)-keyed count to find grams with
    df >= min_df (map-side combine; the gram table is vocab-shaped,
    not corpus-shaped after the combine), one equi-join back on the
    gram, then ONE doc-partitioned window pass for the interval
    merge — only DUPLICATED gram positions enter the window, so its
    input is the duplicated fraction of the corpus, not the corpus.
    No self-join anywhere. At larger n, swap the gram string for
    text.hash64(sh) at both the count and join (identical shape,
    8-byte keys)."""
    grams = positional_shingles(df, text_col, id_col, n)
    if min_df == 2:
        # the default gate "in >= 2 distinct docs" is exactly
        # min(id) != max(id): ONE single-phase map-side-combined
        # aggregate instead of COUNT(DISTINCT)'s two-level
        # (sh, id)-keyed dedup aggregate (r16, guide §2.3)
        dup_grams = (
            grams.groupBy("sh")
            .agg(F.min(F.col(id_col)).alias("_i0"),
                 F.max(F.col(id_col)).alias("_i1"))
            .filter(F.col("_i0") != F.col("_i1"))
            .select("sh")
        )
    else:
        dup_grams = (
            grams.groupBy("sh")
            .agg(F.countDistinct(F.col(id_col)).alias("_df"))
            .filter(F.col("_df") >= min_df)
            .select("sh")
        )
    dup_pos = grams.join(dup_grams, "sh").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + F.lit(n - 1)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = dup_pos.withColumn(
        "_new",
        F.when(F.col("pos") > F.coalesce(prev_end, F.lit(-1)), 1).otherwise(0),
    ).withColumn("_isl", F.sum("_new").over(w))
    spans = islands.groupBy(id_col, "_isl").agg(
        (F.max(F.col("pos") + F.lit(n - 1)) - F.min("pos") + F.lit(1)).alias(
            "_len"
        )
    )
    covered = spans.groupBy(id_col).agg(F.sum("_len").alias("covered"))
    base = df.select(F.col(id_col), T.token_count(text_col).alias("n_tokens"))
    return base.join(covered, id_col, "left").select(
        id_col,
        "n_tokens",
        F.coalesce(F.col("covered"), F.lit(0)).cast("bigint").alias("covered"),
        F.when(F.col("n_tokens") <= 0, F.lit(0.0))
        .otherwise(
            F.round(
                F.coalesce(F.col("covered"), F.lit(0)).cast("double")
                / F.col("n_tokens").cast("double"),
                4,
            )
        )
        .alias("coverage"),
    )


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    min_df: int = 2,
) -> DataFrame:
    """Exact-substring dedup END-TO-END (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"):
    EXCISE every maximal cross-document duplicated span. At most the
    keeper's occurrences of each duplicated gram survive; when two
    duplicated grams OVERLAP with different keepers, the keeper's
    copy of one span can be partially excised by the other gram
    (doc0 owns "x a b c d", doc1 owns "a b c d e": doc1 loses a..d,
    so no full copy of "a b c d e" survives) — the per-token cover
    rule below, matching Lee et al.'s behavior, is the contract, not
    span-level canonical-copy preservation. Completes the
    verbatim-repetition ladder whose measurement rung is
    ``crossdoc_dup_span_coverage`` (q147 flags; this removes).

    Contract (deterministic, engine-reproducible):

    - a word ``n``-gram is DUPLICATED when it occurs in >= ``min_df``
      distinct documents (lowercased match, same as q147);
    - its KEEPER is the lowest-id document containing it; every
      occurrence in any other document marks tokens
      ``[pos, pos+n-1]`` for removal (the keeper doc keeps all its
      occurrences of THAT gram — within-keeper repetition is q136's
      job, not this operator's);
    - overlapping marked grams merge implicitly: a token survives
      iff NO duplicated non-keeper gram covers it;
    - ``text_clean`` is the surviving original-case tokens joined by
      single spaces (whitespace normalizes; token COUNT is exact).

    Output: (id, text_clean, n_tokens, n_removed).

    Scale shape: one gram-keyed groupBy (map-side combine — the gram
    frame is vocab-shaped after the combine, carrying (keeper, df)
    per gram), an equi-join back on the gram string that only the
    DUPLICATED occurrences survive, a bounded sequence-explode (n
    rows per duplicated occurrence, never corpus-shaped), one
    (id,pos)-keyed anti-join, and one per-doc groupBy whose
    collect_list is doc-sized (a document's own tokens). No
    self-join, no window over the full corpus. At larger n, swap the
    gram string for text.hash64(sh) at the count and join.
    """
    grams = positional_shingles(df, text_col, id_col, n)
    if min_df == 2:
        # ">= 2 distinct docs" == min(id) != max(id): single-phase
        # map-side-combined aggregate, no COUNT(DISTINCT) dedup level
        # (r16, guide §2.3); min(id) doubles as the keeper
        dup = (
            grams.groupBy("sh")
            .agg(
                F.min(F.col(id_col)).alias("_keep"),
                F.max(F.col(id_col)).alias("_imax"),
            )
            .filter(F.col("_keep") != F.col("_imax"))
            .select("sh", "_keep")
        )
    else:
        dup = (
            grams.groupBy("sh")
            .agg(
                F.countDistinct(F.col(id_col)).alias("_df"),
                F.min(F.col(id_col)).alias("_keep"),
            )
            .filter(F.col("_df") >= min_df)
            .select("sh", "_keep")
        )
    # r16: the non-keeper occurrences go to the islands merge as
    # INTERVALS (pos, _d = n) directly — the per-token explode and
    # its (id, pos) distinct (an n-times-larger exchange) are
    # redundant, because the merged islands of the intervals ARE the
    # union of the exploded positions (the q214 argument)
    from product_etl_spark.operators.suffixes import _merged_spans

    ivals = (
        grams.join(dup, "sh")
        .filter(F.col(id_col) != F.col("_keep"))
        .select(F.col(id_col), "pos", F.lit(n).cast("bigint").alias("_d"))
    )
    spans = _merged_spans(ivals, id_col, n)
    return _excise_intervals(df, text_col, id_col, spans)


def _excise_positions(
    df: DataFrame, text_col: str, id_col: str, removal: DataFrame
) -> DataFrame:
    """Shared excision/reconstruction tail of the span-removal
    operators: drop the (id, pos) token positions in ``removal``,
    rebuild ``text_clean`` from the surviving ORIGINAL-CASE tokens
    (single-space joined), and report exact removed-token counts.

    Scale shape (r16): the removal positions islands-merge per doc
    (ONE window over only the REMOVED positions — the duplicated
    fraction of the corpus, never the corpus) and the intervals
    excise via ``_excise_intervals``: the old corpus-sized token
    posexplode, the (id, pos) anti-join and the per-doc collect_list
    rebuild groupBy (three full-corpus exchanges) never materialize.
    Removal rows may repeat; the merge is duplicate-insensitive."""
    from product_etl_spark.operators.suffixes import _merged_spans

    iv = removal.select(
        F.col(id_col), "pos", F.lit(1).cast("bigint").alias("_d")
    )
    spans = _merged_spans(iv, id_col, 1)
    return _excise_intervals(df, text_col, id_col, spans)


def _excise_intervals(
    df: DataFrame, text_col: str, id_col: str, spans: DataFrame
) -> DataFrame:
    """Interval-form excision/reconstruction tail (r16, guide
    §2.3/§2.4): same output as ``_excise_positions`` when the removal
    set equals the union of ``spans``' half-open token intervals
    (id, span_start, _se) — which is exactly what the suffix removal
    ops produce via ``_merged_spans`` — but none of the heavy frames
    ever materialize. The old tail exploded every covered (id, pos)
    row, distinct-ed them (corpus-dup-sized exchange), posexploded
    the documents' tokens (corpus-sized), anti-joined on (id, pos)
    (another corpus exchange) and re-assembled each document with a
    doc-sized collect_list groupBy (a third). Here the merged
    intervals aggregate to ONE span array per document (span-count
    bounded, already merged so it is small by construction) and a
    higher-order filter drops covered tokens positionally in place:
    one small groupBy + one doc-id join; the token frame never
    exists and the rebuild groupBy disappears.

    Reconstruction contract is ``_excise_positions``'s exactly:
    original-case tokens, single-space joined (untouched documents
    are whitespace-normalized the same way), empty result -> ""."""
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(
            F.struct(
                F.col("span_start").cast("bigint").alias("s"),
                F.col("_se").cast("bigint").alias("e"),
            )
        ).alias("_spans")
    )
    joined = df.join(per_doc, id_col, "left").withColumn(
        "_toks", T.tokens(F.col(text_col))
    )
    kept = F.filter(
        F.col("_toks"),
        lambda t, i: ~F.exists(
            F.col("_spans"), lambda s: (i >= s["s"]) & (i < s["e"])
        ),
    )
    return joined.select(
        F.col(id_col),
        F.when(
            F.col("_spans").isNull(), F.array_join(F.col("_toks"), " ")
        )
        .otherwise(F.array_join(kept, " "))
        .alias("text_clean"),
        F.size("_toks").alias("n_tokens"),
        F.when(F.col("_spans").isNull(), F.lit(0))
        .otherwise(F.size("_toks") - F.size(kept))
        .cast("bigint")
        .alias("n_removed"),
    )


def remove_repeated_spans_within_doc(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
) -> DataFrame:
    """WITHIN-document gram-level repetition removal — the removal
    rung for the ``dup_ngram_fraction`` flag (q144): a document that
    repeats its own boilerplate (headers, navigation, chorus lines)
    keeps ONE copy. Complements ``remove_duplicate_spans`` (cross-doc,
    q177) and ``dedup_paragraphs_within_doc`` (whole-paragraph, q136):
    this catches sub-paragraph self-repetition.

    Contract: for every n-gram occurring >= 2 times in a doc
    (lowercased match), its FIRST occurrence's tokens survive; a
    token is excised iff it is covered by some repeated gram's
    occurrence and NOT covered by any repeated gram's first
    occurrence. On a run like ``a a a a a a`` (n=3) this keeps
    exactly the first ``a a a`` — overlap collapses to one canonical
    copy, never to less.

    Output: (id, text_clean, n_tokens, n_removed) — same surface as
    remove_duplicate_spans.

    Scale shape: one (id, gram)-keyed groupBy (map-side combine,
    per-doc-vocab-shaped), join back on (id, gram), two n-bounded
    sequence explodes, one (id,pos) anti-join between them, then the
    shared doc-sized reconstruction. Everything is keyed by doc id —
    no cross-doc shuffle at all, so the operator scales with the
    corpus embarrassingly."""
    grams = positional_shingles(df, text_col, id_col, n)
    rep = (
        grams.groupBy(id_col, "sh")
        .agg(F.count(F.lit(1)).alias("_c"), F.min("pos").alias("_first"))
        .filter(F.col("_c") >= 2)
        .select(id_col, "sh", "_first")
    )
    occ = grams.join(rep, [id_col, "sh"])
    cov = F.explode(
        F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
    ).alias("pos")
    covered_any = occ.select(F.col(id_col), cov).distinct()
    covered_first = (
        occ.filter(F.col("pos") == F.col("_first"))
        .select(F.col(id_col), cov)
        .distinct()
    )
    removal = covered_any.join(covered_first, [id_col, "pos"], "left_anti")
    return _excise_positions(df, text_col, id_col, removal)


def set_similarity_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold_num: int = 3,
    threshold_den: int = 5,
    shingle_n: int = 1,
) -> DataFrame:
    """EXACT set-similarity join (PPJoin-style prefix filtering,
    Xiao et al. 2008): all pairs whose distinct-token Jaccard >=
    threshold_num/threshold_den — the deterministic complement to the
    probabilistic MinHash-LSH path (LSH can miss pairs near the
    threshold; this cannot, and needs no signature tuning).

    Candidate generation: tokens order globally by (document
    frequency asc, token) — rare first — and each document exposes
    only its PREFIX of length |s| - ceil(t*|s|) + 1. Two sets with
    Jaccard >= t MUST share a prefix token (pigeonhole on the
    ordered overlap), so joining on prefix tokens is lossless while
    frequent tokens (the quadratic blowup) mostly fall outside
    prefixes. Verification computes exact intersection sizes and
    keeps pairs by the INTEGER cross-multiplied predicate
    den*inter >= num*union — no float in the decision.

    Output: (id_a, id_b, n_inter, n_union, jaccard ROUND 1e-4).

    Scale shape: df counts are one token-keyed aggregate (map-side
    combine); prefix positions are per-doc windows over the doc's own
    tokens; the candidate join keys on prefix tokens whose frequency
    the prefix rule itself suppresses; verification joins the
    candidate pairs back to per-doc sorted token arrays (one
    collect_set per doc) and runs array_intersect per candidate.
    Never all-pairs: candidates are bounded by prefix-token
    co-occurrence. Hot stop-token risk is structural: a token can
    only generate candidates from docs where it lands in the prefix,
    i.e. docs with almost no rarer tokens. ``shingle_n`` switches the
    set element to word n-gram shingles."""
    if shingle_n > 1:
        toks = exploded_shingles(df, text_col, id_col, shingle_n).select(
            F.col(id_col), F.col("sh").alias("tok")
        )
    else:
        toks = df.select(
            F.col(id_col),
            F.explode(
                F.array_distinct(T.tokens(F.lower(F.col(text_col))))
            ).alias("tok"),
        )
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("_df"))
    sized = toks.join(dfreq, "tok")
    wpos = Window.partitionBy(id_col).orderBy("_df", "tok")
    wsz = Window.partitionBy(id_col)
    ranked = sized.withColumn("_pos", F.row_number().over(wpos)).withColumn(
        "_sz", F.count(F.lit(1)).over(wsz)
    )
    prefix_len = (
        F.col("_sz")
        - F.ceil(
            F.col("_sz") * F.lit(threshold_num) / F.lit(threshold_den)
        )
        + 1
    )
    prefix = ranked.filter(F.col("_pos") <= prefix_len).select(id_col, "tok")
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    sets = toks.groupBy(id_col).agg(
        F.sort_array(F.collect_set("tok")).alias("_set")
    )
    sa = sets.select(
        F.col(id_col).alias("id_a"), F.col("_set").alias("_set_a")
    )
    sb = sets.select(
        F.col(id_col).alias("id_b"), F.col("_set").alias("_set_b")
    )
    inter = F.size(F.array_intersect("_set_a", "_set_b"))
    union = F.size("_set_a") + F.size("_set_b") - inter
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            inter.alias("n_inter"),
            union.alias("n_union"),
        )
        .filter(
            F.lit(threshold_den) * F.col("n_inter")
            >= F.lit(threshold_num) * F.col("n_union")
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter").cast("double")
                / F.col("n_union").cast("double"),
                4,
            ),
        )
    )


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold_num: int = 4,
    threshold_den: int = 5,
) -> DataFrame:
    """EXACT set-CONTAINMENT join: pairs where |A∩B| / |A| >=
    threshold (A's distinct tokens mostly inside B) — the ASYMMETRIC
    near-superset complement to the symmetric Jaccard join (q154):
    Jaccard misses a short document embedded in a long one (the
    boilerplate-wrapped page, the quoted post, the README pasted into
    a bundle), because the union is dominated by the big side.

    Candidate rule (prefix filter for overlap joins, Chaudhuri et al.
    2006): order tokens globally by (df asc, token); if
    |A∩B| >= ceil(t*|A|), then B must contain one of A's FIRST
    |A| - ceil(t*|A|) + 1 tokens — only the CONTAINED side needs a
    prefix, so candidates come from A-prefix tokens x B tokens.
    A-prefix tokens are each doc's globally rarest, which is what
    bounds the hot-token fan-out; the B side is restricted to tokens
    that appear in some A-prefix by the join itself.

    Verification: exact intersection via sorted token arrays on
    candidate pairs only; keep by the integer predicate
    den*inter >= num*|A|. Output: (id_small, id_big, n_small,
    n_inter, containment ROUND 4), id_small != id_big (both
    orientations tested independently — containment is directional).
    """
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(T.tokens(F.lower(F.col(text_col))))
        ).alias("tok"),
    )
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("_df"))
    sized = toks.join(dfreq, "tok")
    wpos = Window.partitionBy(id_col).orderBy("_df", "tok")
    wsz = Window.partitionBy(id_col)
    ranked = sized.withColumn("_pos", F.row_number().over(wpos)).withColumn(
        "_sz", F.count(F.lit(1)).over(wsz)
    )
    prefix_len = (
        F.col("_sz")
        - F.ceil(
            F.col("_sz") * F.lit(threshold_num) / F.lit(threshold_den)
        )
        + 1
    )
    a_prefix = ranked.filter(F.col("_pos") <= prefix_len).select(
        F.col(id_col).alias("id_small"), "tok"
    )
    cand = (
        a_prefix.join(
            toks.select(F.col(id_col).alias("id_big"), "tok"), "tok"
        )
        .filter(F.col("id_small") != F.col("id_big"))
        .select("id_small", "id_big")
        .distinct()
    )
    sets = toks.groupBy(id_col).agg(
        F.sort_array(F.collect_set("tok")).alias("_set")
    )
    sa = sets.select(
        F.col(id_col).alias("id_small"), F.col("_set").alias("_set_a")
    )
    sb = sets.select(
        F.col(id_col).alias("id_big"), F.col("_set").alias("_set_b")
    )
    inter = F.size(F.array_intersect("_set_a", "_set_b"))
    return (
        cand.join(sa, "id_small")
        .join(sb, "id_big")
        .select(
            "id_small",
            "id_big",
            F.size("_set_a").alias("n_small"),
            inter.alias("n_inter"),
        )
        .filter(
            F.lit(threshold_den) * F.col("n_inter")
            >= F.lit(threshold_num) * F.col("n_small")
        )
        .withColumn(
            "containment",
            F.round(
                F.col("n_inter").cast("double")
                / F.col("n_small").cast("double"),
                4,
            ),
        )
    )


def merge_components(
    old_labels: DataFrame,
    new_edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 10,
) -> DataFrame:
    """Fold NEW near-dup edges into an existing (id, component)
    labeling WITHOUT recomputing over history's full edge list — the
    incremental twin of ``connected_components``, same contract as
    the signature-store probes: history is represented by its
    folded state, never rescanned.

    The old labeling collapses losslessly to STAR edges (node -> its
    component root): stars preserve exactly the old connectivity
    (every old cluster stays one piece) and the root is already the
    cluster's minimum id, so min-label propagation over
    (stars UNION new edges) yields the SAME labels as a full rerun
    over (all old edges UNION new edges) — pytest-asserted. Input
    size: one row per historical NODE instead of one per historical
    EDGE (near-dup edge lists are the bigger side), and clusters
    untouched by new edges keep their labels bit-identically. Raises
    RuntimeError, as ``connected_components`` does, when ``max_iter``
    rounds end short of the fixpoint.
    """
    stars = old_labels.select(
        F.col("id").alias(id_a), F.col("component").alias(id_b)
    )
    combined = stars.unionByName(new_edges.select(id_a, id_b))
    return connected_components(combined, id_a, id_b, max_iter=max_iter)


def weighted_set_similarity_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold_num: int = 1,
    threshold_den: int = 2,
    tiers: tuple = ((2, 3), (10, 2)),
    default_weight: int = 1,
) -> DataFrame:
    """EXACT weighted-Jaccard join: pairs whose RARITY-WEIGHTED
    Jaccard >= num/den — the boilerplate-insensitive near-dup:
    unweighted Jaccard lets shared template/boilerplate tokens carry
    the same vote as genuinely identifying rare tokens, so templated
    corpora either flood (low threshold) or hide real dups (high).
    Each distinct token takes an INTEGER weight by document-frequency
    tier (``tiers`` = ((df_cap, weight), ...) checked in order, else
    ``default_weight``) — integer weights keep the whole decision in
    exact arithmetic (den*w_inter >= num*w_union, no floats).

    Candidate rule (weighted prefix filter — the PPJoin pigeonhole
    generalized): tokens order globally by (df asc, token); doc A's
    prefix is every position whose PRECEDING cumulative weight is <=
    W_A - ceil(t*W_A): if B misses all of A's prefix tokens, the
    shared weight fits in A's suffix, which is < the required
    overlap ceil(t*W_A) <= ceil(t*w_union) — and by the first-shared-
    token-in-global-order argument the match must lie in BOTH
    prefixes, so candidates come from a prefix-row x prefix-row join
    only. Verification is a candidate-pair-restricted token join
    summing shared weights (weights are global per token, so either
    side's weight works).

    Output: (id_a, id_b, w_inter, w_union, wjaccard ROUND 4),
    id_a < id_b."""
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(T.tokens(F.lower(F.col(text_col))))
        ).alias("tok"),
    )
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("_df"))
    wt = F.lit(default_weight)
    for cap, w in reversed(tiers):
        wt = F.when(F.col("_df") <= cap, F.lit(w)).otherwise(wt)
    wtoks = toks.join(dfreq, "tok").select(
        id_col, "tok", "_df", wt.alias("_wt")
    )
    wpos = Window.partitionBy(id_col).orderBy("_df", "tok")
    wsz = Window.partitionBy(id_col)
    ranked = (
        wtoks.withColumn("_cum", F.sum("_wt").over(wpos))
        .withColumn("_W", F.sum("_wt").over(wsz))
        .withColumn("_cum_before", F.col("_cum") - F.col("_wt"))
    )
    required = F.ceil(
        F.col("_W") * F.lit(threshold_num) / F.lit(threshold_den)
    )
    prefix = ranked.filter(
        F.col("_cum_before") <= F.col("_W") - required
    ).select(id_col, "tok")
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    wa = wtoks.select(
        F.col(id_col).alias("id_a"), "tok", F.col("_wt").alias("_w")
    )
    wb = wtoks.select(F.col(id_col).alias("id_b"), "tok")
    winter = (
        cand.join(wa, "id_a")
        .join(wb, ["id_b", "tok"])
        .groupBy("id_a", "id_b")
        .agg(F.sum("_w").alias("w_inter"))
    )
    tot = wtoks.groupBy(id_col).agg(F.sum("_wt").alias("_W"))
    ta = tot.select(F.col(id_col).alias("id_a"), F.col("_W").alias("_Wa"))
    tb = tot.select(F.col(id_col).alias("id_b"), F.col("_W").alias("_Wb"))
    union = F.col("_Wa") + F.col("_Wb") - F.col("w_inter")
    return (
        winter.join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn("w_union", union)
        .filter(
            F.lit(threshold_den) * F.col("w_inter")
            >= F.lit(threshold_num) * F.col("w_union")
        )
        .select(
            "id_a",
            "id_b",
            "w_inter",
            "w_union",
            F.round(
                F.col("w_inter").cast("double")
                / F.col("w_union").cast("double"),
                4,
            ).alias("wjaccard"),
        )
    )


def hard_negative_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_jaccard_num: int = 3,
    max_jaccard_den: int = 10,
    per_doc: int = 3,
    k: int = 8,
    bands: int = 4,
    rows_per_band: int = 2,
    shingle_n: int = 2,
) -> DataFrame:
    """Contrastive HARD-NEGATIVE mining over the corpus: pairs that
    LSH banding proposes as candidates (textually adjacent enough to
    collide on a full minhash band) but whose EXACT shingle Jaccard
    verifies BELOW ``max_jaccard_num/max_jaccard_den`` — the
    near-miss pairs contrastive training wants as negatives, far more
    informative than random pairs (which are trivially dissimilar)
    and guaranteed not to be latent positives (the exact verify
    bounds their true similarity).

    Per anchor doc, the ``per_doc`` HARDEST negatives are kept —
    lowest exact Jaccard first (a candidate that banded together yet
    shares almost nothing is the most adversarial negative), ties by
    neighbor id. Output: (id_a, id_b, jaccard, rank), id_a < id_b.

    Determinism: the banding is the md5 minhash (engine-portable),
    the below-ceiling filter is integer cross-multiplied
    (den*inter < num*union — no float compare), and jaccard is ONE
    IEEE division rounded to 4dp, so two engines cannot disagree on
    membership, value, or rank order.

    Scale shape: q32's skew-free (band, band-hash) candidate join,
    then the exact verify touches ONLY candidate pairs (q33's
    discipline): candidates equi-join the shingle frame on the
    anchor id, then on (shingle, neighbor id) — work is
    candidate-bounded, never corpus^2. Zero-intersection candidates
    (pure band collisions) survive via the left join — they are the
    hardest negatives of all. One per-anchor window over <=
    candidate rows ranks the survivors.
    """
    sig = minhash_signatures(df, text_col, id_col, k=k, shingle_n=shingle_n)
    # r16 note (measured, kept deliberately): localCheckpoint-pinning
    # the candidate frame (it feeds both the intersection count and
    # the scored left join) was tried and REJECTED — AQE's
    # ReusedExchange already dedupes the repeated signature subtree,
    # and the eager pin replaced that reuse with its own
    # materialization job: q180 2.87 -> 3.69 s, jobs 10 -> 12/rep.
    cand = lsh_candidate_pairs(
        sig, id_col, bands=bands, rows_per_band=rows_per_band
    )
    sh = exploded_shingles(df, text_col, id_col, shingle_n)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n"))
    sh_a = sh.select(F.col(id_col).alias("id_a"), F.col("sh"))
    sh_b = sh.select(F.col(id_col).alias("id_b"), F.col("sh"))
    inter = (
        cand.join(sh_a, "id_a")
        .join(sh_b, ["id_b", "sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_ni"))
    )
    scored = (
        cand.join(inter, ["id_a", "id_b"], "left")
        .join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("_n").alias("_na")),
            "id_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("id_b"), F.col("_n").alias("_nb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.coalesce(F.col("_ni"), F.lit(0)).alias("_ni"),
            (F.col("_na") + F.col("_nb") - F.coalesce(F.col("_ni"), F.lit(0)))
            .alias("_union"),
        )
        .filter(
            F.lit(max_jaccard_den) * F.col("_ni")
            < F.lit(max_jaccard_num) * F.col("_union")
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("_ni").cast("double") / F.col("_union").cast("double"),
                4,
            ),
        )
    )
    w = Window.partitionBy("id_a").orderBy(
        F.col("jaccard").asc(), F.col("id_b").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= per_doc)
        .select("id_a", "id_b", "jaccard", "rank")
    )


def cluster_safe_folds(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    n_folds: int = 3,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 12,
) -> DataFrame:
    """Leakage-safe split assignment: every near-duplicate CLUSTER —
    not every document — lands in one fold, so train and held-out
    splits can never share near-duplicates (the evaluation-leakage
    fix Lee et al. 2022 motivate: plain per-row folds like q183's put
    a duplicated document on both sides of the split). fold =
    portable-hash(component) mod n_folds, where component is the
    connected-components label of the near-dup pair graph (singletons
    label themselves) — a pure FUNCTION of the cluster id, so "no
    cluster straddles folds" holds by construction (and is
    pytest-asserted on a planted graph), and assignments are stable
    under re-runs and appends that don't bridge clusters.

    Output: (id, component, fold) for every input document.

    Scale shape: the closure is ``connected_components`` (O(diameter)
    propagation rounds; raises RuntimeError past ``max_iter``);
    singletons join back with one left join; the fold is a map-side
    hash. The pair frame comes from any upstream near-dup stage (LSH,
    PPJoin, SemDeDup) — this operator never touches text or
    embeddings."""
    from product_etl_spark.functions.text import hash64

    comp = connected_components(
        pairs.select(id_a, id_b), id_a, id_b, max_iter=max_iter
    )
    labeled = (
        docs.select(F.col(id_col))
        .join(
            comp.withColumnRenamed("id", id_col), id_col, "left"
        )
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("component"),
        )
    )
    return labeled.withColumn(
        "fold",
        F.pmod(
            hash64(F.col("component").cast("string")), F.lit(n_folds)
        ).cast("int"),
    )


def minhash_recall_audit(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    bands: int = 4,
    shingle_n: int = 2,
    t_num: int = 1,
    t_den: int = 2,
    max_truth_docs: int = 10_000,
) -> DataFrame:
    """MinHash-LSH quality EVALUATION — the text-side sibling of the
    embedding recall audit (similarity.ann_recall_audit / q194): on a
    BOUNDED document sample, score the banded-LSH candidate set
    (minhash_signatures + lsh_candidate_pairs — the exact q31/q32
    production path) against the exact-Jaccard ground truth at
    threshold t_num/t_den. Recall says what the bands miss;
    precision says how much verify work the candidates waste — the
    two numbers that pick (bands, rows_per_band) before a corpus
    run.

    Output: ONE row (n_truth, n_candidates, n_hits, recall,
    precision); recall/precision are 1.0 when their denominator is
    empty (vacuous success, both engines agree by the same rule).

    Float policy: the truth set is integer-decided
    (t_den * |intersection| >= t_num * |union| — no float Jaccard
    anywhere); all counts are BIGINTs; the two ratios are single
    divisions.

    Scale shape: ground truth is all-pairs BY DESIGN and therefore
    GUARDED to ``max_truth_docs`` (the jaccard_pairs contract) —
    the audit runs on a sample, the production path it measures
    stays banded; the candidate leg is the skew-free (band, hash)
    join."""
    if bands <= 0 or k % bands != 0:
        # k // bands would silently audit a DIFFERENT banding scheme
        # than configured (k=10, bands=4 -> only h0..h7 used), and
        # bands > k gives rows_per_band = 0, where every band hash is
        # md5('') — identical for all docs, i.e. all-pairs candidates.
        raise ValueError(
            f"minhash_recall_audit: k={k} must be a positive multiple "
            f"of bands={bands} (rows_per_band = k // bands)."
        )
    n_docs = docs.select(id_col).count()
    if n_docs > max_truth_docs:
        raise ValueError(
            f"minhash_recall_audit on {n_docs} docs (cap "
            f"{max_truth_docs}): exact ground truth is all-pairs — "
            "audit a bounded sample, not the corpus."
        )
    sh = exploded_shingles(docs, text_col, id_col, shingle_n)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("nb"))
    truth = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(
            F.lit(t_den) * F.col("n_inter")
            >= F.lit(t_num)
            * (F.col("na") + F.col("nb") - F.col("n_inter"))
        )
        .select("id_a", "id_b")
    )
    sig = minhash_signatures(docs, text_col, id_col, k=k, shingle_n=shingle_n)
    cand = lsh_candidate_pairs(
        sig, id_col, bands=bands, rows_per_band=k // bands
    )
    hits = truth.join(cand, ["id_a", "id_b"])
    nt = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    nc = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    nh = hits.agg(F.count(F.lit(1)).alias("n_hits"))
    return (
        nt.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(nh))
        .select(
            F.col("n_truth").cast("long").alias("n_truth"),
            F.col("n_candidates").cast("long").alias("n_candidates"),
            F.col("n_hits").cast("long").alias("n_hits"),
            F.when(F.col("n_truth") == 0, F.lit(1.0))
            .otherwise(
                F.round(
                    F.col("n_hits").cast("double")
                    / F.col("n_truth").cast("double"),
                    6,
                )
            )
            .alias("recall"),
            F.when(F.col("n_candidates") == 0, F.lit(1.0))
            .otherwise(
                F.round(
                    F.col("n_hits").cast("double")
                    / F.col("n_candidates").cast("double"),
                    6,
                )
            )
            .alias("precision"),
        )
    )
