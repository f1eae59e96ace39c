"""PCA sufficient statistics over embedding columns — the exact
moment surface (mean and sample covariance) a PCA fit consumes.

Why in a training-data engine: PCA (or its rotation cousin OPQ) is
the standard preprocessing step before product quantization — axis-
aligned subspace splits (pq.py) quantize better after decorrelating
dimensions — and the cheap dimensionality reducer for similarity
sweeps (SemDeDup runs on PCA-reduced embeddings). The d x d
eigendecomposition runs wherever the moments land (d is bounded by
contract, the same k·dim driver-state contract as IVF centroids);
this module produces its whole input, engine-exactly.

Scale shape (the sufficient-statistics pattern): each Arrow batch
reduces to exact integer Gram partials, and those partials SUM in
one dim-keyed aggregate — at d=64 a partial is 2080 rows, so a
1000-executor reduce moves megabytes, not data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pca_moments(
    corpus: DataFrame,
    emb_col: str,
    dim: int = 64,
) -> DataFrame:
    """ENGINE-EXACT sufficient statistics for PCA: one row per
    upper-triangle dimension pair (i <= j) with
    (i, j, n, s_i, s_j, gram) where s_i = SUM(round(x_i, 6)) and
    gram = SUM(round(x_i, 6) * round(x_j, 6)) as EXACT decimal sums
    (the q102/q161 moment recipe lifted to the Gram matrix), cast to
    double once at the surface. mean and covariance — everything a
    PCA eigendecomposition consumes — reconstruct from this frame
    alone: mean_i = s_i/n (from the (i,i) row), cov_ij =
    (gram_ij - n*mean_i*mean_j)/(n-1). The eigensolve itself is not
    ANSI-expressible, but its entire input is — this query is the
    driver-hashable pin for the PCA family (the q142 seeding-rule
    pattern).

    Scale shape: PURE MAP + one map-side-combined groupBy on
    dim*(dim+1)/2 keys — each row expands to its own upper-triangle
    pair structs inside one higher-order expression (no self-join,
    no explode-then-join); the output is dim-bounded (2080 rows at
    d=64), never corpus-sized. The decimal partials are mergeable,
    so a 100 TB fit is one aggregate — the same contract as the
    integrity checksums (q143).

    Row-level NULL/short-vector policy: a pair term with EITHER
    dimension missing is dropped before aggregation, so that pair's
    n, sums and gram all come from the same well-formed row set —
    malformed vectors cannot silently skew the fit (same poisoning
    stance as signbit_bands)."""
    # round+cast each dimension ONCE per row (dim ops), then scale the
    # exact DECIMAL(18,6) to an INTEGER count of 1e-6 units — decimal
    # * integer literal is exact decimal arithmetic, so the bigint
    # carries the identical rational value the old decimal pipeline
    # aggregated. NULL elements / NULL rows stay NULL.
    scaled = F.expr(
        f"transform({emb_col}, v -> CAST("
        "CAST(ROUND(CAST(v AS DOUBLE), 6) AS DECIMAL(18,6)) * 1000000"
        " AS BIGINT))"
    )

    # Per-task exact Gram partials via one Arrow-batched integer
    # matmul (r15, guide §4.2/§1.2): the old shape exploded dim*(dim+1)/2
    # pair structs PER ROW and pushed ~n*dim^2/2 rows of BigDecimal
    # multiplies through a hash aggregate — measured at sf0.1 the
    # explode alone cost more than half the query. Here each task
    # builds (rows x dim) int64 value/mask matrices per Arrow batch and
    # takes four matmuls (M'M = pairwise counts, V'M / M'V = per-pair
    # coordinate sums over the SAME well-formed row set, V'V = gram);
    # int64 exactness is guarded by chunking each batch so that
    # max|v|^2 * chunk_rows < 2^62, and cross-batch accumulation is
    # arbitrary-precision Python int. One 2080-row partial leaves each
    # task (shuffle is pair-count x tasks, never corpus-sized) and the
    # final decimal sums are exact — bit-identical doubles at the
    # surface (oracle hash unchanged; pinned by the parity tests).
    n_dim = dim

    def _gram_partials(batches):
        from decimal import Decimal

        import numpy as np
        import pyarrow as pa

        tot_n = np.zeros((n_dim, n_dim), dtype=np.int64)
        tot_s = np.zeros((n_dim, n_dim), dtype=object)  # Python ints
        tot_sj = np.zeros((n_dim, n_dim), dtype=object)
        tot_g = np.zeros((n_dim, n_dim), dtype=object)
        tot_s[:], tot_sj[:], tot_g[:] = 0, 0, 0
        seen = False
        for batch in batches:
            rows = batch.column(0).to_pylist()
            k = len(rows)
            if not k:
                continue
            seen = True
            V = np.zeros((k, n_dim), dtype=np.int64)
            M = np.zeros((k, n_dim), dtype=np.int64)
            for r, lst in enumerate(rows):
                if lst is None:
                    continue
                if len(lst) > n_dim:
                    # LOUD guard (r12 ADVICE): silently truncating a
                    # too-long embedding would surface as an opaque
                    # parity failure
                    raise ValueError(
                        f"pca_moments: embedding has {len(lst)} dims"
                        f" > dim={n_dim} — reading only 0..{n_dim - 1}"
                        " would silently truncate the vector; pass the"
                        " true dim"
                    )
                for i, x in enumerate(lst):
                    if x is not None:
                        V[r, i] = x
                        M[r, i] = 1
            amax = int(np.abs(V).max()) if k else 0
            # int64-exact chunk size: products are <= amax^2, so a
            # chunk of c rows keeps every matmul cell under c*amax^2.
            c = k if amax == 0 else max(1, min(k, (1 << 62) // (amax * amax)))
            for lo in range(0, k, c):
                Vc, Mc = V[lo : lo + c], M[lo : lo + c]
                tot_n += Mc.T @ Mc
                tot_s += Vc.T @ Mc
                tot_sj += Mc.T @ Vc
                tot_g += Vc.T @ Vc
        if not seen:
            return
        ii, jj = np.triu_indices(n_dim)
        keep = tot_n[ii, jj] > 0
        ii, jj = ii[keep], jj[keep]
        six = Decimal(10) ** -6
        twelve = Decimal(10) ** -12
        yield pa.record_batch(
            [
                pa.array(ii, type=pa.int32()),
                pa.array(jj, type=pa.int32()),
                pa.array(tot_n[ii, jj], type=pa.int64()),
                pa.array(
                    [Decimal(int(tot_s[i, j])) * six for i, j in zip(ii, jj)],
                    type=pa.decimal128(38, 6),
                ),
                pa.array(
                    [Decimal(int(tot_sj[i, j])) * six for i, j in zip(ii, jj)],
                    type=pa.decimal128(38, 6),
                ),
                pa.array(
                    [
                        Decimal(int(tot_g[i, j])) * twelve
                        for i, j in zip(ii, jj)
                    ],
                    type=pa.decimal128(38, 12),
                ),
            ],
            names=["i", "j", "n", "s_i", "s_j", "gram"],
        )

    parts = corpus.select(scaled.alias("_sc")).mapInArrow(
        _gram_partials,
        "i int, j int, n bigint, s_i decimal(38,6), s_j decimal(38,6),"
        " gram decimal(38,12)",
    )
    return (
        parts.groupBy("i", "j")
        .agg(
            F.sum("n").alias("n"),
            F.sum("s_i").alias("s_i"),
            F.sum("s_j").alias("s_j"),
            F.sum("gram").alias("gram"),
        )
        .select(
            F.col("i").cast("int").alias("i"),
            F.col("j").cast("int").alias("j"),
            F.col("n").cast("long").alias("n"),
            F.col("s_i").cast("double").alias("s_i"),
            F.col("s_j").cast("double").alias("s_j"),
            F.col("gram").cast("double").alias("gram"),
        )
        .orderBy("i", "j")
    )
