"""Vector math over array<float|double> embedding columns.

Two forms of the same arithmetic: each product is taken in double and
the terms are folded left from 0.0 in element order.

- ``dot``, ``norm``, ``l2_distance``: Catalyst
  higher-order functions (``zip_with`` + ``aggregate``), no UDF, so
  scans column-prune down to (id, embedding) at the parquet reader.
- ``dot_udf``, ``pq_codes_udf``, ``adc_dist2_udf``: Arrow-batched
  pandas UDF kernels for the per-pair and per-row hot loops (cosine
  pairs, PQ encode, PQ asymmetric distance). Each folds with
  ``np.cumsum``, which must emit every prefix and so cannot
  reassociate: the last prefix equals the interpreted fold, and the
  DuckDB oracle's generated SQL, bit-for-bit. They share one batch
  guard (``_batch_guard``); each keeps its own policy for rows that
  do not fit.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: Column | str, b: Column | str) -> Column:
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column | str) -> Column:
    return F.sqrt(
        F.aggregate(
            _c(a),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def sq_norm_fold(v: list[float]) -> float:
    """||v||^2 folded left from 0.0 in element order: ``norm``'s
    arithmetic, evaluated once on the driver for a literal vector
    (a PQ centroid)."""
    acc = 0.0
    for x in v:
        acc = acc + float(x) * float(x)
    return acc


def safe_cosine(dot_col: Column, norm_a: Column, norm_b: Column) -> Column:
    """dot/(na*nb) with a zero-norm guard: an all-zero embedding (the
    common placeholder for a missing embedding) yields similarity 0.0
    instead of throwing DIVIDE_BY_ZERO under ANSI mode (the Spark 4
    default) or silently producing NULL with ANSI off."""
    denom = norm_a * norm_b
    return F.when(denom == F.lit(0.0), F.lit(0.0)).otherwise(dot_col / denom)


def l2_distance(a: Column | str, b: Column | str) -> Column:
    return F.sqrt(
        F.aggregate(
            F.zip_with(
                _c(a),
                _c(b),
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


# ------------------------------------------------------- Arrow kernels


def _batch_guard():
    """The stack-and-check step of every kernel below, as
    ``(fits, stack)``:

    - ``fits(v, width)``: row ``v`` is a ``width``-long vector with no
      NULL or NaN element. Arrow hands a NULL element to pandas as
      NaN, so the two cannot be told apart inside a kernel.
    - ``stack(values, width=None)``: the batch as an (n, width)
      float64 matrix, or None when some row does not ``fit``
      (``width=None`` accepts any width the rows share).

    A factory rather than module-level functions because the kernels
    must be pickled BY VALUE (Python workers cannot import
    product_etl_spark) and cloudpickle ships a module-level function
    by reference; nested functions travel inside the kernel's
    closure."""

    def fits(v, width: int) -> bool:
        if v is None or len(v) != width:
            return False
        try:
            return not np.isnan(np.asarray(v, dtype=np.float64)).any()
        except (TypeError, ValueError):  # a Python None element
            return False

    def stack(values, width: int | None = None):
        if len(values) == 0:
            return np.empty((0, width or 0))
        try:
            X = np.stack(values).astype(np.float64, copy=False)
        except (TypeError, ValueError):  # NULL or ragged rows
            return None
        if X.ndim != 2 or width not in (None, X.shape[1]) or np.isnan(X).any():
            return None
        return X

    return fits, stack


def dot_udf(nondeterministic: bool = False):
    """``dot`` as an Arrow kernel, bit-identical wherever ``dot``
    gives a number (0 mismatches over 41k real pairs and all norms at
    sf0.1).

    Measured contract (tests/test_vectors.py): a NULL row, a ragged
    pair or a NULL element gives NULL, as in ``dot``; a NaN element
    also gives NULL, where ``dot`` gives NaN (the pandas UDF's
    float64 result turns NaN into NULL at the Arrow boundary); empty
    arrays give the 0.0 seed. Rows that fit take the vectorized path;
    a batch with any other row falls back to a row-exact fold.

    ``nondeterministic=True`` marks the UDF so a FILTER directly on
    its output is not duplicated below the Python node — pass it ONLY
    at such sites: the marker also blocks subtree deduplication and
    exchange reuse, which quadrupled the recall audits' broadcast-join
    legs when applied blanket (measured: q202 2.4 s -> 10 s)."""
    fits, stack = _batch_guard()

    @F.pandas_udf("double")
    def _dot(xa: pd.Series, xb: pd.Series) -> pd.Series:
        va, vb = xa.values, xb.values
        A = stack(va)
        B = None if A is None else stack(vb, A.shape[1])
        if B is not None:
            if A.shape[1] == 0:
                return pd.Series(np.zeros(len(A)))
            return pd.Series(np.cumsum(A * B, axis=1)[:, -1])
        out = []
        for a, b in zip(va, vb):
            if a is None or b is None or not (fits(a, len(b)) and fits(b, len(a))):
                out.append(None)
                continue
            acc = 0.0
            for x, y in zip(a, b):
                acc += float(x) * float(y)
            out.append(acc)
        return pd.Series(out, dtype="float64")

    return _dot.asNondeterministic() if nondeterministic else _dot


def pq_codes_udf(codebooks: list[list[list[float]]]):
    """PQ encode as an Arrow kernel: array<int> of m codes per row,
    the FIRST index of the minimum ``||c||^2 - 2<x,c>`` per subspace
    (the tie rule of DuckDB's ``list_position(d, list_min(d))``). The
    dot folds left via ``np.cumsum`` and ``||c||^2`` is
    ``sq_norm_fold``, so scores match the oracle SQL bit-for-bit.

    ``codebooks`` is m x k x dsub and already validated (pq._check_books);
    rows must be m*dsub long. Any row that does not ``fit`` — NULL,
    wrong length, or a NULL/NaN element — RAISES
    ``pq_encode: embedding must be <dim> non-null floats``: a corrupt
    row would otherwise encode to a plausible code and poison every
    downstream ADC rank."""
    fits, stack = _batch_guard()
    C = np.asarray(codebooks, dtype=np.float64)  # (m, k, dsub)
    m, _, dsub = C.shape
    dim = m * dsub
    c2 = np.asarray([[sq_norm_fold(c) for c in b] for b in codebooks])

    @F.pandas_udf("array<int>")
    def _codes(xs: pd.Series) -> pd.Series:
        X = stack(xs.values, dim)
        if X is None:
            v = next(v for v in xs.values if not fits(v, dim))
            size = "NULL" if v is None else str(len(v))
            raise ValueError(
                f"pq_encode: embedding must be {dim} non-null floats, "
                f"got size {size}"
            )
        codes = np.empty((len(X), m), dtype=np.int32)
        for s in range(m):
            Xs = X[:, s * dsub:(s + 1) * dsub]  # (n, dsub)
            prod = Xs[:, None, :] * C[s][None, :, :]  # (n, k, dsub)
            dots = np.cumsum(prod, axis=2)[:, :, -1]  # left fold
            codes[:, s] = np.argmin(c2[s][None, :] - 2.0 * dots, axis=1)
        return pd.Series(list(codes), dtype=object)

    return _codes


def adc_dist2_udf(codebooks: list[list[list[float]]]):
    """PQ asymmetric squared distance as an Arrow kernel: the query
    row against the centroids its code row selects. Per subspace the
    (x - c)^2 terms fold left via ``np.cumsum``, and the m subspace
    terms add in subspace order, matching the oracle's generated
    ``((0 + t0) + t1) ...`` SQL bit-for-bit.

    Measured contract (tests/test_vectors.py): a NULL query or code
    row, a short query, or a NULL/NaN query element gives NULL; a code
    array shorter than m RAISES (the ANSI ``element_at`` rule), and so
    does a code outside [0, k) or a NULL code — on both the vectorized
    and the row-exact path, never a silent wrap to another centroid.
    Longer query or code rows are read up to their first m*dsub / m
    entries."""
    _, stack = _batch_guard()
    C = np.asarray(codebooks, dtype=np.float64)  # (m, k, dsub)
    m, k, dsub = C.shape
    dim = m * dsub

    def out_of_range(code):
        return ValueError(f"pq ADC: code {code} outside [0, {k})")

    @F.pandas_udf("double")
    def _adc(xq: pd.Series, xc: pd.Series) -> pd.Series:
        vq, vc = xq.values, xc.values
        Q, Kc = stack(vq, dim), stack(vc, m)
        if Q is not None and Kc is not None:
            bad = (Kc < 0) | (Kc >= k)
            if bad.any():
                raise out_of_range(int(Kc[bad][0]))
            Kc = Kc.astype(np.int64)
            total = np.zeros(len(Q))
            for s in range(m):
                d = Q[:, s * dsub:(s + 1) * dsub] - C[s][Kc[:, s]]
                total = total + np.cumsum(d * d, axis=1)[:, -1]
            return pd.Series(total)
        out = []
        for qv, cv in zip(vq, vc):
            if qv is None or cv is None:
                out.append(None)
                continue
            if len(cv) < m:
                raise ValueError(
                    f"pq ADC: code array holds {len(cv)} entries, need {m}"
                )
            total = 0.0
            for s in range(m):
                if len(qv) < (s + 1) * dsub:
                    total = None  # zip_with's NULL pad poisons the fold
                    break
                if not 0 <= cv[s] < k:  # NaN (a NULL code) fails too
                    raise out_of_range(cv[s])
                cent = C[s][int(cv[s])]
                acc = 0.0
                for j in range(dsub):
                    dd = float(qv[s * dsub + j]) - cent[j]
                    acc = acc + dd * dd
                total = total + acc
            out.append(total)
        return pd.Series(out, dtype="float64")

    return _adc
