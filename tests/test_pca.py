"""PCA moments: the exact Gram surface q213 returns, checked against
numpy, and its malformed-row policy."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from product_etl_spark.operators.pca import pca_moments


def _h(s, m=2001):
    return (int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % m) / 1000.0 - 1.0


@pytest.fixture(scope="module")
def planted(spark):
    """Rank-2 data + small noise in 8 dims: variance concentrates in
    two known directions."""
    d = 8
    a = np.array([_h(f"a{j}") for j in range(d)])
    b = np.array([_h(f"b{j}") for j in range(d)])
    b -= a * (a @ b) / (a @ a)  # orthogonalize
    rows = []
    for i in range(300):
        x = (
            3.0 * _h(f"c1,{i}") * a
            + 1.5 * _h(f"c2,{i}") * b
            + 0.01 * np.array([_h(f"n{i},{j}") for j in range(d)])
        )
        rows.append((i, [float(v) for v in x]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return df, rows


def test_moments_pin_trainer(planted):
    """q213's contract: the exact-decimal Gram-moment surface
    (pca_moments) is a complete sufficient statistic for a PCA fit —
    mean and sample covariance rebuilt from EXACTLY the collected
    q213 rows match numpy's on the same data up to the 1e-6 input
    rounding the moment surface commits to."""
    df, rows = planted
    mom = pca_moments(df, "embedding", dim=8).collect()
    assert len(mom) == 8 * 9 // 2
    n = {r["n"] for r in mom}
    assert n == {len(rows)}
    n = n.pop()
    s = np.zeros(8)
    gram = np.zeros((8, 8))
    for r in mom:
        gram[r["i"], r["j"]] = gram[r["j"], r["i"]] = r["gram"]
        if r["i"] == r["j"]:
            s[r["i"]] = r["s_i"]
    mean = s / n
    cov = (gram - n * np.outer(mean, mean)) / (n - 1)
    X = np.array([r[1] for r in rows])
    assert np.allclose(mean, X.mean(axis=0), atol=1e-6)
    assert np.allclose(cov, np.cov(X, rowvar=False), atol=1e-5)


def test_moments_drop_malformed_pairs(spark):
    """A short vector contributes only to the pairs whose BOTH dims
    it carries — n varies per pair and well-formed rows are never
    contaminated (the documented drop policy)."""
    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [3.0, 4.0]), (2, [5.0])],
        "vec_id long, embedding array<double>",
    )
    out = {(r["i"], r["j"]): r for r in pca_moments(df, "embedding", dim=2).collect()}
    assert out[(0, 0)]["n"] == 3 and out[(0, 0)]["s_i"] == 9.0
    assert out[(0, 1)]["n"] == 2 and out[(0, 1)]["gram"] == 1 * 2 + 3 * 4
    assert out[(1, 1)]["n"] == 2 and out[(1, 1)]["s_i"] == 6.0


def test_moments_oversize_embedding_raises(spark):
    """r12 ADVICE guard: an embedding LONGER than dim must FAIL the
    job loudly, never be silently truncated to the first dim
    positions."""
    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [3.0, 4.0, 5.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="pca_moments.*dims > dim"):
        pca_moments(df, "embedding", dim=2).collect()
