"""The three Arrow vector kernels (functions/vectors.py) on corrupt
input, and shipped to a Python worker that cannot import the package.

Each batch case runs twice: all rows in ONE Arrow batch (a corrupt
row sends the whole batch down the kernel's row-exact path) and each
row alone (clean rows take the vectorized path)."""

from __future__ import annotations

import json
import math
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

from product_etl_spark.functions import vectors as V
from product_etl_spark.operators import pq as PQ

NAN = float("nan")
BOOKS = PQ.md5_codebooks(2, 4, 2)  # m=2, k=4, dsub=2 -> dim 4


def _plain(v):
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return list(v) if isinstance(v, list) else v


def _run(spark, rows, schema, col):
    """``col`` over ``rows`` in one batch, then each row alone."""
    def go(rs):
        df = spark.createDataFrame(rs, schema).coalesce(1)
        return [_plain(r[0]) for r in df.select(col).collect()]

    together = go(rows)
    alone = [go([r])[0] for r in rows]
    return together, alone


DOT_CASES = [
    # (a, b, kernel, V.dot)
    ([1.0, 2.0], [3.0, 4.0], 11.0, 11.0),
    ([1.0, None], [3.0, 4.0], None, None),  # NULL element
    ([1.0, NAN], [3.0, 4.0], None, "NaN"),  # NaN element
    ([1.0, 2.0, 3.0], [3.0, 4.0], None, None),  # ragged pair
    (None, [3.0, 4.0], None, None),  # NULL row
    ([], [], 0.0, 0.0),  # empty arrays fold to the seed
]


def test_dot_udf_corrupt_rows_match_measured_contract(spark):
    rows = [(a, b) for a, b, _, _ in DOT_CASES]
    schema = "a array<float>, b array<float>"
    want = [k for *_, k, _ in DOT_CASES]
    together, alone = _run(spark, rows, schema, V.dot_udf()("a", "b"))
    assert together == want
    assert alone == want
    # the expression form differs only on the NaN element
    together, alone = _run(spark, rows, schema, V.dot("a", "b"))
    assert together == alone == [d for *_, d in DOT_CASES]


@pytest.mark.parametrize(
    "bad, size",
    [
        (None, "NULL"),
        ([0.1, 0.2], "2"),
        ([0.1, 0.2, 0.3, 0.4, 0.5], "5"),
        ([0.1, None, 0.3, 0.4], "4"),
        ([0.1, NAN, 0.3, 0.4], "4"),
    ],
)
def test_pq_codes_udf_raises_on_corrupt_row(spark, bad, size):
    df = spark.createDataFrame(
        [([0.1, 0.2, 0.3, 0.4],), (bad,)], "a array<float>"
    ).coalesce(1)
    with pytest.raises(
        Exception,
        match=f"pq_encode: embedding must be 4 non-null floats, got size {size}",
    ):
        df.select(V.pq_codes_udf(BOOKS)("a")).collect()


def _adc_ref(q, codes):
    """Left fold of (x - c)^2 per subspace, subspaces added in order."""
    total = 0.0
    for s, code in enumerate(codes):
        acc = 0.0
        for j, c in enumerate(BOOKS[s][code]):
            d = float(np.float32(q[2 * s + j])) - c
            acc = acc + d * d
        total = total + acc
    return total


def test_adc_udf_corrupt_rows_match_measured_contract(spark):
    q, q2 = [0.1, 0.2, 0.3, 0.4], [0.5, 0.5, 0.5, 0.5]
    cases = [
        (q, [0, 1], _adc_ref(q, [0, 1])),
        (q2, [3, 2], _adc_ref(q2, [3, 2])),
        (None, [0, 1], None),  # NULL query row
        (q, None, None),  # NULL code row
        ([0.1, None, 0.3, 0.4], [0, 1], None),  # NULL query element
        ([0.1, NAN, 0.3, 0.4], [0, 1], None),  # NaN query element
        ([0.1, 0.2], [0, 1], None),  # short query
        (q + [0.5], [0, 1], _adc_ref(q, [0, 1])),  # long query: first dim
        (q, [0, 1, 2], _adc_ref(q, [0, 1])),  # long codes: first m
    ]
    together, alone = _run(
        spark,
        [(a, c) for a, c, _ in cases],
        "q array<float>, c array<int>",
        V.adc_dist2_udf(BOOKS)("q", "c"),
    )
    want = [w for *_, w in cases]
    assert together == want
    assert alone == want


@pytest.mark.parametrize(
    "codes, match",
    [
        ([0, -1], r"pq ADC: code -1 outside \[0, 4\)"),
        ([0, 4], r"pq ADC: code 4 outside \[0, 4\)"),
        ([0, None], r"pq ADC: code nan outside \[0, 4\)"),
        ([0], "pq ADC: code array holds 1 entries, need 2"),
    ],
)
@pytest.mark.parametrize("row_exact", [False, True])
def test_adc_udf_raises_on_bad_codes(spark, codes, match, row_exact):
    """A code outside [0, k) never wraps to another centroid: it
    raises on the vectorized path (other rows clean) and on the
    row-exact path (a NULL query row in the same batch)."""
    other = None if row_exact else [0.5, 0.5, 0.5, 0.5]
    df = spark.createDataFrame(
        [([0.1, 0.2, 0.3, 0.4], codes), (other, [3, 2])],
        "q array<float>, c array<int>",
    ).coalesce(1)
    with pytest.raises(Exception, match=match):
        df.select(V.adc_dist2_udf(BOOKS)("q", "c")).collect()


_WORKER = r"""
import json, sys

class _Blocked:
    def find_spec(self, name, path=None, target=None):
        if name.partition(".")[0] == "product_etl_spark":
            raise ImportError("blocked: " + name)
        return None

sys.meta_path.insert(0, _Blocked())
import pickle

fn, cols = pickle.loads(sys.stdin.buffer.read())
out = fn(*cols)
assert "product_etl_spark" not in sys.modules
print(json.dumps([None if v is None else (
    [int(x) for x in v] if hasattr(v, "__len__") else float(v)) for v in out]))
"""


def _batch(rows):
    return pd.Series([np.asarray(r, dtype=np.float32) for r in rows])


@pytest.mark.parametrize("kernel", ["dot", "pq_codes", "adc_dist2"])
def test_kernel_pickles_by_value(spark, tmp_path, kernel):
    """Python workers cannot import product_etl_spark: each kernel,
    shared guard included, must unpickle and run without it."""
    from pyspark import cloudpickle

    q = [[0.1, 0.2, 0.3, 0.4], [0.5, 0.5, 0.5, 0.5], [-0.9, 0.3, 0.0, 1.0]]
    codes = pd.Series([np.asarray(c, dtype=np.int32) for c in ([0, 1], [3, 2], [1, 1])])
    udf, cols = {
        "dot": (V.dot_udf(), [_batch(q), _batch(q[::-1])]),
        "pq_codes": (V.pq_codes_udf(BOOKS), [_batch(q)]),
        "adc_dist2": (V.adc_dist2_udf(BOOKS), [_batch(q), codes]),
    }[kernel]
    payload = cloudpickle.dumps((udf.func, cols))
    res = subprocess.run(
        [sys.executable, "-I", "-c", _WORKER],
        input=payload,
        capture_output=True,
        cwd=tmp_path,
        timeout=120,
    )
    assert res.returncode == 0, res.stderr.decode()
    got = json.loads(res.stdout)
    want = [
        [int(x) for x in v] if hasattr(v, "__len__") else float(v)
        for v in udf.func(*cols)
    ]
    assert got == want
    assert len(got) == 3 and None not in got
