"""Multi-index Hamming banding (operators/embdedup.py): the
pigeonhole band index and its band-width guard."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from product_etl_spark.operators.embdedup import hamming_band_index
from product_etl_spark.operators.sq import bin_sign_encode

DIM = 64
THR = [0.0] * DIM


def _vec(bits):
    """embedding whose sign pattern IS the bit list (1 -> +1, 0 -> -1)."""
    return [1.0 if b else -1.0 for b in bits]


def _bits(*on):
    return [1 if j in on else 0 for j in range(DIM)]


def _df(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_radius_at_pigeonhole_limit_and_guard(spark):
    """Four 16-bit bands: a pair exactly B-1 = 3 bits apart still
    matches on some (band, value), so the band join finds it; a band
    width that does not divide the 32-bit words raises."""
    base = _bits(0)
    d3 = _bits(0, 10, 20, 30)
    df = _df(spark, [(0, _vec(base)), (1, _vec(d3))])
    idx = hamming_band_index(bin_sign_encode(df, "embedding", THR), "vec_id")
    a = idx.select(F.col("vec_id").alias("a"), "band", "bv")
    b = idx.select(F.col("vec_id").alias("b"), "band", "bv")
    pairs = {
        (r["a"], r["b"])
        for r in a.join(b, ["band", "bv"]).filter("a < b").collect()
    }
    assert pairs == {(0, 1)}
    assert idx.select("band").distinct().count() == 4
    with pytest.raises(ValueError, match="band_bits"):
        hamming_band_index(
            bin_sign_encode(df, "embedding", THR), "vec_id", band_bits=12
        )
