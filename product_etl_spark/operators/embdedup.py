"""Hamming-space near-duplicate candidates by multi-index hashing
(Norouzi/Punjani/Fleet "Fast Search in Hamming Space with
Multi-Index Hashing", CVPR 2012) — the band index and exact Hamming
distance the perceptual-hash dedup in ``multimodal.py`` runs on.

Recipe: packed binary codes (e.g. sq.bin_sign_encode, 1 bit/dim)
split into B disjoint bands; by pigeonhole, ANY pair within Hamming
distance < B matches exactly in at least one band, so an equality
join on (band, band_value) generates a candidate set with ZERO false
negatives for ``max_hamming <= B - 1`` — never an all-pairs
comparison. Exact integer Hamming verifies candidates.

The band join key is (band, value): uniform under random signs, so
no skew; a pathological constant-dimension corpus concentrates band
values — raise ``band_bits`` or pre-split (operators/skew.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_WORD_BITS = 32


def _bands_expr(code_col: str, dim: int, band_bits: int) -> str:
    """SQL array of (band_id, band_value) structs sliced from the
    packed words — pure integer shifts/masks."""
    n_bands = (dim + band_bits - 1) // band_bits
    per_word = _WORD_BITS // band_bits
    entries = []
    for b in range(n_bands):
        word = b // per_word
        shift = (b % per_word) * band_bits
        mask = (1 << band_bits) - 1
        entries.append(
            f"named_struct('band', {b}, 'bv', "
            f"shiftright(element_at({code_col}, {word + 1}), {shift}) & {mask})"
        )
    return "array(" + ", ".join(entries) + ")"


def hamming_band_index(
    coded: DataFrame,
    id_col: str,
    code_col: str = "bin_code",
    dim: int = 64,
    band_bits: int = 16,
) -> DataFrame:
    """(id, band, bv): the multi-index rows of a coded frame."""
    if _WORD_BITS % band_bits:
        raise ValueError(
            f"band_bits {band_bits} must divide the {_WORD_BITS}-bit words"
        )
    return coded.select(
        F.col(id_col),
        F.col(code_col),
        F.explode(F.expr(_bands_expr(code_col, dim, band_bits))).alias("_b"),
    ).select(id_col, code_col, F.col("_b.band").alias("band"), F.col("_b.bv").alias("bv"))


def _hamming(a: str, b: str) -> F.Column:
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        "CAST(bit_count(x ^ y) AS BIGINT)), CAST(0 AS BIGINT), "
        "(acc, v) -> acc + v)"
    )
