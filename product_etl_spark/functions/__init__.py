"""Expression library: scalar cleaners, text analysis, vector math.

Everything here returns Catalyst ``Column`` expressions built from
``pyspark.sql.functions`` — JVM-side, codegen-friendly, no Python
UDFs — so they stay inside whole-stage codegen at any scale. The
exceptions say so where they are defined: the Python UDTFs in
``udtfs``, ``unicode_text.normalize_unicode``, and the three
Arrow-batched pandas UDF kernels in ``vectors`` (``dot_udf``,
``pq_codes_udf``, ``adc_dist2_udf``), which compute the same left
folds as the vector expressions, bit for bit.
"""

from product_etl_spark.functions.cleaners import (  # noqa: F401
    clean_string,
    extract_urls,
    file_extension,
    normalize_decimal,
    parse_attributes,
    parse_img_array,
    sanitize_filename,
    split_csvish,
    strip_sku_dot_zero,
)
