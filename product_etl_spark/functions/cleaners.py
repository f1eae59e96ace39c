"""Scalar cleaner expressions — the reference's parser semantics,
re-expressed as pure Catalyst expressions (SURVEY.md §2.8).

Each function cites the behavior it reproduces (file:line into
/root/reference). Where the reference has a documented bug (the
``rstrip('.0')`` over-strip, the numeric-SKU coercion) we implement
the *intended* semantics and note the deviation.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Termination set of the reference's URL regex —
#: ``re.findall(r'https?://[^\s,\]]+', s)`` (utils/importer/ETL.py:58-65).
URL_PATTERN = r"https?://[^\s,\]]+"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def strip_ws(col: Column | str) -> Column:
    """Python-``str.strip()``-style whitespace trim. Spark's ``trim``
    removes only 0x20 spaces; the reference strips tabs/newlines/CRs
    too, so we trim the Java ``\\s`` class on both ends."""
    return F.regexp_replace(_c(col), r"^\s+|\s+$", "")


def clean_string(col: Column | str) -> Column:
    """Strip surrounding whitespace; empty/blank -> NULL.

    ``clean_string`` (utils/importer/ETL.py:40-44) returns ``None``
    for non-strings and strips otherwise; blank-to-null matches how
    the reference treats '' as missing before inserts.
    """
    trimmed = strip_ws(col)
    return F.when(trimmed == "", F.lit(None).cast("string")).otherwise(trimmed)


def extract_urls(col: Column | str) -> Column:
    """All http(s) URLs in a string -> array<string>.

    Reference ``parse_array`` (utils/importer/ETL.py:58-65): regex
    findall with terminator class ``[^\\s,\\]]`` — preserved exactly,
    including that a trailing ``)`` or quote stays attached.
    Non-string / null input -> empty array (ETL.py:60 guard).
    """
    arr = F.regexp_extract_all(_c(col), F.lit(URL_PATTERN), 0)
    return F.coalesce(arr, F.array().cast("array<string>"))


def parse_img_array(col: Column | str) -> Column:
    """Postgres-array-ish literal -> clean URL array.

    Reference ``parse_img_array``
    (utils/product_collection_img_array_processor.py:30-52) strips
    ``{ } [ ] "`` wrappers, splits on commas, and keeps only entries
    that start with http(s) — dropping junk numeric entries, the bug
    fix documented in IMG_ARRAY_PARSER_FIX_README.md:12-27. The URL
    regex subsumes all of that: extract URLs, keep http-prefixed.
    """
    return F.filter(extract_urls(col), lambda x: x.startswith("http"))


def split_csvish(col: Column | str) -> Column:
    """Comma-separated list -> trimmed, non-empty array<string>.

    ``[u.strip() for u in s.split(',') if u.strip()]``
    (utils/importer/ETL.py:209-212).
    """
    parts = F.transform(
        F.split(F.coalesce(_c(col), F.lit("")), ","), lambda x: F.trim(x)
    )
    return F.filter(parts, lambda x: x != "")


def parse_attributes(col: Column | str) -> Column:
    """Attribute string -> array<struct<attr_key,attr_value>>.

    Reference ``parse_attributes`` (utils/importer/ETL.py:67-83, same
    at utils/product_attributes_etl.py:45-58): split on ``-``, then
    each part on ``;``, then each pair at the *first* ``:`` only
    (values may contain colons); skip pairs with no colon; trim both
    sides; drop empty keys. Values containing ``-`` do get split —
    that is the reference's (lossy) semantics and is preserved.

    Pure Catalyst: split/flatten/locate/substr — no UDF, so the parse
    runs inside codegen even over billions of rows.
    """
    pairs = F.flatten(
        F.transform(
            F.split(F.coalesce(_c(col), F.lit("")), "-"),
            lambda part: F.split(part, ";"),
        )
    )
    structs = F.transform(
        pairs,
        lambda p: F.struct(
            strip_ws(F.substring_index(p, ":", 1)).alias("attr_key"),
            strip_ws(F.substr(p, F.locate(":", p) + F.lit(1))).alias("attr_value"),
        ),
    )
    with_colon = F.zip_with(
        pairs,
        structs,
        lambda p, s: F.when(F.locate(":", p) > 0, s),
    )
    return F.filter(
        with_colon, lambda s: s.isNotNull() & (s["attr_key"] != "")
    )


def attributes_map(col: Column | str) -> Column:
    """Attribute string -> map<string,string>, last-wins on duplicate
    keys — the dict-variant semantics of
    utils/custom_attributes_parser.py:14-23.
    """
    rev = F.reverse(parse_attributes(col))
    # Keep the first occurrence of each key in the reversed array
    # (= last occurrence overall): no earlier element shares the key.
    dedup = F.filter(
        rev,
        lambda s, i: ~F.exists(
            F.slice(rev, F.lit(1), i), lambda e: e["attr_key"] == s["attr_key"]
        ),
    )
    return F.map_from_entries(dedup)


def normalize_decimal(col: Column | str, precision: int = 18, scale: int = 2) -> Column:
    """European decimal string -> decimal.

    The reference only does ``value.replace(',', '.')``
    (utils/importer/ETL.py:503-504), which corrupts grouped values
    like ``1.234,56``. Intended semantics (and what we implement): if
    a comma is present it is the decimal separator and dots are
    grouping; otherwise the string is already dot-decimal.
    """
    c = F.trim(_c(col))
    fixed = F.when(
        c.contains(","),
        F.regexp_replace(F.regexp_replace(c, r"\.", ""), ",", "."),
    ).otherwise(c)
    # try_cast: junk input -> NULL instead of an ANSI-mode task
    # failure — raw exports contain garbage and one bad cell must not
    # kill a 100 TB ingest job.
    return fixed.try_cast(f"decimal({precision},{scale})")


def strip_sku_dot_zero(col: Column | str) -> Column:
    """Remove a single trailing ``.0`` from a float-coerced SKU.

    The reference's ``old_sku.rstrip('.0')``
    (utils/fix_sku_dot_zero.py:128) strips *any* trailing
    dots and zeros (``"100.0" -> "1"``) — a real bug its own README
    warns about (SKU_DOT_ZERO_FIX_README.md). We implement the
    intended anchor-exact form.
    """
    return F.regexp_replace(_c(col), r"\.0$", "")


def sanitize_filename(col: Column | str, max_len: int = 100) -> Column:
    r"""Replace filesystem-hostile chars with ``_`` and truncate.

    ``re.sub(r'[\\/*?:"<>|]', "_", name)[:100]``
    (utils/html_to_pdf/html_to_pdf_printer.py:17-18).
    """
    return F.substring(
        F.regexp_replace(_c(col), r'[\\/*?:"<>|]', "_"), 1, max_len
    )


def file_extension(col: Column | str, default: str = ".jpg") -> Column:
    """URL -> file extension, querystring stripped, default on miss.

    ``os.path.splitext(url)[1].split('?')[0] or '.jpg'``
    (utils/product_collection_img_array_processor.py:140).
    """
    ext = F.regexp_extract(_c(col), r"(\.[A-Za-z0-9]+)(?:\?|$)", 1)
    return F.when(ext == "", F.lit(default)).otherwise(ext)
