"""JSONL (newline-delimited JSON) corpus source and sink with
corrupt-record quarantine.

JSONL is the interchange format of LLM training corpora (one document
object per line — the Dolma/RedPajama/C4 layout), and real crawl
shards always carry some malformed lines. Dropping them silently
biases the corpus; failing the job on one bad line is worse. The
reader therefore SPLITS: (parsed rows, quarantined raw lines).

Design note — why text + from_json instead of spark.read.json with
``columnNameOfCorruptRecord``: Spark's corrupt-column contract
forbids a query that references only the corrupt column unless the
parsed frame is cached first — and caching is exactly what a 100 TB
read cannot do. Reading lines as text and parsing with ``from_json``
(with a ``_corrupt_record`` field in the struct schema) keeps the
whole split a pair of map-only projections over ONE scan: no cache,
no second parse, both halves share the same file scan via normal
plan reuse. An explicit schema is required — which is also the right
call at scale, since schema inference is a full extra pass over the
data.

The writer shards by ``maxRecordsPerFile`` so shard size is bounded
regardless of upstream partitioning, with a splittable-compression
note: gzip output is fine as a SINK format (written per shard) but
gzip shards are non-splittable on re-read — prefer many bounded
shards (this writer) or no compression when the output feeds another
Spark job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Field used to detect parse failures inside the from_json struct.
CORRUPT = "_corrupt_record"


def split_parsed(
    lines: DataFrame, schema: T.StructType
) -> tuple[DataFrame, DataFrame]:
    """Split a DataFrame of raw lines (column ``value``) into
    (good, quarantine) — both halves are map-only projections of
    the input.

    good: one row per parseable line, columns = ``schema`` fields.
    quarantine: (line, input_file) for every line that failed to
    parse — kept raw so the bad bytes can be inspected/replayed.
    Blank lines are not records in JSONL and are skipped entirely.
    """
    if any(f.name == CORRUPT for f in schema.fields):
        raise ValueError(f"schema must not already contain {CORRUPT!r}")
    parse_schema = T.StructType(
        [*schema.fields, T.StructField(CORRUPT, T.StringType())]
    )
    raw = lines.filter(F.trim(F.col("value")) != "").select(
        F.col("value"),
        F.input_file_name().alias("input_file"),
        F.from_json(
            F.col("value"), parse_schema, {"mode": "PERMISSIVE"}
        ).alias("r"),
    )
    bad = F.col(f"r.{CORRUPT}").isNotNull()
    good = raw.filter(~bad).select(
        *[F.col(f"r.{f.name}").alias(f.name) for f in schema.fields]
    )
    quarantine = raw.filter(bad).select(
        F.col("value").alias("line"), "input_file"
    )
    return good, quarantine


def read_jsonl(
    spark: SparkSession, path: str, schema: T.StructType
) -> tuple[DataFrame, DataFrame]:
    """Read JSONL into (good, quarantine) — see ``split_parsed``."""
    return split_parsed(spark.read.text(path), schema)


def write_jsonl(
    df: DataFrame,
    path: str,
    max_records_per_file: int = 100_000,
    compression: str | None = None,
    mode: str = "error",
) -> None:
    """Write bounded JSONL shards. ``maxRecordsPerFile`` caps shard
    size independently of upstream partitioning (a skewed partition
    becomes several shards, not one huge file)."""
    w = df.write.mode(mode).option(
        "maxRecordsPerFile", max_records_per_file
    )
    if compression:
        w = w.option("compression", compression)
    w.json(path)
