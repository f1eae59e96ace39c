"""``python -m product_etl_spark`` — the CLI entry points a reference
user runs today, re-expressed over the Spark pipelines:

- ``ingest``    — run_etl.py analog (``--csv --mapping --dry-run``,
  utils/importer/run_etl.py:14-30): raw export CSV -> the full
  warehouse upsert cascade. A path ending in ``.xlsx`` is read as an
  Excel export (importer_etl.py:31, first sheet). ``--dry-run``
  computes and reports every table without writing (the reference
  runs the cascade and rolls the transaction back).
- ``stream-ingest`` — the continuous twin of ``ingest``: every export
  CSV dropped into ``--input-dir`` is merged into the warehouse
  exactly once (``--checkpoint`` holds the processed-file log). Each
  run drains what is there and prints one JSON progress line per
  micro-batch (``batchId``, ``numInputRows``, ``durationMs``).
- ``translate`` — the product_attributes_etl.py translation sweep:
  pending rows -> kernel -> idempotent insert.
- ``enrich``    — run_orchestrator.py analog with the reference's
  dynamic driving-set predicates (``--product-id``/``--limit``,
  db_orchestrator.py:157-174). Per-stage skip flags are unnecessary:
  every stage persists and reruns process only missing products
  (the same resumability the flags gave).
- ``curate``    — the training-corpus curation chain over a documents
  parquet (beyond-reference family).
- ``profile``   — ANALYZE-style column profile of any parquet table.

External-model kernels (OCR / MT / LLM) default to OFFLINE
deterministic markers so every command runs hermetically — the
DRY_RUN philosophy extended to third-party calls; production wires
the kernels.py providers instead.
"""

from __future__ import annotations

import argparse
import sys


def _spark(app: str):
    from product_etl_spark.session import get_spark

    return get_spark(app)


def _cmd_ingest(args) -> int:
    from product_etl_spark.pipelines.ingest import run_ingest
    from product_etl_spark.sources.csv_reader import read_raw_products

    spark = _spark("petl-ingest")
    if args.csv.lower().endswith(".xlsx"):
        from product_etl_spark.sources.excel import read_excel

        raw = read_excel(spark, args.csv)
    else:
        raw = read_raw_products(spark, args.csv, sep=args.sep)
    if args.mapping:
        # older Type-column / 3-column mapping files drive per-table
        # projections inside the builders; surface a loud parse here
        from product_etl_spark.sources.mapping import load_mapping

        load_mapping(spark, args.mapping)
    result = run_ingest(spark, raw, args.warehouse, write=not args.dry_run)
    for name, df in sorted(result.tables.items()):
        print(f"{name}\t{df.count()}")
    if args.dry_run:
        print("dry-run: nothing written")
    return 0


def _export_header(input_dir: str, sep: str) -> list[str]:
    """Column names from the header of the first (by name) CSV in
    ``input_dir`` — the schema a file-source stream must be given."""
    import csv
    import glob
    import os

    files = sorted(glob.glob(os.path.join(input_dir, "*.csv")))
    if not files:
        raise SystemExit(
            f"stream-ingest: no .csv export in {input_dir}; the column "
            "list is read from the first export's header"
        )
    with open(files[0], newline="", encoding="utf-8-sig") as fh:
        return next(csv.reader(fh, delimiter=sep), [])


def _cmd_stream_ingest(args) -> int:
    import json

    from product_etl_spark.pipelines.ingest import stream_ingest_csv

    cols = _export_header(args.input_dir, args.sep)
    spark = _spark("petl-stream-ingest")
    query = stream_ingest_csv(
        spark, args.input_dir, args.warehouse, args.checkpoint, cols,
        sep=args.sep,
    )
    query.awaitTermination()
    for p in query.recentProgress:
        print(json.dumps({k: p[k] for k in ("batchId", "numInputRows", "durationMs")}))
    return 0


def _cmd_translate(args) -> int:
    from product_etl_spark.pipelines.translation import run_translation_sweep

    spark = _spark("petl-translate")
    kernel = (lambda batch: [f"{args.dst.upper()}({v})" for v in batch])
    out = run_translation_sweep(
        spark,
        f"{args.warehouse}/translations",
        kernel,
        args.src,
        args.dst,
        cache_path=args.cache,
    )
    print(f"translations\t{out.count()}")
    return 0


def _cmd_enrich(args) -> int:
    from pyspark.sql import functions as F

    from product_etl_spark.pipelines.enrichment import run_enrichment

    spark = _spark("petl-enrich")
    # (product_id, details_html) parquet — the file-based variant of
    # the reference's driving scan (utils/details_translator scripts
    # chain file inputs; the warehouse itself does not store raw HTML)
    products = spark.read.parquet(args.products).filter(
        F.col("details_html").isNotNull()
    )
    stages = run_enrichment(
        spark,
        products,
        args.stage_root,
        ocr_kernel=lambda url: f"[ocr:{url.rsplit('/', 1)[-1]}]",
        translate_kernel=lambda batch: [f"EN({v})" for v in batch],
        logistics_kernel=lambda text: {},
        product_ids=args.product_id or None,
        limit=args.limit,
    )
    for name, df in sorted(stages.items()):
        print(f"{name}\t{df.count()}")
    return 0


def _cmd_curate(args) -> int:
    from product_etl_spark.pipelines.corpus import CurateConfig, curate_corpus

    spark = _spark("petl-curate")
    docs = spark.read.parquet(args.input)
    cfg = CurateConfig(
        min_quality=args.min_quality,
        gopher=True,
        max_line_repetition=0.3,
        dedup_strategy=args.dedup,
        redact_pii=True,
        test_fraction=args.test_fraction,
    )
    train, val, report = curate_corpus(
        docs, "text", "doc_id", cfg, report=True
    )
    train.write.mode("overwrite").parquet(f"{args.output}/train")
    val.write.mode("overwrite").parquet(f"{args.output}/validation")
    for k, v in report.items():
        print(f"{k}\t{v}")
    return 0


def _cmd_profile(args) -> int:
    from product_etl_spark.operators.profile import profile_columns

    spark = _spark("petl-profile")
    df = spark.read.parquet(args.table)
    cols = args.cols.split(",") if args.cols else df.columns
    for r in profile_columns(df, cols, exact_distinct=not args.approx).collect():
        print(
            f"{r['column']}\trows={r['n_rows']}\tnulls={r['n_nulls']}\t"
            f"distinct={r['n_distinct']}\tmin={r['min_str']}\tmax={r['max_str']}"
        )
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="product_etl_spark", description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("ingest", help="bulk import a raw export CSV or .xlsx")
    s.add_argument("--csv", required=True)
    s.add_argument("--mapping", default=None)
    s.add_argument("--warehouse", required=True)
    s.add_argument("--sep", default=";")
    s.add_argument("--dry-run", action="store_true")
    s.set_defaults(fn=_cmd_ingest)

    s = sub.add_parser("stream-ingest",
                       help="merge export CSVs dropped into a directory")
    s.add_argument("--input-dir", required=True)
    s.add_argument("--warehouse", required=True)
    s.add_argument("--checkpoint", required=True)
    s.add_argument("--sep", default=";")
    s.set_defaults(fn=_cmd_stream_ingest)

    s = sub.add_parser("translate", help="translation sweep of pending rows")
    s.add_argument("--warehouse", required=True)
    s.add_argument("--src", default="zh")
    s.add_argument("--dst", default="en")
    s.add_argument("--cache", default=None)
    s.set_defaults(fn=_cmd_translate)

    s = sub.add_parser("enrich", help="details enrichment pipeline")
    s.add_argument("--products", required=True,
                   help="parquet with (product_id, details_html)")
    s.add_argument("--stage-root", required=True)
    s.add_argument("--product-id", action="append")
    s.add_argument("--limit", type=int, default=None)
    s.set_defaults(fn=_cmd_enrich)

    s = sub.add_parser("curate", help="training-corpus curation chain")
    s.add_argument("--input", required=True)
    s.add_argument("--output", required=True)
    s.add_argument("--min-quality", type=float, default=0.3)
    s.add_argument("--dedup", default="fingerprint",
                   choices=["exact", "fingerprint", "near"])
    s.add_argument("--test-fraction", type=float, default=0.1)
    s.set_defaults(fn=_cmd_curate)

    s = sub.add_parser("profile", help="column profile of a parquet table")
    s.add_argument("--table", required=True)
    s.add_argument("--cols", default=None)
    s.add_argument("--approx", action="store_true")
    s.set_defaults(fn=_cmd_profile)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
