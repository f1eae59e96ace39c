#!/usr/bin/env python3
"""Ingest-throughput benchmark: synthesize a raw export CSV of
N collections x V variants (FIXTURES.md F1 shape), run the full
ingest pipeline, print one JSON line with rows/sec.

Context: the reference ingests serially with O(10) SQL round-trips
per row (SURVEY.md §6 — implied throughput on the order of tens of
rows/sec). This measures our end-to-end pipeline (split, clean,
parse, dictionaries, 12 MERGE writes) on the same machine, then the
warehouse audit (``run_warehouse_checks``) over its result.

Spark jobs are counted from the status store outside the timed
regions: ``ingest_jobs`` covers the timed ingest (the product count
that closes it included), ``audit_jobs`` the audit.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from product_etl_spark.pipelines.ingest import run_ingest  # noqa: E402
from product_etl_spark.pipelines.verification import run_warehouse_checks  # noqa: E402
from product_etl_spark.session import get_spark  # noqa: E402
from product_etl_spark.sources.csv_reader import read_raw_products  # noqa: E402

HEADER = (
    "Master Code;SKU Code;Product Name;Product Image;Img Array;Category Name;"
    "Custom Attributes;Sku Attribute;Web Page Details;Video;Price;Inventory;"
    "Weight;Long;Width;High;Collection URL;Collection Image;Master WXWERP"
)


def synthesize(path: str, n_collections: int, n_variants: int) -> int:
    cats = ["吧椅", "地毯", "床头柜", "沙发", "抱枕"]
    n = 0
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(HEADER + "\n")
        for c in range(n_collections):
            mc = f"mc{c:06x}"
            fh.write(
                f"{mc};sku{c}_0;产品{c};https://img.x/{c}.jpg;"
                f"[https://x/{c}_1.jpg, 800, https://x/{c}_2.jpg];{cats[c % 5]};"
                f"品牌:b{c % 97}-风格:s{c % 13}-货号:g{c};;;;"
                f"{100 + c % 900};10;0,5;1;2;3;https://detail.x/{c};;\n"
            )
            n += 1
            for v in range(1, n_variants + 1):
                fh.write(
                    f'{mc};sku{c}_{v};;;;;;"颜色:c{v % 23};尺寸:{v}x{v}cm";;;'
                    f"{100 + v},{v % 100:02d};{v};;;;;;;\n"
                )
                n += 1
    return n


def job_ids(spark) -> set[int]:
    """Ids of every job in the status store, the merge threads' too
    (a job group would miss them: it is per thread)."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)
    return {jobs.apply(i).jobId() for i in range(jobs.size())}


def main() -> None:
    n_collections = int(os.environ.get("BENCH_INGEST_COLLECTIONS", "5000"))
    n_variants = int(os.environ.get("BENCH_INGEST_VARIANTS", "9"))
    with tempfile.TemporaryDirectory(prefix="bench_ingest_") as tmp:
        _run(tmp, n_collections, n_variants)


def _run(tmp: str, n_collections: int, n_variants: int) -> None:
    """Synthesize the export under ``tmp``, ingest it into a
    warehouse there and audit it; the caller removes ``tmp``."""
    csv = os.path.join(tmp, "raw.csv")
    n_rows = synthesize(csv, n_collections, n_variants)

    spark = get_spark("bench-ingest")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    before = job_ids(spark)
    t0 = time.monotonic()
    raw = read_raw_products(spark, csv)
    result = run_ingest(spark, raw, os.path.join(tmp, "wh"))
    n_products = result.tables["product"].count()
    wall = time.monotonic() - t0
    ingest_jobs = len(job_ids(spark) - before)

    before = job_ids(spark)
    t0 = time.monotonic()
    checks = run_warehouse_checks(result.tables)
    audit_wall = time.monotonic() - t0
    audit_jobs = len(job_ids(spark) - before)

    print(
        json.dumps(
            {
                "metric": "ingest_rows_per_sec",
                "value": round(n_rows / wall, 1),
                "unit": "rows/sec",
                "rows": n_rows,
                "products": n_products,
                "wall_sec": round(wall, 2),
                "tables": len(result.tables),
                "ingest_jobs": ingest_jobs,
                "audit_wall_sec": round(audit_wall, 2),
                "audit_jobs": audit_jobs,
                "audit_failed": [c.name for c in checks if not c.ok],
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
