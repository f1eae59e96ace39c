#!/usr/bin/env python3
"""Scaling probe for the count-min sketch: CMS build + probe over
the documents table at sf0.001 / sf0.01 / sf0.1. Prints one JSON line
with per-sf wall times and the 0.01 -> 0.1 growth factor (10x data;
<=10 means at-most-linear). The interesting invariant: PROBE time
should be ~flat across sfs when the probe set is fixed, because the
probe joins against bounded broadcast state."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from product_etl_spark.operators.cms import cms_estimate, cms_partials  # noqa: E402
from product_etl_spark.session import get_spark, load_tables  # noqa: E402

SFS = ["sf0.001", "sf0.01", "sf0.1"]


def timed(fn):
    fn()  # warm: plan + page cache
    t0 = time.time()
    fn()
    return round(time.time() - t0, 3)


def main() -> None:
    spark = get_spark("bench-cms")
    spark.sparkContext.setLogLevel("ERROR")
    base = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
    out: dict[str, dict[str, float]] = {
        k: {} for k in ("cms_build", "cms_probe")
    }
    probes = spark.createDataFrame(
        [("the",), ("and",), ("data",), ("zzz-absent",)], "tok string"
    )
    for sf in SFS:
        docs = load_tables(spark, f"{base}/{sf}")["documents"]
        toks = docs.select(
            F.explode(
                F.split(F.lower(F.coalesce("text", F.lit(""))), r"\s+")
            ).alias("tok")
        ).filter("tok <> ''")
        sk = cms_partials(toks, [], "tok", depth=4, width=8192)
        out["cms_build"][sf] = timed(lambda: sk.write.format("noop").mode("overwrite").save())
        sk_c = sk.localCheckpoint(eager=True)  # probe measures probe, not rebuild
        out["cms_probe"][sf] = timed(
            lambda: cms_estimate(sk_c, probes, "tok", depth=4, width=8192)
            .write.format("noop").mode("overwrite").save()
        )
    for k, per in out.items():
        per["growth_10x"] = round(per["sf0.1"] / max(per["sf0.01"], 1e-9), 2)
    print(json.dumps({"metric": "cms_scaling", "ops": out}))
    spark.stop()


if __name__ == "__main__":
    main()
