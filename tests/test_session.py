"""Session-level contracts: the codegen class cache holds the engine's
working set, and every conf ``configure_session`` applies is runtime-
settable."""

from __future__ import annotations

from product_etl_spark import session


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_compiles_once(spark):
    # Each int literal is inlined into the generated code, so every plan
    # is its own whole-stage class; toRdd() compiles it on the driver
    # and submits no job. 150 classes overflow Spark's 100-entry default
    # LRU, which evicts the first before it is planned again.
    def plan(i: int) -> None:
        df = spark.range(10).selectExpr(f"id * {i} + 7919 as x")
        df._jdf.queryExecution().toRdd()

    before = _compiles(spark)
    for i in range(2, 152):
        plan(i)
    filled = _compiles(spark)
    assert filled - before > 100
    plan(2)
    assert _compiles(spark) == filled


def test_defaults_are_runtime_confs(spark):
    # configure_session swallows the error a static conf raises, so a
    # static key in _DEFAULTS would be dropped silently on a driver's
    # session; static confs go in get_spark's builder.
    static = [k for k in session._DEFAULTS if not spark.conf.isModifiable(k)]
    assert static == []
