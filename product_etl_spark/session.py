"""SparkSession factory tuned for the engine.

Local testing runs ``local[N]``; the same config block is what we
would ship to a 1000-executor cluster (AQE on, adaptive skew-join,
UTC session time, Arrow for the few Pandas-UDF stages).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS: dict[str, str] = {
    # Deterministic semantics
    "spark.sql.session.timeZone": "UTC",
    # Let the runtime re-plan: coalesce small shuffle partitions,
    # split skewed ones — essential at 100 TB, harmless at sf0.001.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for pandas_udf / mapInPandas stages.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Broadcast small dimensions aggressively (lang=4 rows,
    # region=5, nation=25 ... anything under 64 MB).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Parquet: vectorized reader + pushdown are on by default; keep
    # explicit so a misconfigured cluster can't silently disable them.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.enableVectorizedReader": "true",
    # The driver's events table carries TIMESTAMP(NANOS) parquet
    # columns, which Spark refuses by default; read as long nanos and
    # convert in load_tables (micro truncation matches DuckDB).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable confs to an externally
    created SparkSession (e.g. the verification driver's).

    Everything in _DEFAULTS is a SQL runtime conf, so this works on a
    live session — crucially ``nanosAsLong`` (the events table is
    unreadable without it) and the UTC session timezone (timestamp
    arithmetic parity with the oracle).

    Static confs cannot be applied here. Such a session (e.g. the one
    ``__spark_entry__.py`` is handed) keeps Spark's 100-entry codegen
    class cache: ``spark.sql.codegen.cache.maxEntries`` is read once per
    JVM, so only ``get_spark``'s builder can size it.
    """
    for k, v in _DEFAULTS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-runtime conf on this build: keep going
    return spark


def get_spark(
    app_name: str = "product_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default
    32) so tests and bench share one code path; on a real cluster the
    submitter sets master and we leave it alone.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    # Local driver JVM sizing (only effective at JVM launch; no-op on
    # an existing session or a cluster submit that sets its own).
    conf.setdefault(
        "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    )
    # JVM-wide codegen class cache, static (read when the cache is first
    # used). Spark's 100-entry LRU is below the engine's working set:
    # corpus_dedup's five queries compile 127 classes, one
    # product_journey pass 350-370. At 100, classes were evicted before
    # reuse and warm runs recompiled (seed 1: 91 classes a warm
    # corpus_dedup pass, 110 / 2.9 s in the journey's refresh verify).
    # At 1000 a warm corpus_dedup pass compiles none.
    conf.setdefault("spark.sql.codegen.cache.maxEntries", "1000")
    # Keep the UI off for test/bench runs (port churn, memory).
    conf.setdefault("spark.ui.enabled", "false")
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


#: (application id, sf_dir, table) -> DataFrame. Plans are lazy, so a
#: cached frame is just the analyzed scan; reusing it skips repeated
#: footer/schema reads when a catalog of queries runs back-to-back.
#: Keyed by Spark applicationId, NOT id(session) — Python reuses
#: object ids after GC, which could resurrect frames from a stopped
#: session.
_TABLE_CACHE: dict[tuple[str, str, str], object] = {}


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    """Register every parquet table under ``sf_dir`` as a temp view.

    Returns a dict name -> DataFrame. Column pruning and predicate
    pushdown reach the parquet scans because these are plain
    ``spark.read.parquet`` scans with no materialization.
    """
    all_names = [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]
    out = {}
    app_id = spark.sparkContext.applicationId
    for name in names or all_names:
        key = (app_id, sf_dir, name)
        if key in _TABLE_CACHE:
            df = _TABLE_CACHE[key]
            # ALWAYS re-point the temp view, even on a cache hit: a
            # later load_tables at a DIFFERENT sf_dir re-registers the
            # same view name, and a cached-hit skip would leave
            # view-based queries (spark.sql over "orders"...) silently
            # reading the other scale factor while DataFrame-returning
            # paths read the right one (caught by the sf0.01 exact
            # parity leg vs the sf0.001 oracle leg sharing a session).
            df.createOrReplaceTempView(name)
            out[name] = df
            continue
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            # TIMESTAMP(NANOS) columns arrive as long (see _DEFAULTS);
            # restore timestamp type at microsecond precision.
            if name == "events" and dict(df.dtypes).get("ts") == "bigint":
                from pyspark.sql import functions as F

                df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
            # Naive parquet timestamp[us] columns infer as TIMESTAMP_NTZ
            # on Spark 4 (inferTimestampNTZ default-on). The session tz
            # is pinned to UTC (configure_session), so casting NTZ ->
            # TIMESTAMP maps wall time to the same instant DuckDB's
            # naive-as-UTC epoch functions use, and unix_micros/window
            # range frames work unchanged.
            ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
            for c in ntz_cols:
                df = df.withColumn(c, df[c].cast("timestamp"))
            df.createOrReplaceTempView(name)
            _TABLE_CACHE[key] = df
            out[name] = df
    return out
