from product_etl_spark.operators import (  # noqa: F401
    bucketing,
    cms,
    dedup,
    pq,
    retrieval,
    rollup,
    sampling,
    similarity,
    sketches,
    skew,
    sq,
    timeseries,
    zorder,
)
from product_etl_spark.operators.incremental import (  # noqa: F401
    only_unprocessed,
    read_stage_table,
)
from product_etl_spark.operators.ratelimit import TokenBucket  # noqa: F401
from product_etl_spark.operators.split import split_master_variants  # noqa: F401
from product_etl_spark.operators.upsert import upsert_parquet  # noqa: F401
