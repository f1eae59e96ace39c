"""product_etl_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the query and
data-processing capabilities of the reference product-catalog ETL
system (spec-vova/product-etl): multilingual product ingest,
attribute normalization, translation sidecars, enrichment pipelines,
verification queries — plus the large-scale training-data operators
(dedup, similarity search, text analysis) a
100 TB pipeline needs.

Everything is declared with the DataFrame / Spark SQL API so Catalyst
and Tungsten pick the physical strategy; Python UDFs only where the
built-in operators genuinely cannot express the semantics.
"""

__version__ = "0.1.0"
