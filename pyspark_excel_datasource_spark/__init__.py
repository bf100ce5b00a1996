"""pyspark_excel_datasource_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first engine with the query and data-processing
capabilities of the reference connector (AshiSaraswat/pyspark-excel-datasource,
surveyed in SURVEY.md), extended with large-scale training-data-pipeline
operators (dedup, similarity search, text analysis, multimodal columns).

Layout
------
- ``session``    : SparkSession factory tuned for local[
  N] testing but configured the way a 1000-executor cluster run would be
  (AQE, adaptive skew join, sane shuffle partitioning).
- ``catalog``    : loaders for the TPC-H-ish parquet test tables.
- ``plans``      : the query registry — every operator from SURVEY.md §2 is a
  named (query, oracle-SQL) pair consumed by ``__spark_entry__``.
- ``operators``  : relational operators + north-star extension operators.
- ``functions``  : scalar function suite (string/date/math/cond/array/json/map).
- ``sources``    : the Excel DataSource (reader / writer / stream reader),
  rebuilt idiomatically on the Spark 4 Python Data Source API.
- ``streaming``  : Structured Streaming queries (windows, watermark, dedup).
"""

from . import _zipcache

# every Python worker that unpickles this package's sources or UDFs gets
# the cheap zip-cache invalidation (see _zipcache)
_zipcache.install()

__version__ = "0.1.0"
