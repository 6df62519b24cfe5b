"""geostructures_spark: a PySpark-native geo-temporal spatial-join + tiling
engine with the query capabilities of ccbest/geostructures, built Spark-first
(DataFrame/Catalyst + vectorized Arrow UDFs) for web-scale page corpora.
"""
from geostructures_spark.plans.worker import lazy_zip_invalidation as _lazy_zip_invalidation

__version__ = '0.1.0'

_lazy_zip_invalidation()
