"""warcio_spark: a PySpark-native web-archive analytics engine + crawl frontier.

Brand-new engine with the query/data-processing capabilities of
webrecorder/warcio, re-expressed Spark-first: WARC/ARC records are rows of a
DataFrame, warcio's streaming pipeline stages are column derivations and
Arrow-batched pandas UDFs, and the crawl frontier (URL canonicalization,
murmur3 seen-set, politeness priority queue) is built from joins, windows and
aggregations that scale to 10^10-URL frontiers.
"""

from warcio_spark import zipguard

__version__ = "0.1.0"

zipguard.install()
