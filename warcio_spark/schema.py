"""Canonical table schemas for the engine (SURVEY.md §1.3, BASELINE input_hint).

Headers are ``array<struct<name,value>>`` — NOT MapType — because order is
significant and duplicate names are allowed (warcio/statusandheaders.py:29,
round-trip identity depends on it, test/test_writer.py:571-600).
"""

from pyspark.sql import types as T

HEADERS_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("name", T.StringType(), False),
            T.StructField("value", T.StringType(), True),
        ]
    )
)

# one row per WARC/ARC record; offset/rec_length = member extent in the
# source file (warcio/archiveiterator.py:237)
WARC_RECORDS_SCHEMA = T.StructType(
    [
        T.StructField("record_id", T.StringType(), True),
        T.StructField("rec_type", T.StringType(), True),
        T.StructField("format", T.StringType(), True),
        T.StructField("url", T.StringType(), True),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("rec_headers", HEADERS_TYPE, True),
        T.StructField("http_protocol", T.StringType(), True),
        T.StructField("http_statusline", T.StringType(), True),
        T.StructField("http_headers", HEADERS_TYPE, True),
        T.StructField("content_type", T.StringType(), True),
        T.StructField("length", T.LongType(), True),
        T.StructField("payload_length", T.LongType(), True),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("content", T.BinaryType(), True),
        T.StructField("digest_ok", T.BooleanType(), True),
        T.StructField("offset", T.LongType(), True),
        T.StructField("rec_length", T.LongType(), True),
        T.StructField("filename", T.StringType(), True),
        T.StructField("file_err_count", T.LongType(), True),
        T.StructField("file_error", T.StringType(), True),
    ]
)

# the north-rule input table (BASELINE.json:15)
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)
