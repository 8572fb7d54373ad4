"""Shared StructTypes (streaming sources need explicit schemas)."""

from __future__ import annotations

from pyspark.sql import types as T

PAGES_STRUCT = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)
