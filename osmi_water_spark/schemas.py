"""Explicit StructType schemas shared across modules.

``PAGES`` is the input model (fixed by the graft contract, FIXTURES.md §1):
    pages(url string, warc_ts timestamp, html binary, text string, lang string)

``RELATION_MEMBER`` is the element type of a relation's ``members``
(FIXTURES.md §2), mirroring the reference's OSM input stream
(src/waterinspector.cpp:113-129). ``LINEAGE`` is the per-stage row-count
table a pipeline run writes.
"""

from __future__ import annotations

from pyspark.sql import types as T

PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

RELATION_MEMBER = T.StructType(
    [
        T.StructField("type", T.StringType(), True),
        T.StructField("ref", T.LongType(), True),
        T.StructField("role", T.StringType(), True),
    ]
)

LINEAGE = T.StructType(
    [
        T.StructField("stage", T.StringType(), True),
        T.StructField("output_rows", T.LongType(), True),
        T.StructField("wall_ms", T.LongType(), True),
    ]
)
