"""Explicit StructType schemas for every table the engine reads or writes.

Input model (fixed by the graft contract, FIXTURES.md §1):
    pages(url string, warc_ts timestamp, html binary, text string, lang string)

Derived entity tables (FIXTURES.md §2) mirror the reference's OSM input
stream (/root/reference/src/waterinspector.cpp:113-129).

Output tables mirror the reference's four SpatiaLite layers
(/root/reference/src/datastorage.hpp:91-128), with geometry as WKB binary
plus grid-cell ids, and 64-bit ids (the reference's int casts at
datastorage.hpp:258/:283/:320 are a 32-bit overflow hazard we do not copy).
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

NODES = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("lon", T.DoubleType(), True),
        T.StructField("lat", T.DoubleType(), True),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

WAYS = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("node_ids", T.ArrayType(T.LongType()), True),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

RELATION_MEMBER = T.StructType(
    [
        T.StructField("type", T.StringType(), True),
        T.StructField("ref", T.LongType(), True),
        T.StructField("role", T.StringType(), True),
    ]
)

RELATIONS = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("members", T.ArrayType(RELATION_MEMBER), True),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

# ---- output tables (reference layers, datastorage.hpp:91-128) ----

OUT_POLYGONS = T.StructType(
    [
        T.StructField("way_id", T.LongType(), True),
        T.StructField("relation_id", T.LongType(), True),
        T.StructField("type", T.StringType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("lastchange", T.StringType(), True),
        T.StructField("error", T.StringType(), True),  # declared, never set (quirk §7.6.2)
        T.StructField("geom_wkb", T.BinaryType(), True),
        T.StructField("h3_cells", T.ArrayType(T.LongType()), True),
    ]
)

OUT_RELATIONS = T.StructType(
    [
        T.StructField("relation_id", T.LongType(), True),
        T.StructField("type", T.StringType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("lastchange", T.StringType(), True),
        T.StructField("nowaterway_error", T.StringType(), True),
        T.StructField("tagging_error", T.StringType(), True),  # declared, never set
        T.StructField("geom_wkb", T.BinaryType(), True),
        T.StructField("h3_cells", T.ArrayType(T.LongType()), True),
    ]
)

OUT_WAYS = T.StructType(
    [
        T.StructField("way_id", T.LongType(), True),
        T.StructField("type", T.StringType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("firstnode", T.StringType(), True),
        T.StructField("lastnode", T.StringType(), True),
        T.StructField("relation_id", T.LongType(), True),
        T.StructField("width", T.StringType(), True),  # parsed but never written (quirk)
        T.StructField("lastchange", T.StringType(), True),
        T.StructField("construction", T.StringType(), True),
        T.StructField("width_error", T.StringType(), True),
        T.StructField("tagging_error", T.StringType(), True),  # declared, never set
        T.StructField("geom_wkb", T.BinaryType(), True),
        T.StructField("h3_cells", T.ArrayType(T.LongType()), True),
    ]
)

OUT_NODES = T.StructType(
    [
        T.StructField("node_id", T.StringType(), True),
        T.StructField("specific", T.StringType(), True),
        T.StructField("direction_error", T.StringType(), True),
        T.StructField("name_error", T.StringType(), True),
        T.StructField("type_error", T.StringType(), True),
        T.StructField("spring_error", T.StringType(), True),
        T.StructField("end_error", T.StringType(), True),
        T.StructField("way_error", T.StringType(), True),
        T.StructField("geom_wkb", T.BinaryType(), True),
        T.StructField("h3_cell", T.LongType(), True),
    ]
)

TILE_VALIDATION = T.StructType(
    [
        T.StructField("tile_id", T.LongType(), True),
        T.StructField("table", T.StringType(), True),
        T.StructField("error_class", T.StringType(), True),
        T.StructField("n", T.LongType(), True),
    ]
)

LINEAGE = T.StructType(
    [
        T.StructField("stage", T.StringType(), True),
        T.StructField("output_rows", T.LongType(), True),
        T.StructField("wall_ms", T.LongType(), True),
    ]
)
