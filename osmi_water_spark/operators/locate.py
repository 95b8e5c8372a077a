"""J1 — node-location resolution as an equi-join.

The reference keeps an in-memory id->location ``SparseMemArray``
(/root/reference/src/waterinspector.cpp:40-46, :96-99) and locates each
way's node refs while streaming. In Spark the join *is* the index:
``explode(node_ids)`` joined against the nodes table. The join is a plain
equi-join on a long key — Catalyst/AQE picks broadcast vs sort-merge by
size (nodes subset is broadcast-able at small SF; at 100 TB it's a
shuffle join on the node-id key with AQE skew handling).

``ignore_errors`` (waterinspector.cpp:99) = left join + drop unlocated
refs before geometry (located coordinate list keeps way order via
posexplode + array_sort on position).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def locate_ways(ways: DataFrame, nodes: DataFrame) -> DataFrame:
    """ways(id, node_ids, ...) x nodes(id, lon, lat) -> ways + ``coords``
    array<struct<lon,lat>> (order-preserving, unlocated refs dropped).
    Expression bodies are SQL text, one parse each."""
    exploded = ways.select(F.col("id").alias("way_id"), F.posexplode("node_ids").alias("pos", "nid"))
    located = exploded.join(
        nodes.selectExpr("id AS nid", "lon", "lat"), "nid", "left"
    ).filter(F.expr("lon IS NOT NULL"))
    coords = located.groupBy("way_id").agg(
        F.expr("array_sort(collect_list(struct(pos, lon, lat)))").alias("pts")
    )
    return (
        ways.join(coords, ways["id"] == coords["way_id"], "left")
        .drop("way_id")
        .withColumn(
            "coords",
            F.expr(
                "coalesce(transform(pts, p -> struct(p.lon AS lon, p.lat AS lat)), "
                "CAST(array() AS array<struct<lon:double,lat:double>>))"
            ),
        )
        .drop("pts")
    )


def node_locations(nodes: DataFrame) -> DataFrame:
    """(node_id, lon, lat) lookup side for point features."""
    return nodes.select(F.col("id").alias("node_id"), "lon", "lat")
