"""Stage F decorations — raster<->vector tile assignment + per-tile
validation rollups (the graft's replacement for the reference's sqlite
sink consumers: the 26 map/water.map layer filters become per-tile
validation dimensions, SURVEY.md §2.9/§7.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osmi_water_spark.functions import cells as C

NODE_ERROR_CLASSES = [
    "direction_error", "name_error", "type_error", "spring_error", "end_error", "way_error",
]


def tile_validation(nodes_out: DataFrame, z: int) -> DataFrame:
    """Per-tile x error-class counts (the validation tables replacing the
    sqlite sink, BASELINE.json:6). Classes: the six error flags, the two
    specifics, and 'normal'."""
    # one SQL-text expression, parsed once
    whens = ", ".join(
        f"CASE WHEN {c} = 'true' THEN '{c.removesuffix('_error')}' END"
        for c in NODE_ERROR_CLASSES
    )
    classes = (f"array_compact(array({whens}, "
               f"CASE WHEN specific != '' THEN specific END))")
    exploded = nodes_out.select(
        C.tile_id("lon", "lat", z).alias("tile_id"),
        F.expr(
            f"explode(CASE WHEN size({classes}) > 0 THEN {classes} "
            f"ELSE array('normal') END)"
        ).alias("error_class"),
    )
    return (
        exploded.groupBy("tile_id", "error_class")
        .agg(F.count("*").alias("n"))
        .select("tile_id", F.lit("nodes").alias("table"), "error_class", "n")
    )


def feature_tile_assignment(df: DataFrame, kind: str, id_col: str, z: int) -> DataFrame:
    """Geometry tables -> (kind, feature_id, tile_id) via the h3_cells
    decoration: each cover cell goes to the tile holding its centre (cells
    are finer than or comparable to tiles here)."""
    c = df.select(F.col(id_col).alias("feature_id"), F.explode("h3_cells").alias("cell"))
    return c.select(
        F.lit(kind).alias("table"),
        "feature_id",
        C.cell_tile_id("cell", z).alias("tile_id"),
    ).distinct()
