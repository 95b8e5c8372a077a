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


def assign_node_tiles(nodes_out: DataFrame, z: int) -> DataFrame:
    """nodes output -> + tile_id column (vector->raster assignment)."""
    return nodes_out.withColumn("tile_id", C.tile_id("lon", "lat", z))


def tile_validation(nodes_out: DataFrame, z: int) -> DataFrame:
    """Per-tile x error-class counts (the validation tables replacing the
    sqlite sink, BASELINE.json:6). Classes: the six error flags, the two
    specifics, and 'normal'."""
    n = assign_node_tiles(nodes_out, z)
    # one SQL-text expression, parsed once
    whens = ", ".join(
        f"CASE WHEN {c} = 'true' THEN '{c.removesuffix('_error')}' END"
        for c in NODE_ERROR_CLASSES
    )
    classes = (f"array_compact(array({whens}, "
               f"CASE WHEN specific != '' THEN specific END))")
    exploded = n.select(
        "tile_id",
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


def feature_tile_assignment(df: DataFrame, kind: str, id_col: str, z: int, cell_res: int) -> DataFrame:
    """Geometry tables -> (kind, feature_id, tile_id) via the h3_cells
    decoration: raster<->vector mapping is cell-bbox -> tile cover.

    The cell-centre -> tile chain is SQL text handed to ``C.tile_id`` (one
    parse for the whole chain)."""
    cell = F.explode("h3_cells").alias("cell")
    c = df.select(F.col(id_col).alias("feature_id"), cell)
    # cell centre -> tile (cells are finer than or comparable to tiles here)
    n = f"pow(2.0D, cast({C._cell_res_sql('cell')} as double))"
    lon = f"(({C._cell_ix_sql('cell')} + 0.5D) / {n} * 360.0D - 180.0D)"
    lat = f"(({C._cell_iy_sql('cell')} + 0.5D) / {n} * 180.0D - 90.0D)"
    return c.select(
        F.lit(kind).alias("table"),
        "feature_id",
        C.tile_id(lon, lat, z).alias("tile_id"),
    ).distinct()
