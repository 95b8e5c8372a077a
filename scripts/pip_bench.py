"""Flagship-operator scaling job: the salted cell-indexed PIP join + tile
assignment (the BASELINE.json headline metric) over JVM-generated inputs.

Inputs are generated with spark.range + column expressions, and the
rectangles become parts through the J5 query's ``rect_parts`` (one Arrow
linestring pass), so the measured work is the engine's spatial join
itself: cell-cover explode, salted equi-join, Arrow ray-cast refine, tile
assignment.

Usage: SPARK_GRAFT_CPUS=8 python scripts/pip_bench.py [n_points] [n_polys]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from osmi_water_spark import get_spark  # noqa: E402
from osmi_water_spark.functions import cells as C  # noqa: E402
from osmi_water_spark.operators.spatial_join import pip_join  # noqa: E402
from osmi_water_spark.plans.testdata_queries import rect_parts  # noqa: E402


def build_inputs(spark, n_points: int, n_polys: int):
    pts = spark.range(n_points).select(
        F.col("id").alias("point_id"),
        (((F.col("id") * 97) % 350000) / 1000.0 - 174.95).alias("lon"),
        (((F.col("id") * 211) % 160000) / 1000.0 - 79.95).alias("lat"),
    )
    polys = spark.range(n_polys).select(
        F.col("id").alias("poly_id"),
        (((F.col("id") * 29) % 3000) / 10.0 - 150.0 + 0.025).alias("x0"),
        (((F.col("id") * 31) % 1400) / 10.0 - 70.0 + 0.025).alias("y0"),
    ).select(
        "poly_id", "x0", "y0",
        (F.col("x0") + 2.3).alias("x1"), (F.col("y0") + 1.7).alias("y1"),
    )
    return pts, rect_parts(polys)


def main() -> None:
    n_points = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    n_polys = int(sys.argv[2]) if len(sys.argv) > 2 else 20_000
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    spark = get_spark(app_name=f"pip-bench-{cpus}", master=f"local[{cpus}]",
                      shuffle_partitions=cpus * 2)
    spark.sparkContext.setLogLevel("ERROR")

    pts, parts = build_inputs(spark, n_points, n_polys)
    parts = parts.cache()
    parts.count()
    # warm: small slice through the whole path
    pip_join(pts.limit(10000), parts, salt=4).count()

    t0 = time.time()
    # the pairs join back to their points for lon/lat, as
    # __spark_entry__.entry() does
    pairs = pip_join(pts, parts, salt=8, unique_points=True)
    out = pairs.join(pts, "point_id").select(
        "point_id", "area_key", C.tile_id(F.col("lon"), F.col("lat"), 8).alias("tile_id")
    )
    n_out = out.count()
    wall = time.time() - t0
    print(json.dumps({
        "metric": "pip_tile_points_per_sec",
        "value": round(n_points / wall, 1),
        "unit": "sec",
        "queries": {"pip_tile": round(wall, 3)},
        "points": n_points, "polys": n_polys, "pairs": n_out, "cpus": cpus,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
