"""J5 probe-mode stress near MAX_PROBE_CELLS (VERDICT.md r3 #6): builds a
multi-million-cell cover (many polygons at a fine adaptive resolution) and
reports the probe build wall (parts collect + cover count + cover and index
assembly + broadcast) separately from the per-point lookup throughput of
the shuffle-free mapInArrow probe.

``cover_cells`` is the cover at the requested per-polygon budget. When it
is over MAX_PROBE_CELLS, pip_join halves the budget until the cover fits
and probes with that coarser cover (same pairs: the cover only
prefilters), so the run also measures the coarsened probe. The requested
``res_max`` and budget are set as ``cells.DEFAULT_RES`` and
``cells.MAX_COVER_CELLS``, which pip_join reads at call time.

Usage: SPARK_GRAFT_CPUS=8 python scripts/probe_cap_bench.py \
           [n_points] [n_polys] [res_max] [max_cells_per_poly]
Defaults 8M points x 50k polys at res<=10 (256 cells/poly requested).
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
from pip_bench import build_inputs  # noqa: E402  (same JVM-generated inputs)


def main() -> None:
    n_points = int(sys.argv[1]) if len(sys.argv) > 1 else 8_000_000
    n_polys = int(sys.argv[2]) if len(sys.argv) > 2 else 50_000
    res_max = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    max_cells = int(sys.argv[4]) if len(sys.argv) > 4 else 256
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    spark = get_spark(app_name=f"probe-cap-{cpus}", master=f"local[{cpus}]",
                      shuffle_partitions=cpus * 2)
    spark.sparkContext.setLogLevel("ERROR")

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    pts, parts = build_inputs(spark, n_points, n_polys)
    parts = parts.cache()
    parts.count()
    C.DEFAULT_RES, C.MAX_COVER_CELLS = res_max, max_cells

    # the cover size at the requested budget (one counting job, outside
    # the timed windows); over MAX_PROBE_CELLS, pip_join probes coarser
    cover_cells = (
        parts.withColumn(
            "_cover_res",
            C.adaptive_cover_res("minx", "miny", "maxx", "maxy",
                                 C.MIN_COVER_RES, res_max, max_cells),
        ).withColumn(
            "cell", F.explode(C.bbox_cover_cells("minx", "miny", "maxx", "maxy", "_cover_res")),
        ).select("cell", "area_key").distinct().count()
    )

    # warm the python/Arrow worker path on a small slice
    pip_join(pts.limit(10000), parts, broadcast_parts=True).count()

    # build: everything up to the returned (lazy) DataFrame — parts
    # collect, cover count, numpy/index assembly, broadcast registration
    t0 = time.time()
    pairs = pip_join(pts, parts, broadcast_parts=True, unique_points=True)
    t_build = time.time() - t0

    # lookup: the shuffle-free scan -> mapInArrow probe over all points
    t0 = time.time()
    n_pairs = pairs.count()
    t_lookup = time.time() - t0

    print(json.dumps({
        "metric": "probe_lookup_points_per_sec",
        "value": round(n_points / t_lookup, 1),
        "unit": "sec",
        "queries": {"probe_build": round(t_build, 3),
                    "probe_lookup": round(t_lookup, 3)},
        "cover_cells": cover_cells, "points": n_points, "polys": n_polys,
        "res_max": res_max, "max_cells_per_poly": max_cells,
        "pairs": n_pairs, "cpus": cpus,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
