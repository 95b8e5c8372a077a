"""J6 — kNN point matching (graft addition per BASELINE.json:6).

The reference matches endpoints by exact node-id equality only
(/root/reference/src/waterway.hpp:383-391); the graft adds
proximity-tolerant matching:

* ``knn_join_exact`` — brute-force: broadcast the (small) right side and
  window-rank by distance. Exact, oracle-checkable; right side must fit
  in a broadcast.
* ``knn_join_cells`` — scale path: candidates from a k-ring cell join
  (bounded fan-out: (2k+1)^2 cells/point), then window top-k. Approximate
  at ring edges (documented); one shuffle on cell id.

Distances are squared-euclidean in degrees (monotonic for ranking),
ties broken by neighbor id — fully deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from osmi_water_spark.functions import cells as C
from osmi_water_spark.parallel import spread_input


def _ranked(cand: DataFrame, k: int) -> DataFrame:
    dx = F.col("lon") - F.col("n_lon")
    dy = F.col("lat") - F.col("n_lat")
    dist = dx * dx + dy * dy  # plain multiplies (bit-identical to the SQL oracle)
    w = Window.partitionBy("point_id").orderBy(dist.asc(), F.col("neighbor_id").asc())
    return (
        cand.withColumn("dist2", dist)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("point_id", "rank", "neighbor_id", "dist2")
    )


def knn_join_exact(points: DataFrame, neighbors: DataFrame, k: int = 3) -> DataFrame:
    """points(point_id, lon, lat) x neighbors(neighbor_id, lon, lat) ->
    (point_id, rank, neighbor_id, dist2), rank<=k. Broadcast nested loop —
    right side small by contract."""
    n = F.broadcast(
        neighbors.select(
            F.col("neighbor_id"), F.col("lon").alias("n_lon"), F.col("lat").alias("n_lat")
        )
    )
    # spread_input: the broadcast-nested-loop output inherits the POINT
    # side's partitioning, so a narrow point set would generate (and
    # shuffle-write for the window) every candidate row on 1-2 cores
    # (measured 1.14 s -> 0.38 s at sf1.0); no-op when points are wide
    return _ranked(spread_input(points).crossJoin(n), k)


def _cells_pass(points: DataFrame, neighbors: DataFrame, k: int, res: int, ring: int) -> DataFrame:
    pts = points.select(
        "point_id", "lon", "lat",
        F.explode(C.k_ring(C._cell_of_sql("lon", "lat", res), ring)).alias("cell"),
    )
    nbr = neighbors.select(
        "neighbor_id",
        F.col("lon").alias("n_lon"),
        F.col("lat").alias("n_lat"),
        C.cell_of("lon", "lat", res).alias("cell"),
    )
    cand = pts.join(nbr, "cell", "inner").dropDuplicates(["point_id", "neighbor_id"])
    return _ranked(cand, k)


def knn_join_cells(
    points: DataFrame, neighbors: DataFrame, k: int = 3, res: int = C.DEFAULT_RES,
    ring: int = 1, widen: int = 0,
) -> DataFrame:
    """Cell-bucketed approximate kNN: candidates share a cell within the
    k-ring.

    CONTRACT: a point whose k-ring holds fewer than ``k`` neighbors gets
    fewer than k rows. Two mitigations: pick ``res`` so the expected k-th
    distance fits inside the ring, or set ``widen`` > 0 — under-filled
    points (including zero-candidate points, which a pure join would drop
    silently) are re-queried up to ``widen`` times with the ring doubled
    per round. Each round is a distributed anti-join selecting ONLY the
    deficient points, so a dense corpus pays nothing beyond one count; a
    point still under-filled after the last round keeps its partial (or
    empty) result. Also approximate at ring edges: a neighbor ``ring+1``
    cells away can be nearer than a found one — ``widen`` narrows but does
    not remove that window; use knn_join_exact when exactness matters.
    """
    out = _cells_pass(points, neighbors, k, res, ring)
    for _ in range(widen):
        ring = ring * 2
        filled = (
            out.groupBy("point_id").agg(F.count("*").alias("n"))
            .filter(F.col("n") >= k).select("point_id")
        )
        deficient = points.join(filled, "point_id", "left_anti")
        out = out.join(filled, "point_id", "left_semi").unionByName(
            _cells_pass(deficient, neighbors, k, res, ring)
        )
    return out
