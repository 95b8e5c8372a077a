"""J5 — the cell-indexed point-in-polygon join (the engine's one custom
physical strategy, SURVEY.md §4/§7.3).

Reference: STRtree envelope query + PreparedPolygon::contains
(/root/reference/src/areahandler.hpp:37-64,
/root/reference/src/falsepositives.hpp:116-144). Spark shape:

  polygons --adaptive bbox cover--> (cell, part)      [bounded fan-out]
  points   --cell per resolution--> (cell, point)     [<= #resolutions rows]
  cell match                   == envelope pre-filter
  vectorized ray-cast refine   == prepared contains
  distinct(point, area)        == first-containing-polygon break

Two physical arms, one question: does the polygon side fit the broadcast
bound (``should_broadcast_parts``)?

- Yes: the map-side probe. The driver builds the cover and the flat
  ray-cast index from one collect and broadcasts them as a
  ``CellProbeIndex``; the points stream through one narrow mapInArrow with
  no shuffle. A cover over ``MAX_PROBE_CELLS`` is coarsened (the per-part
  cell budget halves) until it fits.
- No: the partitioned cell join. The cover is exploded in SQL and
  equi-joined to the points' cells; that join is the only shuffle. Dense
  cells are optionally *salted*: the polygon side replicates cell rows k
  ways and points pick a deterministic salt from their id hash, spreading
  one hot cell across k shuffle partitions (BASELINE.json:6 skew
  mitigation). AQE skew-join splitting stays on underneath.

Polygon fan-out is bounded by ``C.MAX_COVER_CELLS`` per part (big polygons
coarsen resolution instead of exploding); point fan-out is bounded by the
number of distinct cover resolutions actually present.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osmi_water_spark.functions import cells as C
from osmi_water_spark.functions import wkb as W

REFINE_SCHEMA = "point_id long, area_key string"

# broadcast-parts auto decision: both bounds must hold. The byte bound is
# the one that matters at scale — 200k coastline parts can be multi-GB of
# WKB, which would OOM the driver long before the row count trips.
MAX_BROADCAST_PARTS = 200_000
MAX_BROADCAST_BYTES = 128 << 20
# map-side probe cover bound: the (cell, area) cover table ships in the
# broadcast (16 bytes/row -> ~64 MB at the cap); a larger cover is coarsened
MAX_PROBE_CELLS = 4_000_000


class CellProbeIndex:
    """The whole J5 polygon side as one broadcastable object: the sorted
    (cell -> candidate area ids) cover table plus the FlatPolygonIndex.

    With it, the PIP join runs as a single narrow ``mapInArrow`` over the
    points table — no point-side explode, no shuffle join, no candidate
    materialization. At cluster scale this is the map-side-join strategy:
    the polygon side (small by the broadcast bound) ships once per
    executor; the 100-TB point side streams through untouched. Cell lookup
    is a vectorized ``searchsorted`` per batch; containment is the flat
    ray cast. Replaces the sort-merge join that dominated PIP wall time
    once the cover outgrew Spark's broadcast-join threshold; a cover over
    ``MAX_PROBE_CELLS`` is built coarser rather than joined."""

    def __init__(self, cover_pairs: np.ndarray, index: "W.FlatPolygonIndex",
                 res_list: list[int], keys: list):
        pairs = np.asarray(cover_pairs, dtype=np.int64).reshape(-1, 2)
        order = np.lexsort((pairs[:, 1], pairs[:, 0]))
        pairs = pairs[order]
        if len(pairs):
            # several parts of one key can cover the same cell — dedup
            first = np.ones(len(pairs), dtype=bool)
            first[1:] = (pairs[1:] != pairs[:-1]).any(axis=1)
            pairs = pairs[first]
        cells = pairs[:, 0]
        self.cand_key = pairs[:, 1]
        self.uniq_cells, starts = np.unique(cells, return_index=True)
        self.cand_start = starts.astype(np.int64)
        self.cand_count = np.diff(np.append(starts, len(cells))).astype(np.int64)
        self.index = index
        self.res_list = list(res_list)
        self.keys = np.asarray(keys, dtype=object)

    def candidates(self, cells: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """cells (n,) -> ragged (row_idx, key_id) candidate expansion."""
        if len(self.uniq_cells) == 0:
            return np.empty(0, np.int64), np.empty(0, np.int64)
        pos = np.searchsorted(self.uniq_cells, cells)
        pos = np.minimum(pos, len(self.uniq_cells) - 1)
        rows = np.flatnonzero(self.uniq_cells[pos] == cells)
        p = pos[rows]
        owner, flat = W.FlatPolygonIndex._ragged(
            self.cand_start[p], self.cand_count[p]
        )
        return rows[owner], self.cand_key[flat]


def _probe_refine(
    batches: Iterator["pa.RecordBatch"], probe: "CellProbeIndex"
) -> Iterator["pa.RecordBatch"]:
    """Map-side PIP: per Arrow batch of points, gather candidate areas from
    the broadcast cover (one searchsorted per resolution), dedup (point,
    area) pairs, and run one flat vectorized ray cast. Zero shuffle."""
    import pyarrow as pa

    for rb in batches:
        if rb.num_rows == 0:
            continue
        ids = rb.column("point_id").to_numpy(zero_copy_only=False)
        lon = rb.column("lon").to_numpy(zero_copy_only=False)
        lat = rb.column("lat").to_numpy(zero_copy_only=False)
        rows_parts, key_parts = [], []
        for res in probe.res_list:
            r, k = probe.candidates(C.np_cell_of(lon, lat, res))
            rows_parts.append(r)
            key_parts.append(k)
        rows = np.concatenate(rows_parts) if rows_parts else np.empty(0, np.int64)
        kk = np.concatenate(key_parts) if key_parts else np.empty(0, np.int64)
        if rows.size == 0:
            continue
        if len(probe.res_list) > 1:
            # a (point, area) pair can arrive once per resolution — dedup.
            # (Single-res probes skip this: candidates() emits pairs already
            # sorted and unique — rows ascend, the per-cell key list is
            # sorted+deduped at build time.)
            order = np.lexsort((rows, kk))
            sr, sk = rows[order], kk[order]
            uniq = np.ones(order.size, dtype=bool)
            uniq[1:] = (sk[1:] != sk[:-1]) | (sr[1:] != sr[:-1])
            rows, kk = sr[uniq], sk[uniq]
        keep = probe.index.eval(lon[rows], lat[rows], kk)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(ids[rows[keep]], type=pa.int64()),
                pa.array(probe.keys[kk[keep]], type=pa.string()),
            ],
            ["point_id", "area_key"],
        )


def should_broadcast_parts(n_parts: int, n_bytes: int) -> bool:
    """Pure decision function (unit-tested): broadcast only when the polygon
    side is small by BOTH row count and total WKB bytes
    (``MAX_BROADCAST_PARTS``, ``MAX_BROADCAST_BYTES``, read at call time)."""
    return n_parts <= MAX_BROADCAST_PARTS and n_bytes <= MAX_BROADCAST_BYTES


def _refine_arrow_parts(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
    """Exact containment refine over (point_id, area_key, part_wkb, lon,
    lat) record batches: dictionary-encode the WKB column (one parse per
    DISTINCT part per batch), then ONE flat vectorized ray cast for the
    whole batch (FlatPolygonIndex — per-part numpy calls were the measured
    scaling bottleneck at local[32], BENCH.md). Arrow-native end to end."""
    import pyarrow as pa
    import pyarrow.compute as pc

    for rb in batches:
        if rb.num_rows == 0:
            continue
        lon = rb.column("lon").to_numpy(zero_copy_only=False)
        lat = rb.column("lat").to_numpy(zero_copy_only=False)
        d = pc.dictionary_encode(rb.column("part_wkb"))
        codes = d.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        parts = d.dictionary.to_pylist()
        index = W.FlatPolygonIndex.build(enumerate(parts))
        keep = index.eval(lon, lat, codes)
        yield rb.select(["point_id", "area_key"]).filter(pa.array(keep))


def _fit_probe(part_rows: list, boxes: list, res_min: int, res_max: int,
               max_cells: int) -> CellProbeIndex | None:
    """The probe over the collected parts, its cover built at the largest
    per-part budget (``max_cells``, halved while over the cap) whose cover
    fits ``MAX_PROBE_CELLS``; None if even one cell per part does not fit.
    A coarser cover yields more candidates but the same pairs: the cover
    only prefilters, the ray cast decides containment. The cap is checked on the per-box counts BEFORE the cover exists, so an
    over-cap cover is never built on the driver. The count is of (cell,
    part) pairs, before CellProbeIndex's (cell, key) dedup."""
    budget = max_cells
    res, _, _, w, h = C.np_cover_boxes(*boxes, res_min, res_max, budget)
    while int((w * h).sum()) > MAX_PROBE_CELLS and budget > 1:
        budget //= 2
        res, _, _, w, h = C.np_cover_boxes(*boxes, res_min, res_max, budget)
    if int((w * h).sum()) > MAX_PROBE_CELLS:
        return None
    # The flat index is built ONCE on the driver over every (area_key,
    # part) row — multi-part areas (a multipolygon with several outer
    # rings, areahandler.hpp:48-62) keep each part; eval ORs over a key's
    # parts — then shipped per executor.
    index = W.FlatPolygonIndex.build(
        (r["area_key"], bytes(r["part_wkb"])) for r in part_rows
    )
    _, cover_cells, cover_owner = C.np_cover(*boxes, res_min, res_max, budget)
    key_of_part = np.fromiter(
        (index.key_id[r["area_key"]] for r in part_rows),
        dtype=np.int64, count=len(part_rows),
    )
    keys_by_id = [None] * len(index.key_id)
    for k, i in index.key_id.items():
        keys_by_id[i] = k
    # CellProbeIndex dedups (cell, key) pairs at build time — same set as a
    # cover.distinct() job, computed from the driver arrays
    return CellProbeIndex(
        np.column_stack([cover_cells, key_of_part[cover_owner]]),
        index, np.unique(res).tolist(), keys_by_id,
    )


def pip_join(
    points: DataFrame,
    polygon_parts: DataFrame,
    salt: int = 1,
    broadcast_parts: bool | None = None,
    unique_points: bool = False,
) -> DataFrame:
    """points(point_id, lon, lat) x parts(area_key, part_wkb, minx..maxy)
    -> contained pairs (point_id, area_key), deduplicated.

    Two physical arms, chosen by ``broadcast_parts``:

    - True: the map-side probe. One collect brings the polygon side to the
      driver, which builds a ``CellProbeIndex`` (cell cover + flat ray-cast
      index) and broadcasts it; the points stream through one narrow
      ``mapInArrow``. If the cover at ``C.MAX_COVER_CELLS`` per part exceeds
      ``MAX_PROBE_CELLS``, the per-part budget is halved until it fits:
      the cover only prefilters, so a coarser one gives the same pairs.
      Only when even one cell per part is over the cap does the join run
      partitioned.
    - False: the partitioned cell join. The cover is exploded in SQL,
      equi-joined to the points' cells (shuffle), and each candidate's
      ``part_wkb`` is refined by the Arrow ray cast.

    None = auto: one aggregate over the polygon side counts parts and WKB
    bytes (the probe needs both within the broadcast bounds) and collects
    the cover resolutions the partitioned arm joins on.

    Every part is covered at the finest resolution in
    [``C.MIN_COVER_RES``, ``C.DEFAULT_RES``] whose bbox cover stays within
    ``C.MAX_COVER_CELLS`` cells (read at call time).

    ``salt`` > 1 replicates the partitioned arm's polygon side k ways and
    routes each point to one deterministic replica — use when single cells
    are hot. The probe has no shuffle to salt.

    ``unique_points``: caller-declared contract that ``point_id`` values are
    unique. In probe mode this makes the join fully shuffle-free (the
    in-batch dedup already guarantees pair uniqueness per input row).
    """
    spark = points.sparkSession
    res_min, res_max, max_cells = C.MIN_COVER_RES, C.DEFAULT_RES, C.MAX_COVER_CELLS
    box = ("minx", "miny", "maxx", "maxy")

    res_list = []
    if broadcast_parts is not True:
        stats = polygon_parts.agg(
            F.count("*").alias("n"),
            F.coalesce(F.sum(F.length("part_wkb")), F.lit(0)).alias("nbytes"),
            F.array_sort(F.collect_set(
                C.adaptive_cover_res(*box, res_min, res_max, max_cells)
            )).alias("res"),
        ).collect()[0]
        res_list = list(stats["res"])
        if broadcast_parts is None:
            broadcast_parts = should_broadcast_parts(int(stats["n"]), int(stats["nbytes"]))

    if broadcast_parts:
        # ONE collect brings the whole polygon side (bounded by the
        # broadcast decision) to the driver: WKB for the flat index AND the
        # bboxes, from which the cover is derived in numpy (C.np_cover —
        # exact twin of the JVM expressions).
        part_rows = polygon_parts.select("area_key", "part_wkb", *box).collect()
        if not part_rows:
            return spark.createDataFrame([], REFINE_SCHEMA)
        boxes = [[r[c] for r in part_rows] for c in box]
        probe = _fit_probe(part_rows, boxes, res_min, res_max, max_cells)
        if probe is not None:
            bcp = spark.sparkContext.broadcast(probe)
            # NOT spread_input-widened (r6 A/B, interleaved): the probe is
            # already cheap per point, so the extra exchange's stage
            # barrier cost more than the 1-2-core serialization it fixed
            # (best 1.69 s no-spread vs 2.08 s spread at sf1.0); at scale
            # the point side arrives wide and shuffle-free is the design.
            refined = points.select("point_id", "lon", "lat").mapInArrow(
                lambda it: _probe_refine(it, bcp.value), REFINE_SCHEMA
            )
            # pairs are already unique per input ROW (in-batch dedup across
            # resolutions), so the global dedup only collapses duplicate
            # input point_ids. When the caller declares ids unique
            # (``unique_points``) the result is shuffle-FREE end to end —
            # scan -> mapInArrow -> done.
            return refined if unique_points else refined.dropDuplicates(["point_id", "area_key"])
        # even one cell per part is over the cap: join partitioned, at the
        # full budget
        res_list = np.unique(C.np_cover_boxes(*boxes, res_min, res_max, max_cells)[0]).tolist()
    if not res_list:
        return spark.createDataFrame([], REFINE_SCHEMA)

    # each part's cover resolution is projected once; the cover reads it
    cover = polygon_parts.withColumn(
        "_cover_res", C.adaptive_cover_res(*box, res_min, res_max, max_cells)
    ).withColumn("cell", F.explode(C.bbox_cover_cells(*box, "_cover_res")))
    pts = points.select(
        "point_id",
        "lon",
        "lat",
        F.explode(C.cell_of_multi("lon", "lat", res_list)).alias("cell"),
    )

    if salt > 1:
        cover = cover.withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
        pts = pts.withColumn("salt", F.pmod(F.hash("point_id"), F.lit(salt)))
        keys = ["cell", "salt"]
    else:
        keys = ["cell"]

    # envelope check before the exact refine (cheap column filter, mirrors
    # the STRtree envelope query precisely):
    env = (
        (F.col("lon") >= F.col("minx")) & (F.col("lon") <= F.col("maxx"))
        & (F.col("lat") >= F.col("miny")) & (F.col("lat") <= F.col("maxy"))
    )
    cand = pts.join(
        cover.select(*keys, "area_key", "part_wkb", *box), keys, "inner"
    ).filter(env)
    refined = cand.select("point_id", "area_key", "part_wkb", "lon", "lat").mapInArrow(
        _refine_arrow_parts, REFINE_SCHEMA
    )
    return refined.dropDuplicates(["point_id", "area_key"])


def pip_exists(points: DataFrame, polygon_parts: DataFrame, **kw) -> DataFrame:
    """Semi-join flavor: point_ids contained in ANY polygon (the reference's
    break-at-first-hit, falsepositives.hpp:137-139). A projection of
    ``pip_join``: Catalyst drops the pair dedup under the point-id distinct
    (RemoveRedundantAggregates), so one aggregate remains."""
    return pip_join(points, polygon_parts, **kw).select("point_id").distinct()
