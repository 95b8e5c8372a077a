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

Every cell, of a point or of a cover, is the SQL text of
``functions/cells.py``. One aggregate over the polygon side settles which
of two physical arms runs:

- The map-side probe, when the polygon side fits the broadcast bound
  (``should_broadcast_parts``) and its cover fits ``MAX_PROBE_CELLS`` at
  some per-part cell budget (the largest of ``C.MAX_COVER_CELLS``, halved
  step by step, that fits). One collect brings the parts and their cover
  at that budget to the driver, which builds a ``CellProbeIndex`` and
  broadcasts it; the points, their cells computed in SQL, stream through
  one narrow mapInArrow with no shuffle.
- Otherwise the partitioned cell join. The cover is exploded in SQL and
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

    def __init__(self, cover_pairs: np.ndarray, index: "W.FlatPolygonIndex", keys: list):
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
    the broadcast cover (one searchsorted per resolution of the points'
    ``cells``), dedup (point, area) pairs, and run one flat vectorized ray
    cast. Zero shuffle."""
    import pyarrow as pa

    for rb in batches:
        if rb.num_rows == 0:
            continue
        ids = rb.column("point_id").to_numpy(zero_copy_only=False)
        lon = rb.column("lon").to_numpy(zero_copy_only=False)
        lat = rb.column("lat").to_numpy(zero_copy_only=False)
        cells = rb.column("cells").flatten().to_numpy().reshape(rb.num_rows, -1)
        rows_parts, key_parts = [], []
        for j in range(cells.shape[1]):
            r, k = probe.candidates(cells[:, j])
            rows_parts.append(r)
            key_parts.append(k)
        rows = np.concatenate(rows_parts)
        kk = np.concatenate(key_parts)
        if rows.size == 0:
            continue
        if cells.shape[1] > 1:
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


def _build_probe(parts: "pa.Table") -> CellProbeIndex:
    """The probe over the collected (area_key, part_wkb, cells) parts. The
    flat index is built ONCE on the driver over every (area_key, part) row
    — multi-part areas (a multipolygon with several outer rings,
    areahandler.hpp:48-62) keep each part; eval ORs over a key's parts —
    then shipped per executor."""
    import pyarrow.compute as pc

    keys = parts.column("area_key").to_pylist()
    index = W.FlatPolygonIndex.build(zip(keys, parts.column("part_wkb").to_pylist()))
    key_of_part = np.fromiter((index.key_id[k] for k in keys), dtype=np.int64, count=len(keys))
    cells = parts.column("cells").combine_chunks()
    per_part = pc.fill_null(pc.list_value_length(cells), 0).to_numpy(zero_copy_only=False)
    # CellProbeIndex dedups the (cell, key) pairs of parts sharing a key
    return CellProbeIndex(
        np.column_stack([cells.flatten().to_numpy(zero_copy_only=False),
                         np.repeat(key_of_part, per_part)]),
        index, sorted(index.key_id, key=index.key_id.get),
    )


def pip_join(
    points: DataFrame,
    polygon_parts: DataFrame,
    salt: int = 1,
    unique_points: bool = False,
) -> DataFrame:
    """points(point_id, lon, lat) x parts(area_key, part_wkb, minx..maxy)
    -> contained pairs (point_id, area_key), deduplicated.

    Each part's bbox cover count at every resolution in
    [``C.MIN_COVER_RES``, ``C.DEFAULT_RES``] is projected once. One
    aggregate over those columns gives the part count, the WKB bytes, the
    cover resolutions at the full per-part budget ``C.MAX_COVER_CELLS``
    (all read at call time), and the cover's size at each halved budget.
    From these the arm is chosen before anything is collected:

    - The map-side probe, when ``should_broadcast_parts`` holds and the
      cover at some budget fits ``MAX_PROBE_CELLS``: the largest such
      budget is used. The cover only prefilters, so a coarser one gives the
      same pairs. One collect brings the parts and their cover cells to
      the driver, which builds a ``CellProbeIndex`` and broadcasts it; the
      points, their cells computed in SQL, stream through one narrow
      ``mapInArrow``.
    - Otherwise the partitioned cell join, at the full budget. The cover is
      exploded in SQL, equi-joined to the points' cells (shuffle), and each
      candidate's ``part_wkb`` is refined by the Arrow ray cast.

    A point with a null lon or lat has null cells: it is dropped before either arm.

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
    counts = [f"_n{r}" for r in range(res_min, res_max + 1)]
    budgets = [max_cells >> k for k in range(max_cells.bit_length())]  # max_cells .. 1
    points = points.filter("lon IS NOT NULL AND lat IS NOT NULL")

    parts = polygon_parts.select(
        "area_key", "part_wkb", *box,
        *[c.alias(n) for c, n in zip(C.bbox_cover_counts(*box, res_min, res_max), counts)],
    )
    stats = parts.agg(
        F.count("*").alias("n"),
        F.sum(F.length("part_wkb")).alias("nbytes"),
        F.array_sort(F.collect_set(C.adaptive_cover_res(counts, res_min, max_cells))).alias("res"),
        *[F.sum(C.adaptive_cover_size(counts, b)).alias(f"cells_{b}") for b in budgets],
    ).collect()[0]
    if not stats["n"]:
        return spark.createDataFrame([], REFINE_SCHEMA)

    if should_broadcast_parts(stats["n"], stats["nbytes"] or 0):
        fits = [b for b in budgets if (stats[f"cells_{b}"] or 0) <= MAX_PROBE_CELLS]
        if fits:
            # ONE collect brings the whole polygon side (bounded by the
            # broadcast decision) and its cover at the chosen budget
            tbl = parts.withColumn(
                "res", C.adaptive_cover_res(counts, res_min, fits[0])
            ).select(
                "area_key", "part_wkb", "res", C.bbox_cover_cells(*box, "res").alias("cells")
            ).toArrow()
            res_list = sorted(set(tbl.column("res").to_pylist()))
            bcp = spark.sparkContext.broadcast(_build_probe(tbl))
            # NOT spread_input-widened (r6 A/B, interleaved): the probe is
            # already cheap per point, so the extra exchange's stage
            # barrier cost more than the 1-2-core serialization it fixed
            # (best 1.69 s no-spread vs 2.08 s spread at sf1.0); at scale
            # the point side arrives wide and shuffle-free is the design.
            refined = points.select(
                "point_id", "lon", "lat", C.cell_of_multi("lon", "lat", res_list).alias("cells")
            ).mapInArrow(lambda it: _probe_refine(it, bcp.value), REFINE_SCHEMA)
            # pairs are already unique per input ROW (in-batch dedup across
            # resolutions), so the global dedup only collapses duplicate
            # input point_ids. When the caller declares ids unique
            # (``unique_points``) the result is shuffle-FREE end to end —
            # scan -> mapInArrow -> done.
            return refined if unique_points else refined.dropDuplicates(["point_id", "area_key"])

    cover = parts.withColumn(
        "_cover_res", C.adaptive_cover_res(counts, res_min, max_cells)
    ).withColumn("cell", F.explode(C.bbox_cover_cells(*box, "_cover_res")))
    pts = points.select(
        "point_id",
        "lon",
        "lat",
        F.explode(C.cell_of_multi("lon", "lat", stats["res"])).alias("cell"),
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
