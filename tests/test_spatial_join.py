"""J5 pip_join edge cases: multi-part areas under both arms, the
byte-bounded broadcast decision, the probe's cover cap, salting of the
partitioned arm, null coordinates, and the empty-polygon-side schema.
A test forces the partitioned arm by lowering ``MAX_BROADCAST_BYTES``.

The reference indexes each polygon part separately in its STRtree
(/root/reference/src/areahandler.hpp:48-62), so an area whose MultiPolygon
has several outer rings must match points inside ANY ring — in both the
probe and the partitioned arm.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

import osmi_water_spark.operators.spatial_join as SJ
from osmi_water_spark.functions import cells as C
from osmi_water_spark.functions import wkb as W
from osmi_water_spark.operators.spatial_join import (
    MAX_BROADCAST_BYTES,
    MAX_BROADCAST_PARTS,
    pip_exists,
    pip_join,
    should_broadcast_parts,
)


def _force_partitioned(monkeypatch):
    """No polygon side fits the broadcast bound: pip_join joins partitioned."""
    monkeypatch.setattr(SJ, "MAX_BROADCAST_BYTES", -1)


def _joined(df) -> bool:
    return "Join" in df._jdf.queryExecution().optimizedPlan().toString()


def _rect_wkb(x0, y0, x1, y1):
    return W.wkb_polygon(
        [np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], dtype=np.float64)]
    )


def _two_part_area(spark):
    """One area_key ('A') with two disjoint rectangle parts + a decoy area."""
    rows = [
        ("A", bytearray(_rect_wkb(0.0, 0.0, 1.0, 1.0)), 0.0, 0.0, 1.0, 1.0),
        ("A", bytearray(_rect_wkb(10.0, 10.0, 11.0, 11.0)), 10.0, 10.0, 11.0, 11.0),
        ("B", bytearray(_rect_wkb(20.0, 20.0, 21.0, 21.0)), 20.0, 20.0, 21.0, 21.0),
    ]
    return spark.createDataFrame(
        rows,
        "area_key string, part_wkb binary, minx double, miny double, "
        "maxx double, maxy double",
    )


def _points(spark):
    rows = [
        (1, 0.5, 0.5),    # inside part 1 of A
        (2, 10.5, 10.5),  # inside part 2 of A
        (3, 20.5, 20.5),  # inside B
        (4, 5.0, 5.0),    # outside everything
    ]
    return spark.createDataFrame(rows, "point_id long, lon double, lat double")


@pytest.mark.parametrize("broadcast", [True, False])
def test_multi_part_area_both_paths(spark, monkeypatch, broadcast):
    parts = _two_part_area(spark)
    pts = _points(spark)
    if not broadcast:
        _force_partitioned(monkeypatch)
    df = pip_join(pts, parts)
    assert _joined(df) != broadcast
    assert {(r.point_id, r.area_key) for r in df.collect()} == {(1, "A"), (2, "A"), (3, "B")}
    # an empty polygon side still yields the pairs schema
    empty = pip_join(pts, parts.limit(0))
    assert empty.columns == ["point_id", "area_key"] and empty.count() == 0


def test_multi_part_area_pip_exists(spark):
    parts = _two_part_area(spark)
    pts = _points(spark)
    got = {r.point_id for r in pip_exists(pts, parts).collect()}
    assert got == {1, 2, 3}


@pytest.mark.parametrize("broadcast", [True, False])
def test_pip_exists_plans_one_aggregate(spark, monkeypatch, broadcast):
    """pip_exists is a projection of pip_join: Catalyst drops the pair
    dedup under the point-id distinct, so the optimized plan holds one
    Aggregate in either arm, and a duplicated point id comes out once."""
    parts = _two_part_area(spark)
    pts = _points(spark).unionByName(_points(spark).filter("point_id = 1"))
    if not broadcast:
        _force_partitioned(monkeypatch)
    df = pip_exists(pts, parts)
    assert _joined(df) != broadcast
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Aggregate [") == 1, plan
    assert sorted(r.point_id for r in df.collect()) == [1, 2, 3]


def test_broadcast_decision_is_byte_bounded():
    assert should_broadcast_parts(10, 1000)
    assert should_broadcast_parts(MAX_BROADCAST_PARTS, MAX_BROADCAST_BYTES)
    # few rows of huge coastline WKB must NOT broadcast
    assert not should_broadcast_parts(100, MAX_BROADCAST_BYTES + 1)
    assert not should_broadcast_parts(MAX_BROADCAST_PARTS + 1, 1000)


def test_auto_decision_picks_nonbroadcast_for_fat_parts(spark, monkeypatch):
    """End-to-end: the decision consults total WKB bytes, not just the
    row count, and the non-broadcast fallback stays correct."""
    parts = _two_part_area(spark)
    pts = _points(spark)
    monkeypatch.setattr(SJ, "MAX_BROADCAST_BYTES", 8)  # everything is "fat"
    df = pip_join(pts, parts)
    assert _joined(df)
    assert {(r.point_id, r.area_key) for r in df.collect()} == {(1, "A"), (2, "A"), (3, "B")}


def _salt_case(spark):
    """Random rects whose keys repeat (multi-part areas, overlapping parts
    of one key included) and points on cell edges at every cover
    resolution, plus uniform ones. Returns (parts, points, expected pairs)
    with the expectation from a numpy brute force over strict interiors;
    the random rect edges never coincide with a dyadic cell edge."""
    rng = np.random.RandomState(11)
    x0 = rng.uniform(-30.0, 30.0, 30)
    y0 = rng.uniform(-20.0, 20.0, 30)
    x1 = x0 + rng.uniform(0.3, 12.0, 30)
    y1 = y0 + rng.uniform(0.3, 12.0, 30)
    keys = [f"k{i % 7}" for i in range(30)]
    parts = spark.createDataFrame(
        [
            (keys[i], bytes(_rect_wkb(x0[i], y0[i], x1[i], y1[i])),
             float(x0[i]), float(y0[i]), float(x1[i]), float(y1[i]))
            for i in range(30)
        ],
        "area_key string, part_wkb binary, minx double, miny double, "
        "maxx double, maxy double",
    )
    # cell edges at the finest cover resolution include every coarser one
    n = 1 << C.DEFAULT_RES
    ex = -180.0 + 360.0 / n * np.arange(n + 1)
    ey = -90.0 + 180.0 / n * np.arange(n + 1)
    ex, ey = ex[(ex > -35.0) & (ex < 45.0)], ey[(ey > -25.0) & (ey < 35.0)]
    gx, gy = np.meshgrid(ex, ey)
    lon = np.concatenate([gx.ravel(), ex, rng.uniform(-35.0, 45.0, ey.size),
                          rng.uniform(-35.0, 45.0, 800)])
    lat = np.concatenate([gy.ravel(), rng.uniform(-25.0, 35.0, ex.size), ey,
                          rng.uniform(-25.0, 35.0, 800)])
    pts = spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(lon, lat))],
        "point_id long, lon double, lat double",
    )
    inside = (
        (lon[:, None] > x0) & (lon[:, None] < x1)
        & (lat[:, None] > y0) & (lat[:, None] < y1)
    )
    want = {(int(p), keys[r]) for p, r in zip(*np.nonzero(inside))}
    return parts, pts, want


@pytest.mark.parametrize("salt", [1, 3, 8])
def test_salted_partitioned_arm_matches_brute_force(spark, monkeypatch, salt):
    """Salting the partitioned arm's cell join (polygon side replicated k
    ways, each point routed to one replica) changes no pair, and the
    result carries each (point, area) pair once."""
    parts, pts, want = _salt_case(spark)
    _force_partitioned(monkeypatch)
    df = pip_join(pts, parts, salt=salt)
    assert _joined(df)
    rows = [(r.point_id, r.area_key) for r in df.collect()]
    assert len(rows) == len(set(rows)) and set(rows) == want
    exists = pip_exists(pts, parts, salt=salt)
    assert {r.point_id for r in exists.collect()} == {p for p, _ in want}


def test_auto_partitioned_plans_with_one_job(spark, monkeypatch):
    """One aggregate settles the arm and the partitioned arm's cover
    resolutions: building the partitioned join runs exactly one query
    before any action on its result, and launches exactly the jobs of one
    global aggregate (with AQE on, that is a shuffle-map job plus a result
    job). Building the probe arm runs that aggregate plus one collect of
    the parts and their cover."""
    parts = _two_part_area(spark)
    pts = _points(spark)
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()

    def run_in_group(group, build):
        n_exec = store.executionsCount()
        sc.setJobGroup(group, group)
        try:
            out = build()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        return out, jobs, store.executionsCount() - n_exec

    want = {(1, "A"), (2, "A"), (3, "B")}
    _, agg_jobs, _ = run_in_group("one-aggregate", lambda: parts.agg(F.count("*")).collect())
    assert agg_jobs >= 1

    df, jobs, queries = run_in_group("pip-join-probe", lambda: pip_join(pts, parts))
    assert not _joined(df)
    assert jobs == agg_jobs + 1 and queries == 2
    assert {(r.point_id, r.area_key) for r in df.collect()} == want

    _force_partitioned(monkeypatch)
    df, jobs, queries = run_in_group("pip-join-partitioned", lambda: pip_join(pts, parts))
    assert _joined(df)
    assert jobs == agg_jobs and queries == 1
    assert {(r.point_id, r.area_key) for r in df.collect()} == want


@pytest.mark.parametrize("broadcast", [True, False])
def test_null_coordinates_match_nothing(spark, monkeypatch, broadcast):
    """A point with a null lon or lat matches no polygon in either arm,
    while the points beside it in the same batch still match. The SQL cell
    of a null coordinate is the grid's last cell on that axis (``greatest``
    and ``least`` skip nulls), so area N, which covers the north-east
    corner, has the null points as candidates; the envelope check before
    the ray cast drops them."""
    corner = [("N", bytearray(_rect_wkb(170.0, 80.0, 180.0, 90.0)), 170.0, 80.0, 180.0, 90.0)]
    parts = _two_part_area(spark).unionByName(spark.createDataFrame(
        corner, "area_key string, part_wkb binary, minx double, miny double, "
        "maxx double, maxy double"))
    pts = _points(spark).unionByName(spark.createDataFrame(
        [(5, None, 85.0), (6, 175.0, None), (7, None, None), (8, 175.0, 85.0)],
        "point_id long, lon double, lat double",
    )).coalesce(1)
    cand = pts.filter("point_id IN (5, 6, 7)").select(
        F.arrays_overlap(
            C.cell_of_multi("lon", "lat", [C.DEFAULT_RES]),
            C.bbox_cover_cells("170.0D", "80.0D", "180.0D", "90.0D", C.DEFAULT_RES),
        ).alias("hit")
    ).collect()
    assert [r.hit for r in cand] == [True] * 3
    if not broadcast:
        _force_partitioned(monkeypatch)
    df = pip_join(pts, parts)
    assert _joined(df) != broadcast
    assert {(r.point_id, r.area_key) for r in df.collect()} == {
        (1, "A"), (2, "A"), (3, "B"), (8, "N")
    }


# ---------------- pure-numpy unit tests (no Spark session) ----------------


def test_flat_index_chunk_invariance():
    """eval() must be chunking-invariant: the max_edge_instances bound is a
    cache budget, never a semantic knob."""
    import numpy as np

    from osmi_water_spark.functions import wkb as W

    rng = np.random.RandomState(7)
    items = []
    for i in range(50):
        cx, cy = rng.uniform(-10, 10, 2)
        n = rng.randint(3, 12)
        ang = np.sort(rng.uniform(0, 2 * np.pi, n))
        r = rng.uniform(0.5, 2.0, n)
        ring = np.column_stack([cx + r * np.cos(ang), cy + r * np.sin(ang)])
        ring = np.vstack([ring, ring[:1]])
        items.append((f"k{i % 20}", W.wkb_polygon([ring])))  # keys repeat
    idx = W.FlatPolygonIndex.build(items)
    px = rng.uniform(-12, 12, 5000)
    py = rng.uniform(-12, 12, 5000)
    keys = rng.randint(0, 20, 5000)
    ref = idx.eval(px, py, keys, max_edge_instances=10**9)
    for chunk in (17, 1000, 131_072):
        got = idx.eval(px, py, keys, max_edge_instances=chunk)
        assert (got == ref).all(), chunk


def test_cell_probe_candidates():
    """candidates() expands each cell to its (sorted, deduped) key list and
    emits (row, key) pairs already lexicographically sorted and unique when
    a single resolution is probed — the fast path in _probe_refine relies
    on this."""
    import numpy as np

    from osmi_water_spark.functions import wkb as W
    from osmi_water_spark.operators.spatial_join import CellProbeIndex

    ring = np.array([[0.0, 0.0], [1, 0], [1, 1], [0, 1], [0, 0]])
    index = W.FlatPolygonIndex.build([("a", W.wkb_polygon([ring]))])
    # cover: cell 10 -> keys {1,0} (dup 0), cell 20 -> {2}
    pairs = np.array([[10, 1], [10, 0], [10, 0], [20, 2]], dtype=np.int64)
    probe = CellProbeIndex(pairs, index, ["a", "b", "c"])
    rows, kk = probe.candidates(np.array([20, 10, 99, 10], dtype=np.int64))
    got = list(zip(rows.tolist(), kk.tolist()))
    assert got == [(0, 2), (1, 0), (1, 1), (3, 0), (3, 1)]
    # sorted + unique as claimed
    assert got == sorted(set(got))


def test_probe_cap_checked_before_cover_is_built(spark, monkeypatch):
    """The probe cap is checked on the aggregate's cover sizes, before any
    cover is collected. A cover of exactly MAX_PROBE_CELLS pairs is
    collected at the full per-part budget. An over-cap cover is coarsened:
    the largest halved budget whose cover fits is collected, still with no
    join. A cap below the one-cell cover runs the partitioned join and
    collects no cover. All three give the same pairs."""
    rows = [
        (float(i % 10), float(i // 10), float(i % 10) + 1.5, float(i // 10) + 1.5)
        for i in range(40)
    ]
    parts = spark.createDataFrame(
        [
            (str(i), bytes(_rect_wkb(x0, y0, x1, y1)), x0, y0, x1, y1)
            for i, (x0, y0, x1, y1) in enumerate(rows)
        ],
        "area_key string, part_wkb binary, minx double, miny double, "
        "maxx double, maxy double",
    )
    pts = spark.createDataFrame(
        [(i, float(i % 12) + 0.7, float(i % 7) + 0.7) for i in range(300)],
        "point_id long, lon double, lat double",
    )
    counts = [f"n{r}" for r in range(C.MIN_COVER_RES, C.DEFAULT_RES + 1)]
    counted = parts.select(*[c.alias(n) for c, n in zip(
        C.bbox_cover_counts("minx", "miny", "maxx", "maxy"), counts)])

    def n_cover(max_cells):
        return counted.agg(F.sum(C.adaptive_cover_size(counts, max_cells))).first()[0]

    n_pairs = n_cover(C.MAX_COVER_CELLS)  # pip_join's default budget
    n_one = n_cover(1)
    assert n_one < n_pairs - 1  # coarsening has room to fit

    collected = []

    def build_spy(tbl):
        collected.append(sum(len(c) for c in tbl.column("cells").to_pylist()))
        return build_probe(tbl)

    build_probe = SJ._build_probe
    monkeypatch.setattr(SJ, "_build_probe", build_spy)

    def run(cap):
        monkeypatch.setattr(SJ, "MAX_PROBE_CELLS", cap)
        collected.clear()
        df = pip_join(pts, parts)
        return {(r.point_id, r.area_key) for r in df.collect()}, _joined(df)

    at_cap, joined = run(n_pairs)
    assert collected == [n_pairs] and not joined

    over_cap, joined = run(n_pairs - 1)
    assert not joined  # still one narrow mapInArrow
    assert len(collected) == 1 and n_one <= collected[0] <= n_pairs - 1

    partitioned, joined = run(n_one - 1)
    assert collected == [] and joined  # partitioned arm, no cover collected
    assert at_cap == over_cap == partitioned and len(at_cap) > 0


def test_cell_probe_index_at_cap_scale():
    """Driver-side stress: CellProbeIndex construction + a candidates()
    probe at MAX_PROBE_CELLS rows stays numpy-vectorized (seconds, not
    minutes) and correct on sampled cells."""
    import time

    from osmi_water_spark.operators.spatial_join import (
        MAX_PROBE_CELLS, CellProbeIndex,
    )

    n = MAX_PROBE_CELLS
    rng = np.random.RandomState(0)
    pairs = np.column_stack([
        rng.randint(0, n // 2, size=n).astype(np.int64),
        rng.randint(0, 1000, size=n).astype(np.int64),
    ])
    idx = W.FlatPolygonIndex.build(
        (str(i), bytes(W.wkb_polygon([np.array(
            [[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0], [0.0, 0.0]]
        )]))) for i in range(1)
    )
    t0 = time.time()
    probe = CellProbeIndex(pairs, idx, [str(i) for i in range(1000)])
    build_s = time.time() - t0
    # regression bound: an interpreted per-row build takes MINUTES at 4M
    # rows; the vectorized build takes seconds. 120s keeps the guard while
    # tolerating this host's documented multi-x window noise (a 30s bound
    # flaked at 37s in a loaded round-5 window).
    assert build_s < 120.0, f"cap-scale probe build took {build_s:.1f}s"
    # sampled correctness: candidates for one cell == the deduped pair set
    cell = int(pairs[0, 0])
    want = np.unique(pairs[pairs[:, 0] == cell][:, 1])
    rows_idx, keys = probe.candidates(np.array([cell], dtype=np.int64))
    assert (np.sort(keys) == want).all() and (rows_idx == 0).all()
