"""Unit tests for the WKB codec, ray-cast PIP, and grid-cell / tile math."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from osmi_water_spark.functions import cells as C
from osmi_water_spark.functions import wkb as W


def test_wkb_roundtrip():
    p = W.wkb_point(8.5, 47.25)
    g, (x, y) = W.parse_wkb(p)
    assert g == W.POINT and (x, y) == (8.5, 47.25)

    ls = np.array([[0.0, 0.0], [1.0, 2.0], [3.0, 4.0]])
    g, a = W.parse_wkb(W.wkb_linestring(ls))
    assert g == W.LINESTRING
    np.testing.assert_array_equal(a, ls)

    g, parts = W.parse_wkb(W.wkb_multilinestring([ls, ls[::-1]]))
    assert g == W.MULTILINESTRING and len(parts) == 2

    ring = np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]], dtype=float)
    hole = np.array([[1, 1], [2, 1], [2, 2], [1, 2], [1, 1]], dtype=float)
    g, rings = W.parse_wkb(W.wkb_polygon([ring, hole]))
    assert g == W.POLYGON and len(rings) == 2

    g, polys = W.parse_wkb(W.wkb_multipolygon([[ring, hole], [ring + 10]]))
    assert g == W.MULTIPOLYGON and len(polys) == 2 and len(polys[0]) == 2


def test_pip_square_and_hole():
    ring = np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]], dtype=float)
    hole = np.array([[1, 1], [2, 1], [2, 2], [1, 2], [1, 1]], dtype=float)
    px = np.array([2.0, 1.5, 5.0, 0.0, 3.9, 2.0])
    py = np.array([3.0, 1.5, 5.0, 0.0, 0.1, 0.0])
    got = W.points_in_rings(px, py, [ring, hole])
    # (2,3) inside; (1.5,1.5) in hole; (5,5) out; (0,0) boundary -> False
    # (3.9,0.1) inside; (2,0) boundary -> False
    assert list(got) == [True, False, False, False, True, False]


def test_pip_concave():
    # L-shape: concavity handled by even-odd
    ring = np.array(
        [[0, 0], [4, 0], [4, 2], [2, 2], [2, 4], [0, 4], [0, 0]], dtype=float
    )
    px = np.array([3.0, 3.0, 1.0])
    py = np.array([1.0, 3.0, 3.0])
    assert list(W.points_in_rings(px, py, [ring])) == [True, False, True]


def test_pip_multipolygon_wkb():
    """A multipolygon enters the flat index as one polygon row per part
    under the same key; a point inside any part is inside the key."""
    r1 = np.array([[0, 0], [2, 0], [2, 2], [0, 2], [0, 0]], dtype=float)
    r2 = np.array([[10, 10], [12, 10], [12, 12], [10, 12], [10, 10]], dtype=float)
    _, polys = W.parse_wkb(W.wkb_multipolygon([[r1], [r2]]))
    idx = W.FlatPolygonIndex.build(("mp", W.wkb_polygon(rings)) for rings in polys)
    got = idx.eval(np.array([1.0, 11.0, 5.0]), np.array([1.0, 11.0, 5.0]),
                   np.zeros(3, dtype=np.int64))
    assert list(got) == [True, True, False]
    with pytest.raises(ValueError):
        W.FlatPolygonIndex.build([("mp", W.wkb_multipolygon([[r1], [r2]]))])


def test_cell_encode_decode(spark):
    df = spark.createDataFrame([(8.54, 47.37), (-179.99, -89.99), (179.99, 89.99)], "lon double, lat double")
    out = df.select(
        C.cell_of("lon", "lat", 7).alias("c")
    ).select(
        C.cell_res("c").alias("r"),
        C.cell_ix("c").alias("ix"),
        C.cell_iy("c").alias("iy"),
        C.k_ring("c", 1).alias("ring"),
    ).collect()
    for row in out:
        assert row.r == 7 and 0 <= row.ix < 128 and 0 <= row.iy < 128
    # manual check for first point
    assert out[0].ix == math.floor((8.54 + 180) / 360 * 128)
    assert out[0].iy == math.floor((47.37 + 90) / 180 * 128)
    # grid corner: the ring is clamped to the 2 x 2 cells inside the grid
    assert (out[1].ix, out[1].iy) == (0, 0)
    corner = {(7 << C.RES_BITS_SHIFT) + (iy << C.IY_SHIFT) + ix for iy in (0, 1) for ix in (0, 1)}
    assert len(out[1].ring) == 4 and set(out[1].ring) == corner


def test_bbox_cover_and_adaptive(spark):
    df = spark.createDataFrame([(0.0, 0.0, 10.0, 5.0)], "minx double, miny double, maxx double, maxy double")
    cols = ["minx", "miny", "maxx", "maxy"]
    counts = ["c3", "c4", "c5", "c6", "c7"]
    row = df.select(
        *cols, *[c.alias(n) for c, n in zip(C.bbox_cover_counts(*cols, 3, 7), counts)],
    ).select(
        *cols,
        F.size(C.bbox_cover_cells(*cols, 7)).alias("n7"),
        C.adaptive_cover_res(counts, 3, 8).alias("ar"),
    ).select("n7", "ar", F.size(C.bbox_cover_cells(*cols, "ar")).alias("an")).first()
    # res7 cells are 2.8125 x 1.40625 deg -> 10deg spans 4-5 cells x, 5deg 4-5 cells y
    assert row.n7 >= 12
    assert row.an <= 8  # adaptive cover respects the bound
    assert 3 <= row.ar < 7


def test_bbox_cover_lambda_vars_ignore_caller_columns(spark):
    """The cover's lambda variables must not capture a caller column of the
    same name: a min-x column named ``iy`` gives the same 4 cells as SQL
    literals do."""
    df = spark.createDataFrame([(0.0, 0.0, 10.0, 5.0)], "iy double, miny double, maxx double, maxy double")
    row = df.select(
        C.bbox_cover_cells("iy", "miny", "maxx", "maxy", 6).alias("cov"),
        C.bbox_cover_cells("0.0D", "0.0D", "10.0D", "5.0D", 6).alias("want"),
    ).first()
    assert len(row.want) == 4
    assert row.cov == row.want


def test_point_cell_matches_cover(spark):
    # a point inside a bbox must land in one of the cover cells (same res)
    df = spark.createDataFrame([(3.3, 2.2)], "lon double, lat double")
    row = df.select(
        C.cell_of("lon", "lat", 6).alias("pc"),
        C.bbox_cover_cells("0.0D", "0.0D", "10.0D", "5.0D", 6).alias("cov"),
    ).first()
    assert row.pc in row.cov


def test_k_ring(spark):
    df = spark.createDataFrame([(10.0, 10.0)], "lon double, lat double")
    row = df.select(
        C.k_ring(C._cell_of_sql("lon", "lat", 7), 1).alias("ring")
    ).first()
    assert len(row.ring) == 9 and len(set(row.ring)) == 9


def test_tile_xy_reference_values(spark):
    # Zurich at z=10 -> x=536, y=358 (known slippy-map value), from SQL
    # text and from bare column references alike
    df = spark.createDataFrame([(8.54, 47.37)], "lon double, lat double")
    for lon, lat in (("lon", "lat"), (F.col("lon"), F.col("lat"))):
        t = df.select(C.tile_id(lon, lat, 10).alias("t")).select(
            C.cell_res("t").alias("z"), C.cell_ix("t").alias("x"), C.cell_iy("t").alias("y"),
        ).first()
        assert (t.z, t.x, t.y) == (10, 536, 358)


def test_errors_switch_poss(spark):
    from osmi_water_spark.functions import errors as E

    df = spark.createDataFrame(
        [(E.POSS_RIVERMOUTH + E.RIVER,), (E.POSS_OUTFLOW + E.RIVER,),
         (E.POSS_RIVERMOUTH + E.STREAM,), (E.DIRECTION,)],
        "m int",
    )
    want = [
        E.RIVER + E.END,
        E.RIVER + E.SPRING,
        E.POSS_RIVERMOUTH + E.STREAM,  # stream possibles never resolve (quirk)
        E.DIRECTION,
    ]
    got = [r.v for r in df.select(E.switch_poss("m").alias("v")).collect()]
    assert got == want
    # an SQL expression argument keeps its own precedence: `m | 0` is m
    got = [r.v for r in df.select(E.switch_poss("m | 0").alias("v")).collect()]
    assert got == want


def test_sql_text_twins_match_column_builders(spark):
    """cell_of and tile_id read a bare column reference by name because
    __spark_entry__.py calls them with F.col: identical values and types
    to the SQL text for the same points. Any other Column is refused."""
    import random

    rng = random.Random(11)
    rows = [(rng.uniform(-185, 185), rng.uniform(-95, 95)) for _ in range(300)]
    rows += [(-180.0, -90.0), (180.0, 90.0), (0.0, 0.0), (-180.0, 85.0511287798)]
    df = spark.createDataFrame(rows, "lon double, lat double")
    pairs = [
        (C.cell_of(F.col("lon"), F.col("lat"), 7), C.cell_of("lon", "lat", 7)),
        (C.tile_id(F.col("lon"), F.col("lat"), 8), C.tile_id("lon", "lat", 8)),
    ]
    sel = df.select(
        *[c.alias(f"col_{i}") for i, (c, _) in enumerate(pairs)],
        *[s.alias(f"sql_{i}") for i, (_, s) in enumerate(pairs)],
    )
    sch = {f.name: f.dataType for f in sel.schema.fields}
    for i in range(len(pairs)):
        assert sch[f"col_{i}"] == sch[f"sql_{i}"], f"type mismatch at {i}"
    bad = sel.filter(
        " OR ".join(
            f"(NOT (col_{i} <=> sql_{i}))" for i in range(len(pairs))
        )
    ).count()
    assert bad == 0
    for fn, arg in ((C.cell_of, 7), (C.tile_id, 8)):
        with pytest.raises(TypeError):
            fn(F.col("lon") + 1, F.col("lat"), arg)
        with pytest.raises(TypeError):
            fn(F.col("lon"), F.col("lat").alias("y"), arg)


def test_literal_resolutions_fold(spark):
    """A resolution is SQL text (``pow(2.0D, res)``): a literal one folds
    to constants, so the optimized plans hold no POWER, and a per-row
    resolution column gives the same cells as the literal forms."""
    import random

    rng = random.Random(5)
    rows = [(rng.uniform(-185, 185), rng.uniform(-95, 95), rng.choice([3, 5, 7, 8]))
            for _ in range(400)]
    df = spark.createDataFrame(rows, "lon double, lat double, r int")
    box = ("lon", "lat", "lon + 10.0D", "lat + 5.0D")
    literal = df.select(  # aliased: a default name is the expression's text
        C.cell_of("lon", "lat", 7).alias("c"), C.tile_id("lon", "lat", 8).alias("t"),
        C.bbox_cover_cells(*box, 7).alias("cov"),
    )
    plan = literal._jdf.queryExecution().optimizedPlan().toString().upper()
    assert "POW" not in plan

    def per_res(fn):
        return "CASE " + " ".join(f"WHEN r = {v} THEN {fn(v)}" for v in (3, 5, 7, 8)) + " END"

    got = df.select(
        F.expr(C._cell_of_sql("lon", "lat", "r")).alias("c"),
        F.expr(per_res(lambda v: C._cell_of_sql("lon", "lat", v))).alias("c_lit"),
        C.bbox_cover_cells(*box, "r").alias("cov"),
        *[C.bbox_cover_cells(*box, v).alias(f"cov{v}") for v in (3, 5, 7, 8)],
    ).collect()
    for row in got:
        assert row.c == row.c_lit
        assert row.cov == row[f"cov{row.c_lit >> C.RES_BITS_SHIFT}"]


def _cover_edge_bboxes(res_max: int, max_cells: int) -> list[tuple]:
    """Bboxes on the edges of the cover math: the lon/lat limits, exact
    cell edges, zero width, and covers of exactly ``max_cells`` cells and
    one more at ``res_max``."""
    cw, ch = 360.0 / (1 << res_max), 180.0 / (1 << res_max)
    out = [
        (-180.0, -90.0, 180.0, 90.0), (180.0, 90.0, 180.0, 90.0),
        (-180.0, -90.0, -180.0, -90.0), (-185.0, -95.0, -170.0, -80.0),
        (170.0, 80.0, 185.0, 95.0), (0.0, 0.0, cw, ch), (cw, ch, 2 * cw, 2 * ch),
        (-cw, -ch, 0.0, 0.0), (12.3, 45.6, 12.3, 45.6), (0.0, 0.0, 0.0, 0.0),
        (12.3, 45.6, 12.3, 50.0), (12.3, 45.6, 20.0, 45.6),
    ]
    for n in (max_cells, max_cells + 1):  # every cols x rows == n, both sides of 0
        for cols in (c for c in range(1, n + 1) if n % c == 0):
            rows = n // cols
            out.append((0.5 * cw, 0.5 * ch, (cols - 0.5) * cw, (rows - 0.5) * ch))
            out.append((-(cols - 0.5) * cw, -(rows - 0.5) * ch, -0.5 * cw, -0.5 * ch))
    return out


def test_sql_cover_matches_python_spec(spark):
    """The cover and point cells are SQL text only; the map-side PIP probe
    and the partitioned join both read them. Check them against a plain
    Python spec of the formulas: resolution, cover size and cell ids (in
    order) per bbox at several budgets, and point cells at several
    resolutions."""
    import random

    def ix(lon, r):
        return min((1 << r) - 1, max(0, math.floor((lon + 180.0) / 360.0 * (1 << r))))

    def iy(lat, r):
        return min((1 << r) - 1, max(0, math.floor((lat + 90.0) / 180.0 * (1 << r))))

    def cells_at(b, r):  # iy outer, ix inner
        return [(r << 58) + (y << 29) + x
                for y in range(iy(b[1], r), iy(b[3], r) + 1)
                for x in range(ix(b[0], r), ix(b[2], r) + 1)]

    def size_at(b, r):
        return (ix(b[2], r) - ix(b[0], r) + 1) * (iy(b[3], r) - iy(b[1], r) + 1)

    rng = random.Random(11)
    res_min, res_max = 3, 7
    counts = [f"n{r}" for r in range(res_min, res_max + 1)]
    cols = ["minx", "miny", "maxx", "maxy"]
    for max_cells in (8, 64):
        boxes = [
            (x, y, x + rng.uniform(0, 40), y + rng.uniform(0, 20))
            for x, y in ((rng.uniform(-185, 175), rng.uniform(-95, 85)) for _ in range(300))
        ] + _cover_edge_bboxes(res_max, max_cells)
        df = spark.createDataFrame(
            [(i, *b) for i, b in enumerate(boxes)],
            "i int, minx double, miny double, maxx double, maxy double",
        )
        count_cols = C.bbox_cover_counts(*cols, res_min, res_max)
        got = df.select(
            "i", *cols, *[c.alias(n) for c, n in zip(count_cols, counts)],
        ).select(
            "i", *cols,
            C.adaptive_cover_res(counts, res_min, max_cells).alias("res"),
            C.adaptive_cover_size(counts, max_cells).alias("size"),
        ).select(
            "i", "res", "size", C.bbox_cover_cells(*cols, "res").alias("cells"),
        ).orderBy("i").collect()
        for b, row in zip(boxes, got):
            res = next((r for r in range(res_max, res_min, -1)
                        if size_at(b, r) <= max_cells), res_min)
            assert (row.res, row.size, row.cells) == (res, size_at(b, res), cells_at(b, res)), b
        assert max_cells in {r.size for r in got}  # the boundary cases really hit the cap

    pts = [(b[0], b[1]) for b in boxes] + [(b[2], b[3]) for b in boxes]
    resolutions = [3, 5, 7, 20]
    got = spark.createDataFrame(
        [(i, *p) for i, p in enumerate(pts)], "i int, lon double, lat double"
    ).select(
        "i", "lon", "lat", C.cell_of_multi("lon", "lat", resolutions).alias("c")
    ).orderBy("i").collect()
    for row in got:
        assert row.c == [(r << 58) + (iy(row.lat, r) << 29) + ix(row.lon, r) for r in resolutions]


def _scalar_linestring(pts):
    """Scalar spec of make_linestring (the pre-r6 pandas UDF body)."""
    import numpy as np

    from osmi_water_spark.functions import wkb as W

    if pts is None or len(pts) == 0:
        return (None, False, None, None, None, None)
    a = np.array([[p[0], p[1]] for p in pts], dtype=np.float64)
    if len(a) > 1:
        keep = np.ones(len(a), dtype=bool)
        keep[1:] = (a[1:] != a[:-1]).any(axis=1)
        a = a[keep]
    if len(a) < 2:
        return (None, False, None, None, None, None)
    return (W.wkb_linestring(a), True, float(a[:, 0].min()), float(a[:, 1].min()),
            float(a[:, 0].max()), float(a[:, 1].max()))


def _scalar_closed_way(pts):
    import numpy as np

    from osmi_water_spark.functions import wkb as W

    if pts is None or len(pts) < 4:
        return (None, None, None, None, None)
    a = np.array([[p[0], p[1]] for p in pts], dtype=np.float64)
    keep = np.ones(len(a), dtype=bool)
    keep[1:] = (a[1:] != a[:-1]).any(axis=1)
    a = a[keep]
    if len(a) < 4 or not (a[0] == a[-1]).all():
        return (None, None, None, None, None)
    return (W.wkb_polygon([a]), float(a[:, 0].min()), float(a[:, 1].min()),
            float(a[:, 0].max()), float(a[:, 1].max()))


def _coords_cases():
    import random

    rng = random.Random(3)
    cases = [None, [], [(1.0, 2.0)], [(1.0, 2.0), (1.0, 2.0)],
             [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0), (0.0, 0.0)],
             [(0.0, 0.0), (0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 0.0)],
             [(5.0, 5.0), (6.0, 5.0), (5.0, 5.0), (6.0, 5.0)]]
    for _ in range(200):
        m = rng.randint(0, 9)
        pts = [(round(rng.uniform(-180, 180), 3), round(rng.uniform(-90, 90), 3))
               for _ in range(m)]
        if pts and rng.random() < 0.5:
            pts.append(pts[-1])  # consecutive dup
        if pts and rng.random() < 0.4:
            pts.append(pts[0])  # close the ring
        cases.append(pts)
    return cases


def test_arrow_linestring_matches_scalar_spec(spark):
    from osmi_water_spark.operators.assemble import make_linestring

    cases = _coords_cases()
    rows = [( [{"lon": x, "lat": y} for x, y in c] if c is not None else None,)
            for c in cases]
    df = spark.createDataFrame(rows, "coords array<struct<lon:double,lat:double>>")
    got = df.select(make_linestring("coords").alias("g")).select(
        "g.wkb", "g.ok", "g.minx", "g.miny", "g.maxx", "g.maxy").collect()
    for c, r in zip(cases, got):
        wkb, ok, minx, miny, maxx, maxy = _scalar_linestring(c)
        assert (bytes(r.wkb) if r.wkb is not None else None) == wkb, c
        assert r.ok == ok and r.minx == minx and r.miny == miny, c
        assert r.maxx == maxx and r.maxy == maxy, c


def _closed_way_polygons(spark, cases, polygon_sql):
    from osmi_water_spark.operators.assemble import make_linestring

    rows = [( [{"lon": x, "lat": y} for x, y in c] if c is not None else None,)
            for c in cases]
    df = spark.createDataFrame(rows, "coords array<struct<lon:double,lat:double>>")
    return (
        df.withColumn("ls", make_linestring("coords"))
        .select(F.expr(polygon_sql("ls", "coords")).alias("wkb"),
                "ls.minx", "ls.miny", "ls.maxx", "ls.maxy")
        .collect()
    )


def test_arrow_closed_way_matches_scalar_spec(spark):
    """A closed way's polygon (``ring_polygon_sql`` over ``make_linestring``)
    against the scalar spec, WKB bytes and, where there is a polygon, bbox.
    The ±0.0 ring is closed (numpy 0.0 == -0.0); the NaN-endpoint ring is
    not (numpy NaN != NaN, where Spark SQL's NaN = NaN is true)."""
    from osmi_water_spark.functions.wkb import ring_polygon_sql

    nan = float("nan")
    signed_zero = [(0.0, -0.0), (1.0, 0.0), (1.0, 1.0), (-0.0, 0.0)]
    nan_ends = [(nan, 1.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0), (nan, 1.0)]
    cases = _coords_cases() + [signed_zero, nan_ends]
    got = _closed_way_polygons(spark, cases, ring_polygon_sql)
    for c, r in zip(cases, got):
        wkb, minx, miny, maxx, maxy = _scalar_closed_way(c)
        assert (bytes(r.wkb) if r.wkb is not None else None) == wkb, c
        if wkb is not None:
            assert (r.minx, r.miny, r.maxx, r.maxy) == (minx, miny, maxx, maxy), c
    assert got[-2].wkb is not None and got[-1].wkb is None

    def without_nan_guard(ls, coords):
        return ring_polygon_sql(ls, coords).replace(
            f"AND NOT isnan(get({coords}, 0).lon) AND NOT isnan(get({coords}, 0).lat) ", "")

    assert _closed_way_polygons(spark, [nan_ends], without_nan_guard)[0].wkb is not None


def test_arrow_point_wkb_matches_scalar_spec(spark):
    import struct

    from osmi_water_spark.plans.pipeline import _point_wkb

    rows = [(1.5, 2.5), (None, 3.0), (float("nan"), 1.0), (-180.0, 90.0), (0.0, float("nan"))]
    df = spark.createDataFrame(rows, "lon double, lat double")
    got = [r.w for r in df.select(_point_wkb("lon", "lat").alias("w")).collect()]
    hdr = struct.pack("<BI", 1, 1)
    import math

    want = [None if x is None or (isinstance(x, float) and math.isnan(x))
            else hdr + struct.pack("<dd", x, y) for x, y in rows]
    assert [bytes(g) if g is not None else None for g in got] == want


def test_binary_array_rejects_int32_offset_overflow():
    """Offsets past 2^31 cannot be stored in pa.binary()'s int32 offsets;
    the builder must raise instead of wrapping them."""
    from osmi_water_spark.functions.wkb_vec import _binary_array

    ok = np.array([True, True])
    data = np.zeros(4, dtype=np.uint8)
    assert _binary_array(2, ok, np.array([0, 2, 4], dtype=np.int64), data).to_pylist() == [
        b"\0\0", b"\0\0",
    ]
    with pytest.raises(OverflowError):
        _binary_array(2, ok, np.array([0, 2, 2**31], dtype=np.int64), data)


@pytest.mark.parametrize("n", [1, 2, 255, 256, 65_537])
def test_multi_wkb_sql_matches_scalar_builders(spark, n):
    """The SQL multi-geometry builder equals the scalar builders byte for
    byte; the member counts cross each byte of the u32 LE count."""
    rng = np.random.RandomState(n)
    lines = [np.round(rng.uniform(-90, 90, (2 + i % 3, 2)), 6) for i in range(n)]
    polys = [[np.vstack([a, a[:1]])] for a in lines]
    df = spark.createDataFrame(
        [([bytearray(W.wkb_linestring(a)) for a in lines],
          [bytearray(W.wkb_polygon(rings)) for rings in polys])],
        "ls array<binary>, pg array<binary>",
    )
    row = df.select(
        F.expr(W.multi_wkb_sql(W.MULTILINESTRING, "ls")).alias("mls"),
        F.expr(W.multi_wkb_sql(W.MULTIPOLYGON, "pg")).alias("mpg"),
    ).first()
    assert bytes(row.mls) == W.wkb_multilinestring(lines)
    assert bytes(row.mpg) == W.wkb_multipolygon(polys)


def test_pip_index_matches_scalar_parts(spark):
    """On all fixture worlds, the PIP index rows (one per polygon part of
    each analysable area) equal a scalar reference: each area's polygons
    geom_wkb parsed, then ``wkb_polygon`` plus the ring min/max per part."""
    from osmi_water_spark.functions import tags as TG
    from osmi_water_spark.operators.areas import build_areas, pip_index, polygon_table
    from osmi_water_spark.operators.extract import extract_entities, split_entities
    from osmi_water_spark.operators.locate import locate_ways
    from osmi_water_spark.sources import pages_gen as PG

    nodes, ways, relations = split_entities(
        extract_entities(PG.pages_dataframe(spark, PG.pages_rows()))
    )
    areas = build_areas(locate_ways(ways, nodes), relations).localCheckpoint()
    analysed = polygon_table(areas.filter(TG.is_area_to_analyse("tags")), C.DEFAULT_RES)
    want = []
    for r in analysed.collect():
        key = f"w{r.way_id}" if r.way_id else f"r{r.relation_id}"
        gtype, polys = W.parse_wkb(bytes(r.geom_wkb))
        assert gtype == W.MULTIPOLYGON
        for rings in polys:
            allc = np.vstack(rings)
            want.append((key, W.wkb_polygon(rings), float(allc[:, 0].min()),
                         float(allc[:, 1].min()), float(allc[:, 0].max()),
                         float(allc[:, 1].max())))
    got = [(r.area_key, bytes(r.part_wkb), r.minx, r.miny, r.maxx, r.maxy)
           for r in pip_index(areas).collect()]
    assert len(want) > 3 and any(key.startswith("r") for key, *_ in want)
    assert sorted(got) == sorted(want)
