"""G4/O1 — water-area assembly (closed ways + multipolygon relations) and
the polygon side of the PIP index.

The reference delegates to libosmium's MultipolygonManager + Assembler
(/root/reference/src/waterinspector.cpp:103-106, :125-129) filtered by F2,
then AreaHandler (/root/reference/src/areahandler.hpp:82-98) applies the
F7 gate (polygon row) and the F5 gate (PIP index entry per polygon part).

Spark shape: a closed tagged way's one-ring Polygon is its linestring's
bytes behind a Polygon header (``make_linestring`` plus the SQL of
``wkb.ring_polygon_sql``), with no shuffle and one Arrow pass; multipolygon
relations group their member way segments and an ``applyInArrow`` stage
assembles rings over the group's flat lon/lat buffers (greedy endpoint
chaining in member order), classifies outer/inner by member role, and
nests holes into their containing outer; a failed area emits no row.
Each area carries its polygon *parts* (Polygon WKB + bbox) out of
assembly: the polygons table joins them into a MultiPolygon in SQL, and
the PIP index takes one row per part with its own bbox (matching the
reference's envelope-per-polygon STRtree inserts, areahandler.hpp:48-62).
No stage re-parses an area's WKB.
"""

from __future__ import annotations

from collections import defaultdict

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.conversion import to_arrow_schema
from pyspark.sql.types import StructType

from osmi_water_spark.functions import cells as C
from osmi_water_spark.functions import tags as TG
from osmi_water_spark.functions import wkb as W
from osmi_water_spark.functions import wkb_vec as V
from osmi_water_spark.operators.assemble import make_linestring

_AREA_SCHEMA = (
    "area_key string, "
    "parts array<struct<part_wkb binary, minx double, miny double, maxx double, maxy double>>, "
    "minx double, miny double, maxx double, maxy double"
)
_BOX = ("minx", "miny", "maxx", "maxy")


def _chain_rings(segments: list[np.ndarray]) -> tuple[list[np.ndarray], bool]:
    """Greedy endpoint chaining of (n, 2) lon/lat segments into closed rings
    (the Assembler's ring-building, osmium_geos_factory geos_factory.hpp:195-270
    re-expressed; segments may need reversing). O(n) via an endpoint hash
    map — the previous linear rescan per append made one 10k-member
    coastline relation a quadratic single task.

    Returns (rings, ok); ok is False when any chain cannot close (or a
    closed chain is degenerate, <4 points) — libosmium's Assembler errors
    the WHOLE area in that case, it does not emit the rings that did close.
    """
    segs = [s for s in segments if len(s) >= 2]
    ends: dict[tuple[float, float], list[tuple[int, bool]]] = defaultdict(list)
    for i, s in enumerate(segs):
        ends[(s[0, 0], s[0, 1])].append((i, True))
        ends[(s[-1, 0], s[-1, 1])].append((i, False))
    used = [False] * len(segs)
    rings: list[np.ndarray] = []
    ok = True
    for start in range(len(segs)):
        if used[start]:
            continue
        used[start] = True
        parts = [segs[start]]
        head = (segs[start][0, 0], segs[start][0, 1])
        tail = (segs[start][-1, 0], segs[start][-1, 1])
        while head != tail:
            cand = [e for e in ends.get(tail, ()) if not used[e[0]]]
            if not cand:
                ok = False  # open chain: the area fails
                break
            # greedy parity with the original scan order: lowest segment
            # index wins; forward orientation beats reversed at equal index
            i, is_start = min(cand, key=lambda e: (e[0], not e[1]))
            used[i] = True
            s = segs[i] if is_start else segs[i][::-1]
            parts.append(s[1:])
            tail = (s[-1, 0], s[-1, 1])
        else:
            rings.append(np.vstack(parts) if len(parts) > 1 else parts[0])
            ok &= len(rings[-1]) >= 4  # a degenerate closed ring fails the area too
    return rings, ok


def assemble_polygons(
    outer_segs: list[np.ndarray], inner_segs: list[np.ndarray]
) -> list[list[np.ndarray]] | None:
    """Rings -> polygons (outer ring first, then its holes); each inner
    nested into the outer that contains its first vertex. Any unclosable
    chain fails the WHOLE area (libosmium Assembler semantics: the area is
    errored, no partial geometry is emitted)."""
    outers, ok_outer = _chain_rings(outer_segs)
    inners, ok_inner = _chain_rings(inner_segs)
    if not (ok_outer and ok_inner and outers):
        return None
    polys: list[list[np.ndarray]] = [[o] for o in outers]
    for hole in inners:
        hx, hy = hole[:1, 0], hole[:1, 1]
        for poly in polys:
            if W.points_in_rings(hx, hy, [poly[0]])[0]:
                poly.append(hole)
                break
    return polys


def _assemble_group(key: tuple, table: pa.Table, schema: pa.Schema) -> pa.Table:
    """One relation's member rows (member_pos, role, coords) -> its area row,
    or no row when assembly fails; members are views of the group's flat
    buffers, in member order (the rows arrive in the join's order)."""
    table = table.sort_by("member_pos")
    _, _, lens, lon, lat = V.list_flat(table.column("coords"))
    xy = np.column_stack((lon, lat))
    outer, inner = [], []
    for role, hi, n in zip(table.column("role").to_pylist(), np.cumsum(lens), lens):
        # osmium treats empty role as outer
        (inner if role == "inner" else outer).append(xy[hi - n:hi])
    polys = assemble_polygons(outer, inner)
    if polys is None:
        return schema.empty_table()
    # parts and bboxes computed here, once at assembly, so the polygons
    # table, the PIP index and the cell covers never re-parse the WKB
    box = np.array([[*np.vstack(rings).min(axis=0), *np.vstack(rings).max(axis=0)]
                    for rings in polys])
    parts = [{"part_wkb": W.wkb_polygon(rings), **dict(zip(_BOX, b.tolist()))}
             for rings, b in zip(polys, box)]
    bbox = dict(zip(_BOX, [*box[:, :2].min(axis=0).tolist(), *box[:, 2:].max(axis=0).tolist()]))
    row = {"area_key": key[0].as_py(), "parts": parts, **bbox}
    return pa.Table.from_pylist([row], schema=schema)


def build_areas(
    ways_located: DataFrame, relations: DataFrame
) -> DataFrame:
    """All assembled water areas: (area_key, way_id, relation_id, tags, ts,
    parts, minx, miny, maxx, maxy). ``parts`` holds one
    struct(part_wkb[Polygon], minx, miny, maxx, maxy) per polygon, in
    MultiPolygon member order; the area bbox is the min/max over its parts.

    Closed F2-tagged ways become single-ring areas from their linestring
    (no shuffle); multipolygon relations shuffle once on relation id for
    ring assembly.
    """
    # --- closed tagged ways (from_way areas) ---
    closed = ways_located.filter(
        TG.waterpolygon_filter("tags")
        & (F.size("node_ids") >= 4)
        & (F.element_at("node_ids", 1) == F.element_at("node_ids", -1))
    )
    way_areas = closed.selectExpr(
        "concat('w', id) AS area_key",
        "id AS way_id",
        "CAST(0 AS BIGINT) AS relation_id",
        "tags",
        "ts",
        "coords",
    )
    way_areas_g = (
        way_areas.withColumn("ls", make_linestring("coords"))
        .withColumn("part_wkb", F.expr(W.ring_polygon_sql("ls", "coords")))
        .filter("part_wkb IS NOT NULL")
        .selectExpr(
            "area_key", "way_id", "relation_id", "tags", "ts",
            "array(named_struct('part_wkb', part_wkb, 'minx', ls.minx, 'miny', ls.miny, "
            "'maxx', ls.maxx, 'maxy', ls.maxy)) AS parts",
            "ls.minx AS minx", "ls.miny AS miny", "ls.maxx AS maxx", "ls.maxy AS maxy",
        )
    )

    # --- multipolygon relations ---
    mp_rels = relations.filter(
        (F.col("tags").getItem("type") == "multipolygon") & TG.waterpolygon_filter("tags")
    )
    members = mp_rels.select(
        F.col("id").alias("rel_id"),
        F.posexplode("members").alias("member_pos", "m"),
    ).filter(F.col("m.type") == "way")
    segs = members.join(
        ways_located.selectExpr("id AS mw_id", "coords"),
        members["m.ref"] == F.col("mw_id"),
        "inner",
    ).selectExpr(
        "concat('r', rel_id) AS area_key", "member_pos", "m.role AS role", "coords",
    )
    schema = to_arrow_schema(StructType.fromDDL(_AREA_SCHEMA))
    rel_geoms = segs.groupBy("area_key").applyInArrow(
        lambda key, table: _assemble_group(key, table, schema), _AREA_SCHEMA
    )
    rel_areas = mp_rels.selectExpr(
        "concat('r', id) AS area_key",
        "CAST(0 AS BIGINT) AS way_id",
        "id AS relation_id",
        "tags",
        "ts",
    ).join(rel_geoms, "area_key", "inner")

    cols = ["area_key", "way_id", "relation_id", "tags", "ts", "parts",
            "minx", "miny", "maxx", "maxy"]
    return way_areas_g.select(*cols).unionByName(rel_areas.select(*cols))


def polygon_table(areas: DataFrame, cell_res: int) -> DataFrame:
    """O1 — datastorage.hpp:242-273: the polygons output table (F7 gate).

    geom_wkb is the MultiPolygon of the area's parts, joined in SQL
    (wkb.multi_wkb_sql). h3_cells from the bbox columns carried out of
    geometry assembly — a whole-stage-codegen expression
    (functions/cells.bbox_cover_cells). The int() vs
    floor() clamp difference is vacuous for coordinates >= -180/-90 and
    the cell iteration order (iy outer, ix inner) is identical."""
    gated = areas.filter(TG.is_water_area("tags"))
    return gated.select(
        "way_id",
        "relation_id",
        TG.get_polygon_type("tags").alias("type"),
        TG.name_or_empty("tags").alias("name"),
        TG.format_lastchange("ts").alias("lastchange"),
        F.lit(None).cast("string").alias("error"),  # declared, never set
        F.expr(W.multi_wkb_sql(W.MULTIPOLYGON, "parts.part_wkb")).alias("geom_wkb"),
        C.bbox_cover_cells("minx", "miny", "maxx", "maxy", cell_res).alias("h3_cells"),
    )


def pip_index(areas: DataFrame) -> DataFrame:
    """The PIP index side (F5+F7 gate, areahandler.hpp:89-90): one row per
    polygon *part* with its own envelope."""
    gated = areas.filter(TG.is_water_area("tags") & TG.is_area_to_analyse("tags"))
    return gated.select("area_key", F.inline("parts"))
