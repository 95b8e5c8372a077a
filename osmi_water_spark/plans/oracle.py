"""Pure-Python single-process oracle — a straight sequential transcription
of the reference pipeline (/root/reference/src/waterinspector.cpp:108-153)
over entity dicts, used to golden-check the Spark engine (SURVEY.md §5.2).

Deliberately *sequential and stateful* like the C++ (explicit error_map
mutation across passes 3/4) so it independently validates the engine's
set-based re-formulation of the delete_error_node state machine.
"""

from __future__ import annotations

import datetime as dt
import math
import re
from collections import defaultdict


# ---- tag logic (tagcheck.hpp) ----

WW_TYPES = {"river", "stream", "drain", "brook", "canal", "ditch", "riverbank"}
EXCL = {"river", "drain", "stream", "canal", "ditch", "riverbank"}


def is_waterway(tags: dict, is_relation: bool) -> bool:
    if tags.get("type") == "multipolygon":
        return False
    if tags.get("waterway") == "riverbank":
        return False
    if is_relation and tags.get("type") == "waterway":
        return True
    if "waterway" in tags:
        return True
    if not is_relation and tags.get("natural") == "coastline":
        return True
    return False


def waterpolygon_filter(tags: dict) -> bool:
    return (
        tags.get("natural") == "water"
        or "waterway" in tags
        or tags.get("landuse") in ("reservoir", "basin")
    )


def is_way_to_analyse(tags: dict) -> bool:
    return (
        "waterway" in tags
        or tags.get("natural") in ("coastline", "water")
        or tags.get("landuse") in ("reservoir", "basin")
    )


def is_area_to_analyse(tags: dict) -> bool:
    if tags.get("waterway") in EXCL:
        return False
    if tags.get("water") in EXCL:
        return False
    return True


def is_riverbank_or_coastline(tags: dict) -> bool:
    return tags.get("waterway") == "riverbank" or tags.get("natural") == "coastline"


def is_water_area(tags: dict) -> bool:
    return (
        tags.get("natural") == "water"
        or tags.get("landuse") in ("reservoir", "basin")
        or "waterway" in tags
    )


def get_waterway_type(raw) -> str:
    if raw is None:
        return ""
    return raw if raw in WW_TYPES else "other"


def get_way_type(tags: dict) -> str:
    t = get_waterway_type(tags.get("waterway"))
    if not t:
        return "coastline" if tags.get("natural") == "coastline" else ""
    return t


def get_polygon_type(tags: dict) -> str:
    if tags.get("natural") == "coastline":
        return "coastline"
    if not get_waterway_type(tags.get("waterway")):
        return tags.get("landuse", "")
    return ""


def category(way_type: str) -> str:
    if way_type in ("drain", "brook", "ditch"):
        return "A"
    if way_type == "stream":
        return "B"
    if way_type == "river":
        return "C"
    return "?"


def get_construction(tags: dict) -> str:
    if "bridge" in tags:
        return "bridge"
    if "tunnel" in tags:
        return "tunnel"
    return ""


def _strtod(text: str) -> float:
    """The value of a strtof prefix: decimal, hex float, inf or nan."""
    t = text.strip(" \t\n\v\f\r").lower()
    if "nan" in t:
        return math.nan
    return float.fromhex(t) if "x" in t else float(t)


# strtof's C-locale prefix: isspace is exactly " \t\n\v\f\r", digits are
# ASCII; hex floats, inf/infinity and nan/nan(chars) too
_STRTOF = re.compile(
    r"\s*[+-]?(?:0x(?:[0-9a-f]+\.?[0-9a-f]*|\.[0-9a-f]+)(?:p[+-]?\d+)?"
    r"|(?:\d+\.?\d*|\.\d+)(?:e[+-]?\d+)?|inf(?:inity)?|nan(?:\(\w*\))?)",
    re.ASCII | re.IGNORECASE,
)


def parse_width(raw) -> tuple[float, bool]:
    """datastorage.hpp:143-191 transcription (float precision irrelevant —
    only the error flag is output)."""
    if raw is None:
        return 0.0, False
    s = raw
    error = False
    if "," in s:
        s = s.replace(",", ".", 1)
        error = True
    m = _STRTOF.match(s)
    if not m:
        return -1.0, error
    width = _strtod(m.group(0))
    rest_raw = s[m.end():]
    if not rest_raw:
        return width, error
    rest = rest_raw.lstrip(" \t\n\v\f\r")
    if not rest:
        # whitespace-only residue: the unit branch matches nothing and
        # falls to the else (datastorage.hpp:160-187)
        return -1.0, True
    # strcasecmp folds ASCII letters only
    low = rest.lower() if rest.isascii() else rest
    if low == "m":
        return width, error
    if low == "km":
        return width * 1000, error
    if low == "mi":
        return width * 1609.344, error
    if low == "nmi":
        return width * 1852, error
    if rest == "'":
        return width * 12 * 0.0254, error
    if rest == '"':
        return width * 0.0254, error
    if rest.startswith("'"):
        m2 = _STRTOF.match(rest, 1)
        if m2 and rest[m2.end():] == '"':
            return (width * 12 + _strtod(m2.group(0))) * 0.0254, error
        return -1.0, True
    return -1.0, True


def lastchange(ts: int) -> str:
    return dt.datetime.fromtimestamp(ts, dt.timezone.utc).strftime("%Y-%m-%d %H:%M:%S")


# ---- geometry helpers ----


def point_in_rings(x: float, y: float, rings) -> bool:
    """Even-odd ray cast; boundary -> False (GEOS contains semantics).
    Independent scalar implementation (not the engine's numpy code path)."""
    inside = False
    for ring in rings:
        for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
            cross = (x2 - x1) * (y - y1) - (y2 - y1) * (x - x1)
            if (
                abs(cross) < 1e-12
                and min(x1, x2) - 1e-12 <= x <= max(x1, x2) + 1e-12
                and min(y1, y2) - 1e-12 <= y <= max(y1, y2) + 1e-12
            ):
                return False  # boundary
            if (y1 <= y) != (y2 <= y):
                xint = x1 + (y - y1) * (x2 - x1) / (y2 - y1)
                if x < xint:
                    inside = not inside
    return inside


def chain_rings(segments):
    """-> (rings, ok); ok False when a chain can't close or a closed chain
    is degenerate — the Assembler then errors the WHOLE area (no partial
    rings are emitted downstream)."""
    segs = [list(map(tuple, s)) for s in segments if s and len(s) >= 2]
    rings = []
    ok = True
    while segs:
        cur = segs.pop(0)
        while cur[0] != cur[-1]:
            for i, s in enumerate(segs):
                if s[0] == cur[-1]:
                    cur = cur + s[1:]
                    segs.pop(i)
                    break
                if s[-1] == cur[-1]:
                    cur = cur + s[::-1][1:]
                    segs.pop(i)
                    break
            else:
                ok = False  # open chain
                break
        if cur[0] == cur[-1] and len(cur) >= 4:
            rings.append(cur)
        elif cur[0] == cur[-1]:
            ok = False  # degenerate closed ring
    return rings, ok


# ---- the pipeline ----


def run_oracle(entities: list[dict]) -> dict[str, list[tuple]]:  # noqa: C901
    nodes = {e["id"]: e for e in entities if e["kind"] == "node"}
    ways = [e for e in entities if e["kind"] == "way"]
    relations = [e for e in entities if e["kind"] == "relation"]
    ways_by_id = {w["id"]: w for w in ways}

    ways_table: list[tuple] = []
    relations_table: list[tuple] = []
    polygons_table: list[tuple] = []
    nodes_table: list[tuple] = []

    waterways: list[tuple] = []  # (first, last, name, category)
    node_map: dict[int, list[int]] = defaultdict(list)
    error_map: dict[int, int] = {}

    def locate(way):
        pts = [
            (nodes[r]["lon"], nodes[r]["lat"]) for r in way["node_ids"] if r in nodes
        ]
        dedup = [p for i, p in enumerate(pts) if i == 0 or p != pts[i - 1]]
        return dedup

    def emit_node(node_id: int, mask: int):
        loc = nodes.get(node_id)
        if loc is None:
            return False
        spec = "rivermouth" if mask & 32 else ("outflow" if mask & 64 else "")
        row = (
            str(node_id),
            spec,
            *( "true" if mask & b else "false" for b in (1, 2, 4, 8, 16, 2048)),
            round(loc["lon"], 12),
            round(loc["lat"], 12),
        )
        nodes_table.append(row)
        return True

    def insert_way_error(way):
        first = way["node_ids"][0]
        emit_node(first, 2048)

    def remember(way, way_type):
        first, last = way["node_ids"][0], way["node_ids"][-1]
        idx = len(waterways)
        waterways.append((first, last, way["tags"].get("name", ""), category(way_type)))
        node_map[first].append(idx)
        node_map[last].append(idx)

    def insert_way_feature(way, rel_id, coords):
        t = get_way_type(way["tags"])
        _w, werr = parse_width(way["tags"].get("width", way["tags"].get("est_width")))
        ways_table.append(
            (
                way["id"],
                t,
                way["tags"].get("name", ""),
                str(way["node_ids"][0]),
                str(way["node_ids"][-1]),
                rel_id,
                lastchange(way["ts"]),
                get_construction(way["tags"]),
                "true" if werr else "false",
                tuple(coords),
            )
        )
        remember(way, t)

    # ---- pass 1+2: relations ----
    accepted = [r for r in relations if is_waterway(r["tags"], True)]
    member_refs = {
        m["ref"] for r in accepted for m in r["members"] if m["type"] == "way"
    }
    for rel in accepted:
        linestrings = []
        contains_nowaterway = False
        for m in rel["members"]:
            if m["type"] != "way":
                continue
            way = ways_by_id.get(m["ref"])
            if way is None:
                continue
            coords = locate(way)
            if len(coords) < 2:
                insert_way_error(way)
                continue
            linestrings.append(coords)
            if "waterway" in way["tags"]:
                contains_nowaterway = True
            insert_way_feature(way, rel["id"], coords)
        if linestrings:
            relations_table.append(
                (
                    rel["id"],
                    get_way_type(rel["tags"]),
                    rel["tags"].get("name", ""),
                    lastchange(rel["ts"]),
                    "true" if contains_nowaterway else "false",
                    tuple(tuple(ls) for ls in linestrings),
                )
            )

    # ---- pass 2: standalone ways ----
    for way in ways:
        if way["id"] in member_refs or not is_waterway(way["tags"], False):
            continue
        coords = locate(way)
        if len(coords) < 2:
            insert_way_error(way)
            continue
        insert_way_feature(way, 0, coords)

    # ---- pass 2: areas ----
    pip_polys: list[list] = []  # each: list of rings

    def handle_area(way_id, rel_id, tags, ts, rings):
        if not is_water_area(tags):
            return
        polygons_table.append(
            (
                way_id,
                rel_id,
                get_polygon_type(tags),
                tags.get("name", ""),
                lastchange(ts),
                tuple(tuple(r) for r in rings),
            )
        )
        if is_area_to_analyse(tags):
            # reference indexes each polygon of the multipolygon separately;
            # simple nesting: first ring outer, rest holes if inside it
            outer = rings[0]
            holes = [r for r in rings[1:] if _ring_in(r, outer)]
            others = [r for r in rings[1:] if not _ring_in(r, outer)]
            pip_polys.append([outer] + holes)
            for o in others:
                pip_polys.append([o])

    def _ring_in(r, outer):
        return point_in_rings(r[0][0], r[0][1], [outer])

    for way in ways:
        refs = way["node_ids"]
        if (
            waterpolygon_filter(way["tags"])
            and len(refs) >= 4
            and refs[0] == refs[-1]
        ):
            coords = locate(way)
            if len(coords) >= 4 and coords[0] == coords[-1]:
                handle_area(way["id"], 0, way["tags"], way["ts"], [coords])
    for rel in relations:
        if rel["tags"].get("type") == "multipolygon" and waterpolygon_filter(rel["tags"]):
            outer_segs, inner_segs = [], []
            for m in rel["members"]:
                if m["type"] != "way":
                    continue
                way = ways_by_id.get(m["ref"])
                if way is None:
                    continue
                seg = locate(way)
                (inner_segs if m["role"] == "inner" else outer_segs).append(seg)
            outers, ok_outer = chain_rings(outer_segs)
            inners, ok_inner = chain_rings(inner_segs)
            if outers and ok_outer and ok_inner:
                rings = []
                for o in outers:
                    rings.append(o)
                for i in inners:
                    rings.append(i)
                handle_area(0, rel["id"], rel["tags"], rel["ts"], rings)

    # ---- analyse_nodes (A1-A5, E4) ----
    for node_id, idxs in node_map.items():
        cf = cl = 0
        names: list[str] = []
        cat_in: list[str] = []
        cat_out: list[str] = []
        for idx in idxs:
            first, last, name, cat = waterways[idx]
            if first == node_id:
                cf += 1
                names.append(name)
                cat_out.append(cat)
            if last == node_id:
                cl += 1
                names.append(name)
                cat_in.append(cat)
        mask = 0
        if abs(cf - cl) > 1 and (cf == 0 or cl == 0):
            mask += 1
        if len(names) == 2 and names[0] != names[1]:
            mask += 2
        max_in = max(cat_in) if cat_in else None
        max_out = max(cat_out) if cat_out else None
        if cat_in and cat_out:
            if max_in == "C" and max_out < "C" and max_out != "?":
                mask += 4
        elif len(cat_in) == 1:
            if cat_in[0] == "C":
                mask = 128 + 1024
            elif cat_in[0] == "B":
                mask = 128 + 512
        elif len(cat_out) == 1:
            if cat_out[0] == "C":
                mask = 256 + 1024
            elif cat_out[0] == "B":
                mask = 256 + 512
        if mask == 0:
            emit_node(node_id, 0)
        else:
            error_map[node_id] = mask

    # ---- pass 3 (sequential, exact) ----
    def delete_error_node(node_id):
        mask = error_map[node_id]
        if mask & 128:
            error_map[node_id] = 32
        elif mask & 256:
            error_map[node_id] = 64
        else:
            del error_map[node_id]
            emit_node(node_id, 0)

    for way in ways:
        if not is_way_to_analyse(way["tags"]):
            continue
        if is_riverbank_or_coastline(way["tags"]):
            checked = way["node_ids"]
        elif len(way["node_ids"]) > 2:
            checked = way["node_ids"][1:-1]
        else:
            checked = []
        for ref in checked:
            if ref in error_map:
                delete_error_node(ref)

    # ---- pass 4 ----
    for node_id in list(error_map.keys()):
        loc = nodes.get(node_id)
        if loc is None:
            continue
        for rings in pip_polys:
            if point_in_rings(loc["lon"], loc["lat"], rings):
                delete_error_node(node_id)
                break

    # ---- finalize (E2 + O4) ----
    for node_id, mask in list(error_map.items()):
        if mask & 1024:
            if mask & 128:
                mask = mask - 128 + 16
            elif mask & 256:
                mask = mask - 256 + 8
        emit_node(node_id, mask)

    return {
        "ways": sorted(ways_table),
        "relations": sorted(relations_table),
        "polygons": sorted(polygons_table),
        "nodes": sorted(nodes_table),
    }
