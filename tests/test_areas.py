"""Multipolygon ring assembly (G4): greedy endpoint chaining, its tie-break,
whole-area failure, hole nesting, and the relation group read in
``build_areas``."""

from __future__ import annotations

import numpy as np
import pytest

from osmi_water_spark.functions import wkb as W
from osmi_water_spark.operators.areas import assemble_polygons, build_areas


def _a(*pts) -> np.ndarray:
    return np.array(pts, dtype=np.float64).reshape(-1, 2)


def _sq(x, y, s):
    return _a((x, y), (x + s, y), (x + s, y + s), (x, y + s), (x, y))


A, B, C, D, E = (0, 0), (1, 0), (1, 1), (2, 0), (2, 1)

RING_CASES = {
    # the second member runs the other way round and is reversed
    "reversed": (
        [_a(A, B, C), _a(A, (0, 1), C)], [],
        [[_a(A, B, C, (0, 1), A)]],
    ),
    # at B the lowest member index wins (member 1, reversed) over a later
    # forward member; the members left over close a second ring
    "lowest_index_first": (
        [_a(A, B), _a(C, B), _a(B, D, E), _a(C, A), _a(E, B)], [],
        [[_a(A, B, C, A)], [_a(B, D, E, B)]],
    ),
    # a loop member starting and ending at B: forward beats reversed
    "forward_first": (
        [_a(A, B), _a(B, D, E, B), _a(B, C, A)], [],
        [[_a(A, B, D, E, B, C, A)]],
    ),
    "open_chain_fails_area": ([_sq(0, 0, 1), _a((5, 5), (6, 5))], [], None),
    "open_inner_fails_area": ([_sq(0, 0, 4)], [_a((1, 1), (2, 1), (2, 2))], None),
    "short_ring_fails_area": ([_sq(0, 0, 1), _a((5, 5), (6, 5)), _a((6, 5), (5, 5))], [], None),
    "no_outer_fails_area": ([], [_sq(0, 0, 1)], None),
    "hole_in_second_outer": (
        [_sq(0, 0, 1), _sq(10, 0, 4)], [_sq(11, 1, 1)],
        [[_sq(0, 0, 1)], [_sq(10, 0, 4), _sq(11, 1, 1)]],
    ),
    "short_members_skipped": (
        [_a(A, B, C), np.empty((0, 2)), _a((7, 7)), _a(A, (0, 1), C)], [_a((0.5, 0.5))],
        [[_a(A, B, C, (0, 1), A)]],
    ),
}


@pytest.mark.parametrize("case", list(RING_CASES))
def test_assemble_polygons(case):
    """Rings close by endpoint chaining (lowest member index first, forward
    before reversed); any open chain or closed ring of fewer than four
    points, or no outer ring, fails the whole area; a hole goes to the
    outer containing its first vertex; members of 0 or 1 points are
    skipped."""
    outer, inner, want = RING_CASES[case]
    got = assemble_polygons(outer, inner)
    if want is None:
        assert got is None
    else:
        assert [[r.tolist() for r in p] for p in got] == [[r.tolist() for r in p] for p in want]


def test_build_areas_reads_relation_members(spark):
    """Relation groups through ``build_areas``: an empty or null role is
    outer, a member way with no located node or with one is skipped, an
    inner ring nests into its outer, and a relation whose ring stays open
    emits no row. Parts and bboxes are exact."""
    from osmi_water_spark.operators.extract import extract_entities, split_entities
    from osmi_water_spark.operators.locate import locate_ways
    from osmi_water_spark.sources import pages_gen as PG

    water = {"type": "multipolygon", "natural": "water"}
    rings = {1: _sq(0, 0, 4), 2: _sq(1, 1, 1), 3: _sq(10, 0, 2)}
    ents, nid = [], 0
    for wid, ring in rings.items():
        ids = []
        for x, y in ring[:-1]:
            nid += 1
            ents.append(PG.node(nid, float(x), float(y)))
            ids.append(nid)
        ents.append(PG.way(wid, ids + ids[:1], {}))
    ents += [
        PG.node(100, 20.0, 0.0), PG.node(101, 21.0, 0.0),
        PG.way(4, [900, 901, 902], {}),  # no node located: empty coords
        PG.way(5, [1, 903], {}),  # one node located
        PG.way(6, [100, 101], {}),  # open
        PG.relation(11, [("way", 1, ""), ("way", 2, "inner"), ("way", 4, "outer"),
                         ("way", 5, "inner")], water),
        PG.relation(12, [("way", 3, None)], water),
        PG.relation(13, [("way", 1, "outer"), ("way", 6, "outer")], water),
    ]
    pages = PG.pages_dataframe(spark, [PG.render_page("areas", e) for e in ents])
    nodes, ways, relations = split_entities(extract_entities(pages))
    located = locate_ways(ways, nodes)
    assert {r.id: len(r.coords) for r in located.filter("id IN (4, 5)").collect()} == {4: 0, 5: 1}
    areas = build_areas(located, relations)
    got = {r.area_key: r for r in areas.collect()}
    assert sorted(got) == ["r11", "r12"]
    plan = spark._jvm.PythonSQLUtils.explainString(areas._jdf.queryExecution(), "formatted")
    assert "FlatMapGroupsInArrow" in plan and "Pandas" not in plan

    def part(ring_list):
        allc = np.vstack(ring_list)
        lo, hi = allc.min(axis=0), allc.max(axis=0)
        return (W.wkb_polygon(ring_list), *lo.tolist(), *hi.tolist())

    for key, polys in {"r11": [[rings[1], rings[2]]], "r12": [[rings[3]]]}.items():
        row = got[key]
        parts = [(bytes(p.part_wkb), p.minx, p.miny, p.maxx, p.maxy) for p in row.parts]
        assert parts == [part(rl) for rl in polys], key
        assert (row.minx, row.miny, row.maxx, row.maxy) == part(polys[0])[1:], key


@pytest.mark.parametrize("broadcast", [True, False], ids=["broadcast", "sort_merge"])
def test_relation_rings_follow_member_order(spark, broadcast):
    """A relation's rings chain in its member order, whatever order the
    member join emits them in: one square whose three member ways are
    listed 30, 10, 20 starts at way 30's first vertex under a broadcast
    join and under a sort-merge join (which emits way-id order), as in the
    sequential oracle."""
    from osmi_water_spark.operators.extract import extract_entities, split_entities
    from osmi_water_spark.operators.locate import locate_ways
    from osmi_water_spark.plans.oracle import run_oracle
    from osmi_water_spark.sources import pages_gen as PG

    corners = {1: (0.0, 0.0), 2: (3.0, 0.0), 3: (3.0, 3.0), 4: (0.0, 3.0)}
    ents = [PG.node(i, x, y) for i, (x, y) in corners.items()] + [
        PG.way(30, [1, 2], {}), PG.way(10, [2, 3, 4], {}), PG.way(20, [4, 1], {}),
        PG.relation(7, [("way", 30, "outer"), ("way", 10, "outer"), ("way", 20, "outer")],
                    {"type": "multipolygon", "natural": "water"}),
    ]
    [(*_, rings)] = run_oracle(ents)["polygons"]
    assert rings[0][0] == (0.0, 0.0)
    pages = PG.pages_dataframe(spark, [PG.render_page("member_order", e) for e in ents])
    nodes, ways, relations = split_entities(extract_entities(pages))
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, old if broadcast else "-1")
    try:
        [row] = build_areas(locate_ways(ways, nodes), relations).collect()
    finally:
        spark.conf.set(key, old)
    assert [bytes(p.part_wkb) for p in row.parts] == [
        W.wkb_polygon([np.array(r) for r in rings])
    ]
