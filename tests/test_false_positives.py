"""Passes 3 and 4 branch by branch: every endpoint node's final mask from
``apply_pass4(apply_pass3(...))`` equals the sequential rules of
``plans/oracle.py`` (``delete_error_node`` once per interior-node hit, once
more if the node is still held and lies inside a polygon part, then the
finalize switch), over every mask kind x hit count x containment."""

from __future__ import annotations

import itertools

import numpy as np

from osmi_water_spark.functions import errors as E
from osmi_water_spark.functions import wkb as W
from osmi_water_spark.operators.false_positives import apply_pass3, apply_pass4

MASKS = [
    0,
    E.DIRECTION,
    E.NAME | E.TYPE,
    E.POSS_RIVERMOUTH + E.RIVER,
    E.POSS_RIVERMOUTH + E.STREAM,
    E.POSS_OUTFLOW + E.RIVER,
    E.POSS_OUTFLOW + E.STREAM,
    E.END | E.POSS_RIVERMOUTH | E.RIVER,
    E.SPRING | E.POSS_OUTFLOW | E.RIVER,
]
HITS = [0, 1, 2]
WHERE = {"inside": (0.5, 0.5), "outside": (5.0, 5.0), "unlocated": None}


def _delete_error_node(mask: int) -> int | None:
    """The reference's delete_error_node: a poss_* mask becomes
    rivermouth/outflow and stays held; anything else is erased (None) and
    the node is emitted as normal."""
    if mask & E.POSS_RIVERMOUTH:
        return E.RIVERMOUTH
    if mask & E.POSS_OUTFLOW:
        return E.OUTFLOW
    return None


def _sequential(mask: int, hits: int, contained: bool) -> tuple[int, int]:
    """(mask after pass 3 or 0 if emitted, final mask) for one node."""
    if mask == 0:  # normal: emitted before pass 3
        return 0, 0
    held = mask
    for _ in range(hits):
        held = _delete_error_node(held)
        if held is None:
            return 0, 0
    after3 = held
    if contained:
        held = _delete_error_node(held)
        if held is None:
            return after3, 0
    # finalize (switch_poss): set_end/set_spring add their bit only when it
    # is not already set
    if held & E.RIVER and held & E.POSS_RIVERMOUTH:
        held = (held - E.POSS_RIVERMOUTH) | E.END
    elif held & E.RIVER and held & E.POSS_OUTFLOW:
        held = (held - E.POSS_OUTFLOW) | E.SPRING
    return after3, held


def test_final_mask_matches_sequential_rules(spark):
    cases = list(itertools.product(MASKS, HITS, WHERE))
    masks, ways, locations, want3, want = [], [], [], {}, {}
    for node_id, (mask, hits, where) in enumerate(cases, start=1):
        masks.append((node_id, mask))
        for _ in range(hits):  # a 3-node river way with the node inside
            end = 100_000 + 2 * len(ways)
            ways.append((len(ways) + 1, [end, node_id, end + 1], {"waterway": "river"}))
        if WHERE[where] is not None:
            locations.append((node_id, *WHERE[where]))
        want3[node_id], want[node_id] = _sequential(mask, hits, where == "inside")

    ring = np.array([[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0], [0.0, 0.0]])
    parts = spark.createDataFrame(
        [("sq", bytes(W.wkb_polygon([ring])), 0.0, 0.0, 1.0, 1.0)],
        "area_key string, part_wkb binary, minx double, miny double, "
        "maxx double, maxy double",
    )
    after3 = apply_pass3(
        spark.createDataFrame(masks, "node_id long, mask int"),
        spark.createDataFrame(ways, "id long, node_ids array<long>, tags map<string,string>"),
    )
    final = apply_pass4(
        after3,
        spark.createDataFrame(locations, "node_id long, lon double, lat double"),
        parts,
    )
    assert after3.columns == ["node_id", "mask3"]
    assert final.columns == ["node_id", "final_mask"]
    # mask3 != 0 exactly when the node is still held for pass 4
    assert {r.node_id: r.mask3 for r in after3.collect()} == want3
    rows = final.collect()
    assert len(rows) == len(cases)
    assert {r.node_id: r.final_mask for r in rows} == want
