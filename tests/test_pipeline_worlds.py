"""End-to-end golden tests: Spark pipeline vs the pure-Python oracle on the
fixture worlds (SURVEY.md §5.2). Both run from the same pages; the oracle
transcribes the reference passes sequentially, the engine is set-based —
agreement validates the re-formulation."""

from __future__ import annotations

import pytest

from osmi_water_spark.functions import wkb as W
from osmi_water_spark.plans.oracle import run_oracle
from osmi_water_spark.plans.pipeline import run_pipeline
from osmi_water_spark.sources import pages_gen as PG


def _rt(x):
    return round(x, 12)


def _coords_t(arr):
    return tuple((_rt(p[0]), _rt(p[1])) for p in arr)


def spark_tables(spark, names):
    pages = PG.pages_dataframe(spark, PG.pages_rows(names))
    out = run_pipeline(spark, pages, out_dir=None, with_lineage=False)

    ways = sorted(
        (
            r.way_id, r.type, r.name, r.firstnode, r.lastnode, r.relation_id,
            r.lastchange, r.construction, r.width_error,
            _coords_t(W.parse_wkb(bytes(r.geom_wkb))[1]),
        )
        for r in out["ways"].collect()
    )
    rels = sorted(
        (
            r.relation_id, r.type, r.name, r.lastchange, r.nowaterway_error,
            tuple(_coords_t(ls) for ls in W.parse_wkb(bytes(r.geom_wkb))[1]),
        )
        for r in out["relations"].collect()
    )

    def rings_of(buf):
        gtype, payload = W.parse_wkb(bytes(buf))
        rings = [r for part in payload for r in part]  # multipolygon flatten
        return tuple(sorted(_coords_t(r) for r in rings))

    polys = sorted(
        (r.way_id, r.relation_id, r.type, r.name, r.lastchange, rings_of(r.geom_wkb))
        for r in out["polygons"].collect()
    )
    nodes = sorted(
        (
            r.node_id, r.specific, r.direction_error, r.name_error, r.type_error,
            r.spring_error, r.end_error, r.way_error, _rt(r.lon), _rt(r.lat),
        )
        for r in out["nodes"].collect()
    )
    return {"ways": ways, "relations": rels, "polygons": polys, "nodes": nodes}


def oracle_tables(names):
    ents = [e for lst in PG.all_world_entities(names).values() for e in lst]
    o = run_oracle(ents)
    ways = sorted(
        (w[0], w[1], w[2], w[3], w[4], w[5], w[6], w[7], w[8], _coords_t(w[9]))
        for w in o["ways"]
    )
    rels = sorted(
        (r[0], r[1], r[2], r[3], r[4], tuple(_coords_t(ls) for ls in r[5]))
        for r in o["relations"]
    )
    polys = sorted(
        (p[0], p[1], p[2], p[3], p[4], tuple(sorted(_coords_t(r) for r in p[5])))
        for p in o["polygons"]
    )
    nodes = sorted(o["nodes"])
    return {"ways": ways, "relations": rels, "polygons": polys, "nodes": nodes}


WORLD_GROUPS = [
    ["w01_chain"], ["w02_name_change"], ["w03_confluence"], ["w04_fork_direction"],
    ["w05_type_error"], ["w06_rivermouth_pip"], ["w07_spring_end"], ["w08_fp_interior"],
    ["w09_degenerate_way"], ["w10_relation"], ["w11_incomplete_rel"], ["w12_multipolygon"],
    ["w13_widths"], ["w14_constructions"], ["w15_coastline"], ["w16_unnamed"], ["w17_skew"],
    ["w19_open_ring"], ["w20_unnamed_tributary"],
]


@pytest.mark.slow  # per-world isolation for debugging; combined test covers all
@pytest.mark.parametrize("names", WORLD_GROUPS, ids=[g[0] for g in WORLD_GROUPS])
def test_world_parity(spark, names):
    got = spark_tables(spark, names)
    want = oracle_tables(names)
    for table in ("ways", "relations", "polygons", "nodes"):
        assert got[table] == want[table], f"{names} {table} mismatch"


def test_all_worlds_combined(spark):
    names = [g[0] for g in WORLD_GROUPS]
    got = spark_tables(spark, names)
    want = oracle_tables(names)
    for table in ("ways", "relations", "polygons", "nodes"):
        assert got[table] == want[table], f"combined {table} mismatch"
    assert len(got["nodes"]) > 50  # sanity: something substantial ran


def test_semantic_spotchecks(spark):
    """Hand-computed expectations independent of the oracle."""
    got = spark_tables(spark, [
        "w02_name_change", "w06_rivermouth_pip", "w09_degenerate_way", "w20_unnamed_tributary",
    ])
    nodes = {n[0]: n for n in got["nodes"]}
    # w02: n(3) of world 2 -> name_error
    n3 = str(2 * 100_000 + 3)
    assert nodes[n3][3] == "true" and nodes[n3][1] == ""
    # w06: river end inside lake -> rivermouth
    nm = str(6 * 100_000 + 2)
    assert nodes[nm][1] == "rivermouth"
    assert all(v == "false" for v in nodes[nm][2:8])
    # w09: both degenerate ways -> way_error rows
    for k in (9 * 100_000 + 1, 9 * 100_000 + 2):
        assert nodes[str(k)][7] == "true"
    # w20: named river ends where an unnamed one starts -> name_error
    # (the missing name counts as '', not as a null that min/max skip)
    assert nodes[str(20 * 100_000 + 2)][3] == "true"


def test_open_ring_fails_whole_area(spark):
    """w19: the unclosed multipolygon produces NO polygon row (Assembler
    errors the area — partial rings must not leak); the closed sibling
    in the same world assembles. Independent of the oracle."""
    got = spark_tables(spark, ["w19_open_ring"])
    names_by_rel = {p[1]: p[3] for p in got["polygons"]}
    rel_base = 19 * 100_000 + 80_000
    assert rel_base + 1 not in names_by_rel          # Open: errored, absent
    assert names_by_rel.get(rel_base + 2) == "Closed"
    assert len(got["polygons"]) == 1
