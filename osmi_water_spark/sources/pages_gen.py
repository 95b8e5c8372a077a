"""Deterministic synthetic ``pages`` generator (FIXTURES.md §1/§3).

The graft's only external-facing input is an Iceberg table of
Common-Crawl-style pages ``(url, warc_ts, html, text, lang)``
(BASELINE.json input_hint). Each synthetic page embeds exactly one
OSM-style geo entity in a ``<script type="application/osm+json">`` block;
the ``text`` column is the ground-truth extracted text that Stage A must
reproduce **byte-identically per url**.

Everything is seed-deterministic (seed=42 fixed vocabulary + id-derived
choices, no RNG state shared across rows) so any subset of pages can be
regenerated identically at any scale — the property that makes resume /
differential tests meaningful.

Fixture worlds w01-w17 mirror FIXTURES.md §3 and exercise every operator
in SURVEY.md §2 (citations inline).
"""

from __future__ import annotations

import datetime as dt
import json
from typing import Any

_BASE_TS = 1435708800  # 2015-07-01T00:00:00Z (reference epoch era)
_VOCAB = (
    "river water flows through the valley past old mills and quiet towns "
    "carrying silt from distant mountains toward a wide grey estuary where "
    "gulls wheel over reed beds and fishing boats wait for the tide"
).split()


def _words(seed: int, n: int) -> str:
    out = []
    x = (seed * 2654435761 + 42) & 0xFFFFFFFF
    for _ in range(n):
        x = (x * 1103515245 + 12345) & 0x7FFFFFFF
        out.append(_VOCAB[x % len(_VOCAB)])
    return " ".join(out)


def _ts(entity_id: int) -> int:
    return _BASE_TS + (entity_id % 86400)


def node(nid: int, lon: float, lat: float, tags: dict[str, str] | None = None) -> dict:
    return {"kind": "node", "id": nid, "lon": lon, "lat": lat, "tags": tags or {}}


def way(wid: int, node_ids: list[int], tags: dict[str, str]) -> dict:
    return {"kind": "way", "id": wid, "node_ids": node_ids, "tags": tags, "ts": _ts(wid)}


def relation(rid: int, members: list[tuple[str, int, str]], tags: dict[str, str]) -> dict:
    return {
        "kind": "relation",
        "id": rid,
        "members": [{"type": t, "ref": r, "role": ro} for t, r, ro in members],
        "tags": tags,
        "ts": _ts(rid),
    }


def render_page(world: str, entity: dict) -> dict[str, Any]:
    """Entity -> one pages row. ``text`` is the byte-exact ground truth the
    extraction UDF must reproduce (BASELINE.json per-row invariant)."""
    eid = entity["id"]
    url = f"https://fixture.test/{world}/{entity['kind']}/{eid}"
    title = f"{world} {entity['kind']} {eid}"
    heading = _words(eid, 4)
    para1 = _words(eid + 1, 12)
    para2 = _words(eid + 2, 9)
    payload = json.dumps(entity, separators=(",", ":"), sort_keys=True)
    html = (
        "<!DOCTYPE html><html><head><title>" + title + "</title></head><body>"
        "<h1>" + heading + "</h1>"
        "<p>" + para1 + "</p>"
        '<script type="application/osm+json">' + payload + "</script>"
        "<p>" + para2 + "</p>"
        "</body></html>"
    )
    text = "\n".join([title, heading, para1, para2])
    return {
        "url": url,
        "warc_ts": dt.datetime.fromtimestamp(_BASE_TS + (eid % 10**6), dt.timezone.utc),
        "html": html.encode("utf-8"),
        "text": text,
        "lang": "de" if eid % 17 == 0 else "en",
    }


# ---------------- fixture worlds (FIXTURES.md §3) ----------------


def _grid(w: int, i: int, j: float = 0.0) -> tuple[float, float]:
    """Deterministic coordinates: world w gets a 2-deg lon slot."""
    return (-150.0 + 2.0 * w + 0.01 * i, 10.0 + 0.01 * j)


def _ids(w: int):
    base = w * 100_000
    return (
        lambda k: base + k,            # node ids
        lambda k: base + 50_000 + k,   # way ids
        lambda k: base + 80_000 + k,   # relation ids
    )


def world_entities(w: int, name: str) -> list[dict]:  # noqa: C901
    n, wy, rl = _ids(w)
    E: list[dict] = []

    def river(wid, nids, nm, **extra):
        E.append(way(wid, nids, {"waterway": "river", "name": nm, **extra}))

    if name == "w01_chain":
        for i in range(1, 5):
            E.append(node(n(i), *_grid(w, i)))
        river(wy(1), [n(1), n(2), n(3)], "Alpha")
        river(wy(2), [n(3), n(4)], "Alpha")
    elif name == "w02_name_change":
        for i in range(1, 5):
            E.append(node(n(i), *_grid(w, i)))
        river(wy(1), [n(1), n(2), n(3)], "Alpha")
        river(wy(2), [n(3), n(4)], "Beta")  # name_error at n(3) (waterway.hpp:82-88)
    elif name == "w03_confluence":
        for i in range(1, 7):
            E.append(node(n(i), *_grid(w, i, float(i % 3))))
        river(wy(1), [n(1), n(3)], "Main")
        river(wy(2), [n(2), n(3)], "Main")
        river(wy(3), [n(3), n(4)], "Main")
    elif name == "w04_fork_direction":
        for i in range(1, 6):
            E.append(node(n(i), *_grid(w, i, float(i))))
        river(wy(1), [n(1), n(2)], "Fork")   # both START at n(1):
        river(wy(2), [n(1), n(3)], "Fork")   # direction_error (waterway.hpp:71-77)
    elif name == "w05_type_error":
        for i in range(1, 5):
            E.append(node(n(i), *_grid(w, i)))
        river(wy(1), [n(1), n(2)], "X")
        E.append(way(wy(2), [n(2), n(3)], {"waterway": "stream", "name": "X"}))
        # river in, only stream out -> type_error (waterway.hpp:112-115)
    elif name == "w06_rivermouth_pip":
        # lake = closed way natural=water; river ends strictly inside it
        lx, ly = _grid(w, 10)
        ring = [(lx, ly), (lx + 0.1, ly), (lx + 0.1, ly + 0.1), (lx, ly + 0.1), (lx, ly)]
        for i, (px, py) in enumerate(ring[:-1], start=20):
            E.append(node(n(i), px, py))
        E.append(node(n(1), lx - 0.2, ly + 0.05))
        E.append(node(n(2), lx + 0.05, ly + 0.05))  # inside the lake
        E.append(way(wy(1), [n(20), n(21), n(22), n(23), n(20)], {"natural": "water", "name": "Lake"}))
        river(wy(2), [n(1), n(2)], "Mouth")  # poss_rivermouth -> PIP -> rivermouth
    elif name == "w07_spring_end":
        for i in range(1, 5):
            E.append(node(n(i), *_grid(w, i)))
        river(wy(1), [n(1), n(2)], "Lonely")   # spring_error + end_error after switch_poss
        E.append(way(wy(2), [n(3), n(4)], {"waterway": "stream", "name": "Quiet"}))
        # stream possibles never resolve (errorsum.hpp:132-142 quirk)
    elif name == "w08_fp_interior":
        for i in range(1, 10):
            E.append(node(n(i), *_grid(w, i, float(i % 4))))
        river(wy(1), [n(1), n(2)], "A")              # ends at n(2)
        river(wy(2), [n(3), n(2), n(4)], "B")        # n(2) interior -> hit -> rivermouth
        river(wy(3), [n(5), n(6)], "C")
        E.append(way(wy(4), [n(6), n(7)], {"waterway": "river", "name": "D"}))
        # n(6): name_error (C vs D); also interior of way 5 -> false positive -> normal
        river(wy(5), [n(8), n(6), n(9)], "E")
    elif name == "w09_degenerate_way":
        E.append(node(n(1), *_grid(w, 1)))
        E.append(node(n(2), *_grid(w, 2)))
        E.append(way(wy(1), [n(1)], {"waterway": "stream"}))          # 1 node
        E.append(way(wy(2), [n(2), n(2)], {"waterway": "stream"}))    # collapses to 1 coord
    elif name == "w10_relation":
        for i in range(1, 8):
            E.append(node(n(i), *_grid(w, i)))
        E.append(way(wy(1), [n(1), n(2)], {"waterway": "river", "name": "R"}))
        E.append(way(wy(2), [n(2), n(3)], {"waterway": "river", "name": "R"}))
        E.append(way(wy(3), [n(3), n(4)], {"highway": "path"}))  # member w/o waterway tag
        E.append(
            relation(
                rl(1),
                [("way", wy(1), ""), ("way", wy(2), ""), ("way", wy(3), ""), ("node", n(1), "")],
                {"type": "waterway", "waterway": "river", "name": "R"},
            )
        )
    elif name == "w11_incomplete_rel":
        for i in range(1, 4):
            E.append(node(n(i), *_grid(w, i)))
        E.append(way(wy(1), [n(1), n(2)], {"waterway": "river", "name": "P"}))
        E.append(
            relation(
                rl(1),
                [("way", wy(1), ""), ("way", wy(999), "")],  # wy(999) missing
                {"type": "waterway", "waterway": "river", "name": "P"},
            )
        )
    elif name == "w12_multipolygon":
        ox, oy = _grid(w, 0)
        outer = [(ox, oy), (ox + 0.2, oy), (ox + 0.2, oy + 0.2), (ox, oy + 0.2), (ox, oy)]
        inner = [
            (ox + 0.05, oy + 0.05), (ox + 0.15, oy + 0.05),
            (ox + 0.15, oy + 0.15), (ox + 0.05, oy + 0.15), (ox + 0.05, oy + 0.05),
        ]
        for i, (px, py) in enumerate(outer[:-1], start=10):
            E.append(node(n(i), px, py))
        for i, (px, py) in enumerate(inner[:-1], start=20):
            E.append(node(n(i), px, py))
        E.append(way(wy(1), [n(10), n(11), n(12), n(13), n(10)], {}))
        E.append(way(wy(2), [n(20), n(21), n(22), n(23), n(20)], {}))
        E.append(
            relation(
                rl(1),
                [("way", wy(1), "outer"), ("way", wy(2), "inner")],
                {"type": "multipolygon", "natural": "water", "name": "Donut"},
            )
        )
        # riverbank area: in polygons table but excluded from the PIP tree (F5)
        rx, ry = ox + 0.5, oy
        rb = [(rx, ry), (rx + 0.1, ry), (rx + 0.1, ry + 0.1), (rx, ry + 0.1), (rx, ry)]
        for i, (px, py) in enumerate(rb[:-1], start=30):
            E.append(node(n(i), px, py))
        E.append(way(wy(3), [n(30), n(31), n(32), n(33), n(30)], {"waterway": "riverbank"}))
        # river ending in the donut HOLE: not contained -> stays end_error
        E.append(node(n(40), ox - 0.1, oy + 0.1))
        E.append(node(n(41), ox + 0.1, oy + 0.1))
        # river ending in the donut SOLID: contained -> rivermouth
        E.append(node(n(42), ox - 0.1, oy + 0.02))
        E.append(node(n(43), ox + 0.02, oy + 0.02))
        river(wy(4), [n(40), n(41)], "HoleBound")
        river(wy(5), [n(42), n(43)], "SolidBound")
        # river ending inside the riverbank area: NOT traced (F5) -> end_error
        E.append(node(n(44), rx - 0.1, ry + 0.05))
        E.append(node(n(45), rx + 0.05, ry + 0.05))
        river(wy(6), [n(44), n(45)], "BankBound")
    elif name == "w13_widths":
        widths = ["3", "3,5", "5 km", "2 mi", "6'7\"", "abc", None, "30\"", "1 nmi"]
        for i, wd in enumerate(widths, start=1):
            E.append(node(n(2 * i), *_grid(w, 2 * i)))
            E.append(node(n(2 * i + 1), *_grid(w, 2 * i + 1)))
            tags = {"waterway": "stream", "name": f"W{i}"}
            if wd is not None:
                tags["width"] = wd
            elif i % 2:
                tags["est_width"] = "7"
            E.append(way(wy(i), [n(2 * i), n(2 * i + 1)], tags))
    elif name == "w14_constructions":
        for i in range(1, 7):
            E.append(node(n(i), *_grid(w, i)))
        E.append(way(wy(1), [n(1), n(2)], {"waterway": "canal", "bridge": "yes"}))
        E.append(way(wy(2), [n(3), n(4)], {"waterway": "canal", "tunnel": "culvert"}))
        E.append(way(wy(3), [n(5), n(6)], {"waterway": "canal"}))
    elif name == "w15_coastline":
        for i in range(1, 7):
            E.append(node(n(i), *_grid(w, i, float(i % 2))))
        river(wy(1), [n(1), n(2)], "River")
        # coastline way STARTING at n(2): check-all-nodes mode hits the
        # endpoint (falsepositives.hpp:93-96)
        E.append(way(wy(2), [n(2), n(3), n(4)], {"natural": "coastline"}))
    elif name == "w16_unnamed":
        kinds = ["river", "stream", "canal", "river", "drain"]
        names = ["", "", "", "Named", ""]
        for i, (k, nm) in enumerate(zip(kinds, names), start=1):
            E.append(node(n(2 * i), *_grid(w, 2 * i)))
            E.append(node(n(2 * i + 1), *_grid(w, 2 * i + 1)))
            tags = {"waterway": k}
            if nm:
                tags["name"] = nm
            E.append(way(wy(i), [n(2 * i), n(2 * i + 1)], tags))
    elif name == "w17_skew":
        # one big lake cell + many river endpoints inside: the salted-PIP world
        lx, ly = _grid(w, 0)
        ring = [(lx, ly), (lx + 1.0, ly), (lx + 1.0, ly + 1.0), (lx, ly + 1.0), (lx, ly)]
        for i, (px, py) in enumerate(ring[:-1], start=1):
            E.append(node(n(i), px, py))
        E.append(way(wy(1), [n(1), n(2), n(3), n(4), n(1)], {"natural": "water", "name": "Big"}))
        k = 50
        for i in range(k):
            a, b = n(100 + 2 * i), n(101 + 2 * i)
            ex = lx + 0.05 + 0.9 * ((i * 37) % k) / k
            ey = ly + 0.05 + 0.9 * ((i * 53) % k) / k
            E.append(node(a, lx - 0.5, ly - 0.5 + 0.01 * i))
            E.append(node(b, ex, ey))
            river(wy(10 + i), [a, b], f"S{i}")
    elif name == "w19_open_ring":
        # multipolygon with an UNCLOSED outer ring: the Assembler errors the
        # WHOLE area (no polygon row, nothing in the PIP index); the closed
        # sibling relation in the same world still assembles normally
        n, wy, rl = _ids(19)
        ox, oy = _grid(19, 0)
        sq = [(ox, oy), (ox + 0.2, oy), (ox + 0.2, oy + 0.2), (ox, oy + 0.2)]
        for i, (px, py) in enumerate(sq, start=10):
            E.append(node(n(i), px, py))
        # three sides only: n10->n11->n12->n13, never back to n10
        E.append(way(wy(1), [n(10), n(11), n(12)], {}))
        E.append(way(wy(2), [n(12), n(13)], {}))
        E.append(
            relation(
                rl(1),
                [("way", wy(1), "outer"), ("way", wy(2), "outer")],
                {"type": "multipolygon", "natural": "water", "name": "Open"},
            )
        )
        cx = ox + 0.5
        csq = [(cx, oy), (cx + 0.1, oy), (cx + 0.1, oy + 0.1), (cx, oy + 0.1)]
        for i, (px, py) in enumerate(csq, start=20):
            E.append(node(n(i), px, py))
        E.append(way(wy(3), [n(20), n(21), n(22)], {}))
        E.append(way(wy(4), [n(22), n(23), n(20)], {}))
        E.append(
            relation(
                rl(2),
                [("way", wy(3), "outer"), ("way", wy(4), "outer")],
                {"type": "multipolygon", "natural": "water", "name": "Closed"},
            )
        )
    elif name == "w20_unnamed_tributary":
        # a named river ends where an unnamed one starts: name_error only
        # because the missing name becomes '' (name_or_empty); a null would
        # drop out of connectivity's min(name) != max(name)
        n, wy, rl = _ids(20)  # like w19_open_ring: ids/slot follow the name
        for i in range(1, 4):
            E.append(node(n(i), *_grid(20, i)))
        river(wy(1), [n(1), n(2)], "Named")
        E.append(way(wy(2), [n(2), n(3)], {"waterway": "river"}))
    else:
        raise ValueError(f"unknown world {name}")
    return E


WORLD_NAMES = [
    "w01_chain", "w02_name_change", "w03_confluence", "w04_fork_direction",
    "w05_type_error", "w06_rivermouth_pip", "w07_spring_end", "w08_fp_interior",
    "w09_degenerate_way", "w10_relation", "w11_incomplete_rel", "w12_multipolygon",
    "w13_widths", "w14_constructions", "w15_coastline", "w16_unnamed", "w17_skew",
    "w19_open_ring", "w20_unnamed_tributary",
]


def all_world_entities(names: list[str] | None = None) -> dict[str, list[dict]]:
    names = names or WORLD_NAMES
    return {nm: world_entities(i + 1, nm) for i, nm in enumerate(WORLD_NAMES) if nm in names}


def pages_rows(names: list[str] | None = None) -> list[dict]:
    rows = []
    for nm, ents in all_world_entities(names).items():
        rows.extend(render_page(nm, e) for e in ents)
    return rows


def chain_entities(c: int, world_index: int = 18) -> list[dict]:
    """One w18_scale chain (16 entities): chain + confluence + lake PIP."""
    E: list[dict] = []
    if True:
        base = world_index * 100_000 + c * 100
        nn = lambda k: base + k  # noqa: E731
        lon0 = -170.0 + (c % 3200) * 0.1
        lat0 = -80.0 + ((c * 7) % 1600) * 0.1

        def nd(k, dx, dy):
            E.append(node(nn(k), lon0 + dx, lat0 + dy))

        nd(1, 0.0, 0.0); nd(2, 0.01, 0.0); nd(3, 0.02, 0.0); nd(4, 0.03, 0.01)
        nd(5, 0.03, -0.01); nd(6, 0.04, 0.0)
        nm = f"C{c}"
        E.append(way(nn(50), [nn(1), nn(2), nn(3)], {"waterway": "river", "name": nm}))
        E.append(way(nn(51), [nn(3), nn(6)], {"waterway": "river", "name": nm if c % 5 else nm + "x"}))
        E.append(way(nn(52), [nn(4), nn(3)], {"waterway": "stream", "name": nm}))
        # small lake at the river end for PIP work
        nd(10, 0.05, -0.005); nd(11, 0.07, -0.005); nd(12, 0.07, 0.015); nd(13, 0.05, 0.015)
        E.append(way(nn(53), [nn(10), nn(11), nn(12), nn(13), nn(10)], {"natural": "water"}))
        nd(14, 0.06, 0.005)
        E.append(way(nn(54), [nn(6), nn(14)], {"waterway": "river", "name": nm}))
    return E


def scale_entities(n_chains: int, world_index: int = 18) -> list[dict]:
    """n_chains copies of the composite pattern, deterministic ids."""
    E: list[dict] = []
    for c in range(n_chains):
        E.extend(chain_entities(c, world_index))
    return E


def scale_pages_rows(n_chains: int) -> list[dict]:
    return [render_page("w18_scale", e) for e in scale_entities(n_chains)]


def pages_dataframe(spark, rows: list[dict]):
    """Rows -> Spark DataFrame with the contract schema (schemas.PAGES)."""
    from osmi_water_spark.schemas import PAGES

    data = [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"]) for r in rows]
    return spark.createDataFrame(data, PAGES)


def scale_pages_df(spark, n_chains: int, partitions: int | None = None):
    """Distributed page generation: chain indices -> pages rendered on the
    executors (``mapInArrow``, one record batch of rows per input batch),
    so bench inputs scale without a driver bottleneck — the same shape a
    real ingest of 10^12 pages would have."""
    import pyarrow as pa
    from pyspark.sql.conversion import to_arrow_schema

    from osmi_water_spark.schemas import PAGES

    parts = partitions or spark.sparkContext.defaultParallelism * 2
    rng = spark.range(0, n_chains, 1, min(parts, max(1, n_chains)))
    schema = to_arrow_schema(PAGES)

    def gen(batches):
        for rb in batches:
            rows = [render_page("w18_scale", e)
                    for c in rb.column("id").to_pylist() for e in chain_entities(c)]
            yield pa.RecordBatch.from_pylist(rows, schema=schema)

    return rng.mapInArrow(gen, PAGES)
