"""Seeded benchmark inputs, written to parquet before any timing starts.

Two input sets:

* ``pipeline_groups`` / ``write_pages``: the pages table the pipeline reads.
  The pages are rendered with the ``sources.pages_gen`` primitives
  (``node``, ``way``, ``relation``, ``render_page``). The input is a set of
  *groups*: each group is a small water world with its own id block and
  its own 0.5-degree slot on the map, so groups never share a node and
  never overlap in space. That makes the oracle runnable per group.
* ``write_operator_tables``: the TPC-H-shaped tables the standalone
  operator queries (``plans.testdata_queries``) read, with the same column
  names and types as the fixed testdata set, sized by ``OPERATOR_ROWS``.

The same seed gives byte-identical parquet files; no global RNG state is
used.
"""

from __future__ import annotations

import math
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from osmi_water_spark.sources.pages_gen import node, relation, render_page, way

# ---------------------------------------------------------------- pipeline

GROUP_SLOT_DEG = 0.5          # each group owns one slot of this size
_SLOTS_X, _SLOTS_Y = 680, 300  # lon -170..170, lat -75..75
_ID_BLOCK = 10_000             # ids of group g live in [g * block, (g + 1) * block)
_ID_BASE = 1_000_000           # clear of the fixture-world id range
_RIVER_TYPES = ("river", "river", "stream", "canal")
PAGE_FILES = 8                 # one scan split per file


def _rnd(x: float) -> float:
    return round(x, 6)


def _ring(cx, cy, radius, n, rng, jitter):
    """A star-shaped (hence simple) closed ring of n vertices."""
    pts = []
    for i in range(n):
        a = 2 * math.pi * i / n
        r = radius * (1.0 - jitter * rng.random())
        pts.append((_rnd(cx + r * math.cos(a)), _rnd(cy + r * math.sin(a))))
    return pts


def group_entities(seed: int, g: int, slot: int) -> tuple[list[dict], dict[str, int]]:
    """Entities of group g placed in map slot ``slot``, plus a tally of the
    features it contains (for the recorded mix)."""
    rng = random.Random(seed * 1_000_003 + g)
    base = _ID_BASE + g * _ID_BLOCK
    x0 = -170.0 + (slot % _SLOTS_X) * GROUP_SLOT_DEG + 0.05
    y0 = -75.0 + (slot // _SLOTS_X) * GROUP_SLOT_DEG + 0.05
    E: list[dict] = []
    mix = dict.fromkeys(
        ("chains", "name_changes", "confluences", "lakes", "lake_vertices",
         "ends_inside", "ends_outside", "multipolygons", "waterway_relations",
         "incomplete_relations"), 0)
    nid = iter(range(base, base + 6000))
    wid = iter(range(base + 6000, base + 9000))
    rid = iter(range(base + 9000, base + _ID_BLOCK))

    def nd(x, y):
        k = next(nid)
        E.append(node(k, _rnd(x), _rnd(y)))
        return k

    name = f"G{g}R{rng.randrange(1000)}"
    kind = rng.choice(_RIVER_TYPES)

    # lake: a many-vertex closed way, natural=water
    lcx, lcy = x0 + 0.30, y0 + 0.10
    lr = 0.04 + 0.03 * rng.random()
    nverts = rng.choice((12, 24, 48, 96, 160))
    ring = [nd(x, y) for x, y in _ring(lcx, lcy, lr, nverts, rng, jitter=0.2)]
    E.append(way(next(wid), ring + [ring[0]], {"natural": "water", "name": f"L{g}"}))
    mix["lakes"] += 1
    mix["lake_vertices"] += nverts

    # main chain: 2-5 segments running east towards the lake
    nseg = rng.randint(2, 5)
    xs = [x0 + 0.02 + i * (0.20 / nseg) for i in range(nseg + 1)]
    chain_nodes = [nd(x, y0 + 0.10 + 0.01 * rng.random()) for x in xs]
    # the mouth: strictly inside the lake or just outside its ring
    inside = rng.random() < 0.5
    mouth_r = 0.3 * lr if inside else 1.15 * lr
    mouth = nd(lcx - mouth_r, lcy)
    mix["ends_inside" if inside else "ends_outside"] += 1
    chain_nodes.append(mouth)
    change_at = rng.randrange(1, nseg + 1) if rng.random() < 0.3 else -1
    seg_ways = []
    for i in range(nseg + 1):
        nm = name + ("x" if change_at >= 0 and i >= change_at else "")
        w = next(wid)
        seg_ways.append(w)
        E.append(way(w, [chain_nodes[i], chain_nodes[i + 1]], {"waterway": kind, "name": nm}))
    mix["chains"] += 1
    mix["name_changes"] += change_at >= 0

    # confluence: a tributary stream joining an interior chain node
    if nseg >= 2 and rng.random() < 0.7:
        j = chain_nodes[rng.randint(1, nseg - 1)]
        src = nd(xs[1] - 0.01, y0 + 0.02)
        E.append(way(next(wid), [src, j], {"waterway": "stream", "name": name}))
        mix["confluences"] += 1

    # waterway relation over the chain, sometimes with a non-water member
    members = [("way", w, "") for w in seg_ways]
    if rng.random() < 0.3:
        p = nd(x0 + 0.02, y0 + 0.05)
        q = nd(x0 + 0.05, y0 + 0.05)
        pw = next(wid)
        E.append(way(pw, [p, q], {"highway": "path"}))
        members.append(("way", pw, ""))
    E.append(relation(next(rid), members, {"type": "waterway", "waterway": kind, "name": name}))
    mix["waterway_relations"] += 1

    # incomplete relation: one member way is absent from the input
    if rng.random() < 0.3:
        lone = next(wid)
        a, b = nd(x0 + 0.02, y0 + 0.35), nd(x0 + 0.08, y0 + 0.36)
        E.append(way(lone, [a, b], {"waterway": "stream", "name": name + "i"}))
        missing = base + 8999
        E.append(relation(next(rid), [("way", lone, ""), ("way", missing, "")],
                          {"type": "waterway", "waterway": "stream", "name": name + "i"}))
        mix["incomplete_relations"] += 1

    # multipolygon with an inner ring; one river ends in its hole, one in
    # its solid part
    if rng.random() < 0.6:
        mx, my, s = x0 + 0.25, y0 + 0.25, 0.08 + 0.04 * rng.random()
        outer = [nd(mx, my), nd(mx + s, my), nd(mx + s, my + s), nd(mx, my + s)]
        h = s / 4
        inner = [nd(mx + h, my + h), nd(mx + 3 * h, my + h),
                 nd(mx + 3 * h, my + 3 * h), nd(mx + h, my + 3 * h)]
        wo, wi = next(wid), next(wid)
        E.append(way(wo, outer + [outer[0]], {}))
        E.append(way(wi, inner + [inner[0]], {}))
        E.append(relation(next(rid), [("way", wo, "outer"), ("way", wi, "inner")],
                          {"type": "multipolygon", "natural": "water", "name": f"M{g}"}))
        a, b = nd(mx - 0.05, my + 2 * h), nd(mx + 2 * h, my + 2 * h)   # ends in the hole
        c, d = nd(mx - 0.05, my + h / 2), nd(mx + h / 2, my + h / 2)   # ends in the solid
        E.append(way(next(wid), [a, b], {"waterway": "river", "name": f"H{g}"}))
        E.append(way(next(wid), [c, d], {"waterway": "river", "name": f"S{g}"}))
        mix["multipolygons"] += 1
    return E, mix


def pipeline_groups(seed: int, target_pages: int) -> tuple[list[list[dict]], dict[str, int]]:
    """Groups until the page count reaches ``target_pages``; slots are a
    seeded sample of the map grid, so placement differs per seed."""
    slots = random.Random(seed).sample(range(_SLOTS_X * _SLOTS_Y), 4096)
    groups: list[list[dict]] = []
    mix: dict[str, int] = {}
    pages = 0
    while pages < target_pages:
        ents, m = group_entities(seed, len(groups), slots[len(groups)])
        groups.append(ents)
        pages += len(ents)
        for k, v in m.items():
            mix[k] = mix.get(k, 0) + v
    mix["groups"] = len(groups)
    mix["pages"] = pages
    return groups, mix


PAGES_SCHEMA = pa.schema([
    pa.field("url", pa.string(), nullable=False),
    pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
    pa.field("html", pa.binary()),
    pa.field("text", pa.string()),
    pa.field("lang", pa.string()),
])


def write_pages(groups: list[list[dict]], out_dir: str) -> int:
    """Render every entity to a page and write PAGE_FILES parquet files."""
    rows = [render_page(f"g{g}", e) for g, ents in enumerate(groups) for e in ents]
    os.makedirs(out_dir, exist_ok=True)
    per = -(-len(rows) // PAGE_FILES)
    for i in range(PAGE_FILES):
        chunk = rows[i * per:(i + 1) * per]
        table = pa.Table.from_pylist(chunk, schema=PAGES_SCHEMA)
        pq.write_table(table, os.path.join(out_dir, f"part-{i:05d}.parquet"))
    return len(rows)


# --------------------------------------------------------------- operators

# rows per table at scale 1.0; the seed adds up to 5% to each count
OPERATOR_ROWS = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "documents": 500, "embeddings": 500,
}
EMB_DIM = 64
_WORDS = (
    "river water flows through the valley past old mills and quiet towns "
    "carrying silt from distant mountains toward a wide grey estuary where "
    "gulls wheel over reed beds of the delta der fluss und die see bank "
    "scan table value hash part key row slow fast"
).split()


def _ts(days: np.ndarray) -> pa.Array:
    base = np.datetime64("1992-01-01T00:00:00", "us")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def _docs(rng: np.random.Generator, n: int) -> list[str]:
    """Texts with planted exact and near duplicates."""
    out: list[str] = []
    while len(out) < n:
        toks = list(rng.choice(_WORDS, size=int(rng.integers(12, 60))))
        if rng.random() < 0.3:
            toks[int(rng.integers(len(toks)))] += rng.choice([".", ",", "!", "?", ";"])
        out.append(" ".join(toks))
        r = rng.random()
        if r < 0.15:
            out.append(out[-1])  # exact duplicate
        elif r < 0.3:
            mut = list(toks)
            mut[int(rng.integers(len(mut)))] = str(rng.choice(_WORDS))
            out.append(" ".join(mut))  # near duplicate
    return out[:n]


def _embeddings(rng: np.random.Generator, n: int) -> np.ndarray:
    """Clustered float32 vectors. Redrawn until every decision the oracle
    makes in double and the engine in float32/float64 is unambiguous: no
    vector within 1e-6 of an LSH hyperplane, no in-bucket cosine within 1e-5
    of the 0.25 near-dup threshold, and the top-6 cosines of the 10 ANN
    query vectors at least 1e-5 apart."""
    from osmi_water_spark.operators.dedup import _HYPER

    centers = rng.normal(size=(max(4, n // 25), EMB_DIM))
    while True:
        v = (centers[rng.integers(len(centers), size=n)]
             + 0.6 * rng.normal(size=(n, EMB_DIM))).astype(np.float32)
        d = v.astype(np.float64)
        proj = d @ _HYPER.T
        if np.abs(proj).min() < 1e-6:
            continue
        unit = d / np.linalg.norm(d, axis=1, keepdims=True)
        cos = unit @ unit.T
        bucket = ((proj > 0) * (1 << np.arange(16))).sum(axis=1)
        same = bucket[:, None] == bucket[None, :]
        if np.any(same & (np.abs(cos - 0.25) < 1e-5)):
            continue
        top = -np.sort(-np.where(np.eye(n, dtype=bool), -2.0, cos)[:10], axis=1)[:, :6]
        if np.diff(top, axis=1).max() > -1e-5:
            continue
        return v


def operator_tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = {k: int(v * scale * (1.0 + 0.05 * rng.random())) for k, v in OPERATOR_ROWS.items()}
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, c), 2)),
        "c_mktsegment": pa.array(segs[rng.integers(0, 5, c)]),
    })
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, s), 2)),
    })
    p = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p, dtype=np.int64)),
        "p_name": pa.array(np.array(["small ring", "large pipe", "blue valve", "steel gate"])[rng.integers(0, 4, p)]),
        "p_brand": [f"Brand#{i % 5 + 1}" for i in range(p)],
        "p_type": pa.array(np.array(["ECONOMY", "STANDARD", "PROMO"])[rng.integers(0, 3, p)]),
        "p_size": pa.array(rng.integers(1, 50, p).astype(np.int32)),
        "p_retailprice": pa.array(np.round(rng.uniform(900, 2000, p), 2)),
    })
    o = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, c, o).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, o)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 400000, o), 2)),
        "o_orderdate": _ts(rng.integers(0, 2400, o)),
        "o_orderpriority": pa.array(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, o)]),
    })
    d = n["documents"]
    texts = _docs(rng, d)
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(d, dtype=np.int64)),
        "text": texts,
        "lang": pa.array(np.where(rng.random(d) < 0.1, "de", "en")),
        "source": [f"src{i % 7}" for i in range(d)],
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64)),
    })
    e = n["embeddings"]
    vecs = _embeddings(rng, e)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(e, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, e).astype(np.int32)),
    })
    return t


def write_operator_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One ``<name>.parquet`` file per table."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=4096)


def file_digest(path: str) -> str:
    """sha256 over every file under ``path``, in name order."""
    import hashlib

    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            with open(os.path.join(root, f), "rb") as fh:
                h.update(f.encode())
                h.update(fh.read())
    return h.hexdigest()

