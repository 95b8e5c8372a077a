"""Correctness checks that feed ``failed`` / ``attempted``.

An iteration fails when it raises or when one of these checks finds a
difference:

* pipeline: the four output tables equal ``plans/oracle.py`` run on the same
  entities (row for row, after the normalization the repo's world tests
  use). ``tile_validation``'s counts sum, per error class, to the oracle
  nodes' class entries, and ``tile_assignment`` covers exactly the oracle's
  ways, polygons and relations. The oracle runs once per group: groups
  share no id and no area, so the union of per-group results is the
  oracle's result on the whole input, and the per-group cost stays linear.
* operators: each query's rows hash equal to its ``ORACLES`` SQL run by
  DuckDB over the same parquet files (as ``scripts/check_oracle.py`` does).
  MinHash and SimHash have no SQL oracle; every reported pair is
  re-verified with the package's scalar reference functions and every
  planted exact duplicate must be reported.
"""

from __future__ import annotations

import hashlib

from osmi_water_spark.functions import wkb as W
from osmi_water_spark.plans.oracle import run_oracle

PIPELINE_TABLES = ("ways", "relations", "polygons", "nodes")
TILE_TABLES = ("tile_validation", "tile_assignment")


# ---------------------------------------------------------------- pipeline

def _rt(x):
    return round(x, 12)


def _coords(arr):
    return tuple((_rt(p[0]), _rt(p[1])) for p in arr)


def _rings_of(buf):
    _, payload = W.parse_wkb(bytes(buf))
    return tuple(sorted(_coords(r) for part in payload for r in part))


def engine_tables(rows: dict[str, list]) -> dict[str, list[tuple]]:
    """Collected engine rows -> the oracle's tuple layout, sorted."""
    return {
        "ways": sorted(
            (r.way_id, r.type, r.name, r.firstnode, r.lastnode, r.relation_id,
             r.lastchange, r.construction, r.width_error,
             _coords(W.parse_wkb(bytes(r.geom_wkb))[1]))
            for r in rows["ways"]),
        "relations": sorted(
            (r.relation_id, r.type, r.name, r.lastchange, r.nowaterway_error,
             tuple(_coords(ls) for ls in W.parse_wkb(bytes(r.geom_wkb))[1]))
            for r in rows["relations"]),
        "polygons": sorted(
            (r.way_id, r.relation_id, r.type, r.name, r.lastchange, _rings_of(r.geom_wkb))
            for r in rows["polygons"]),
        "nodes": sorted(
            (r.node_id, r.specific, r.direction_error, r.name_error, r.type_error,
             r.spring_error, r.end_error, r.way_error, _rt(r.lon), _rt(r.lat))
            for r in rows["nodes"]),
    }


def oracle_tables(groups: list[list[dict]]) -> dict[str, list[tuple]]:
    out: dict[str, list[tuple]] = {t: [] for t in PIPELINE_TABLES}
    for ents in groups:
        o = run_oracle(ents)
        out["ways"] += [(*w[:9], _coords(w[9])) for w in o["ways"]]
        out["relations"] += [(*r[:5], tuple(_coords(ls) for ls in r[5])) for r in o["relations"]]
        out["polygons"] += [(*p[:5], tuple(sorted(_coords(r) for r in p[5]))) for p in o["polygons"]]
        out["nodes"] += o["nodes"]
    return {k: sorted(v) for k, v in out.items()}


def diff_tables(got: dict[str, list[tuple]], want: dict[str, list[tuple]]) -> list[str]:
    """Names of the tables that differ (empty when all match)."""
    return [t for t in want if got.get(t) != want[t]]


NODE_CLASSES = ("direction", "name", "type", "spring", "end", "way")


def tile_expected(want: dict[str, list[tuple]]) -> dict:
    """What the two tile tables must hold, derived from the oracle tables:
    per error class, the number of (node, class) entries that
    ``tile_validation.n`` sums to (a node with no flag and no specific
    counts once as 'normal'); and the (table, feature_id) pairs
    ``tile_assignment`` covers."""
    classes: dict[str, int] = {}
    for node in want["nodes"]:
        cls = [c for c, flag in zip(NODE_CLASSES, node[2:8]) if flag == "true"]
        cls += [node[1]] if node[1] else []
        for c in cls or ["normal"]:
            classes[c] = classes.get(c, 0) + 1
    features = {("ways", w[0]) for w in want["ways"]}
    features |= {("polygons", p[0] if p[0] != 0 else p[1]) for p in want["polygons"]}
    features |= {("relations", r[0]) for r in want["relations"]}
    return {"classes": classes, "features": features}


def tile_diff(validation: list, assignment: list, expected: dict) -> list[str]:
    """Names of the tile tables that differ from ``tile_expected``."""
    classes: dict[str, int] = {}
    for r in validation:
        classes[r.error_class] = classes.get(r.error_class, 0) + r.n
    features = {(r.table, r.feature_id) for r in assignment}
    bad = []
    if classes != expected["classes"]:
        bad.append("tile_validation")
    if features != expected["features"]:
        bad.append("tile_assignment")
    return bad


# ----------------------------------------------------- order-free digests

def _cell(v) -> str:
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def rows_digest(rows, cols: list[str]) -> str:
    """md5 over the sorted rows, columns in name order — the digest
    ``scripts/check_oracle.py`` compares."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(_cell(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def arrow_digest(table) -> str:
    cols = table.column_names
    data = [table.column(c).to_pylist() for c in cols]
    return rows_digest(list(zip(*data)), cols)


# --------------------------------------------------------------- operators

def duckdb_expected(tables_dir: str, table_names, sql_by_op: dict[str, str]) -> dict[str, str]:
    """Digest of every oracle SQL result over the generated tables."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in table_names:
            con.execute(f"CREATE TABLE {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
        out = {}
        for op, sql in sql_by_op.items():
            res = con.execute(sql)
            out[op] = rows_digest(res.fetchall(), [d[0] for d in res.description])
        return out
    finally:
        con.close()


def planted_duplicates(texts: list[str]) -> set[tuple[int, int]]:
    """(a, b) id pairs of byte-identical documents with at least one token."""
    first: dict[str, int] = {}
    pairs = set()
    for i, t in enumerate(texts):
        if not t.strip():
            continue
        if t in first:
            pairs.add((first[t], i))
        else:
            first[t] = i
    return pairs


def check_minhash(table, texts: list[str], threshold: float) -> bool:
    """Every pair's Jaccard recomputed from the scalar shingle sets, and
    every planted exact duplicate present."""
    from osmi_water_spark.operators.dedup import shingle_hashes

    a, b, jac = (table.column(c).to_pylist() for c in ("a", "b", "jaccard"))
    for x, y, j in zip(a, b, jac):
        sx, sy = set(shingle_hashes(texts[x]).tolist()), set(shingle_hashes(texts[y]).tolist())
        want = len(sx & sy) / len(sx | sy) if sx | sy else 0.0
        if abs(want - j) > 1e-9 or want < threshold:
            return False
    return _closure_covers(set(zip(a, b)), planted_duplicates(texts))


def check_simhash(table, texts: list[str], max_hamming: int) -> bool:
    """Every pair's Hamming distance recomputed from the scalar SimHash,
    and every planted exact duplicate present."""
    from osmi_water_spark.operators.dedup import simhash64

    a, b, ham = (table.column(c).to_pylist() for c in ("a", "b", "hamming"))
    for x, y, h in zip(a, b, ham):
        want = bin((simhash64(texts[x]) ^ simhash64(texts[y])) & (2**64 - 1)).count("1")
        if want != h or want > max_hamming:
            return False
    return _closure_covers(set(zip(a, b)), planted_duplicates(texts))


def _closure_covers(found: set[tuple[int, int]], planted: set[tuple[int, int]]) -> bool:
    """Each planted pair is reported directly or through the component the
    reported pairs form (LSH operators may link a star instead of a clique)."""
    parent: dict[int, int] = {}

    def root(x):
        while parent.get(x, x) != x:
            x = parent[x]
        return x

    for x, y in found:
        parent[root(x)] = root(y)
    return all(root(x) == root(y) for x, y in planted)
