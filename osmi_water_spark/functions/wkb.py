"""WKB geometry: scalar encoders (the spec that tests pin the Arrow and
SQL builders to), the SQL closed-way and multi-geometry builders, the
decoder the ray cast needs, and vectorized point-in-polygon, pure numpy.

The reference round-trips GEOS -> WKB -> OGR (/root/reference/src/
waterway.hpp:50-66); we store WKB ``binary`` directly (little-endian ISO
WKB, EPSG:4326 lon/lat). Geometry is built once as bytes and never
re-parsed on its way to the ray cast:

* LineStrings and points come from the Arrow scatter builders in
  ``wkb_vec``; relation polygons from ``wkb_polygon`` at ring assembly.
* A closed way's Polygon is its LineString's point block behind a 9-byte
  header, and MultiLineStrings and MultiPolygons are their members' bytes
  behind one, so ``ring_polygon_sql`` and ``multi_wkb_sql`` build them in
  SQL without decoding.
* ``parse_wkb`` runs only where edges are needed: ``FlatPolygonIndex.build``
  (the PIP refine) and tests. ``FlatPolygonIndex`` holds the one ray cast.

No GEOS/shapely dependency exists in this environment, so containment is
an even-odd ray cast vectorized over numpy point batches — semantics match
GEOS ``PreparedPolygon::contains`` (/root/reference/src/
falsepositives.hpp:133-135) for non-boundary points; boundary points are
explicitly excluded (GEOS contains is interior-only).
"""

from __future__ import annotations

import struct

import numpy as np

_HDR = struct.Struct("<BI")
_U32 = struct.Struct("<I")

POINT, LINESTRING, POLYGON, MULTIPOINT, MULTILINESTRING, MULTIPOLYGON = 1, 2, 3, 4, 5, 6


def wkb_point(x: float, y: float) -> bytes:
    return _HDR.pack(1, POINT) + struct.pack("<dd", x, y)


def _coords_bytes(coords: np.ndarray) -> bytes:
    a = np.ascontiguousarray(coords, dtype="<f8")
    return _U32.pack(a.shape[0]) + a.tobytes()


def wkb_linestring(coords: np.ndarray) -> bytes:
    return _HDR.pack(1, LINESTRING) + _coords_bytes(np.asarray(coords))


def wkb_multilinestring(lines: list[np.ndarray]) -> bytes:
    out = [_HDR.pack(1, MULTILINESTRING), _U32.pack(len(lines))]
    out += [wkb_linestring(c) for c in lines]
    return b"".join(out)


def wkb_polygon(rings: list[np.ndarray]) -> bytes:
    out = [_HDR.pack(1, POLYGON), _U32.pack(len(rings))]
    out += [_coords_bytes(np.asarray(r)) for r in rings]
    return b"".join(out)


def wkb_multipolygon(polys: list[list[np.ndarray]]) -> bytes:
    out = [_HDR.pack(1, MULTIPOLYGON), _U32.pack(len(polys))]
    out += [wkb_polygon(rings) for rings in polys]
    return b"".join(out)


def multi_wkb_sql(gtype: int, parts: str) -> str:
    """SQL text of the Multi* WKB (``gtype``) whose members are ``parts``, SQL
    text of an ``array<binary>`` of member WKBs. A multi-geometry is byte
    order ``01``, the type as u32 LE and the member count as u32 LE,
    followed by the members verbatim, so nothing is decoded. One hex
    round-trip keeps it linear in bytes (a binary ``concat`` fold over the
    members would be quadratic in their count)."""
    count = (f"regexp_replace(lpad(hex(size({parts})), 8, '0'), "
             "'(..)(..)(..)(..)', '$4$3$2$1')")
    return (f"unhex(concat('01{gtype:02X}000000', {count}, "
            f"array_join(transform({parts}, __wkb_part -> hex(__wkb_part)), '')))")


def ring_polygon_sql(ls: str, coords: str) -> str:
    """SQL text of the one-ring Polygon WKB of a closed way, null where the
    ring is degenerate. ``ls`` is the ``make_linestring`` struct of
    ``coords``: a one-ring Polygon is its LineString's point block behind
    the 9-byte header ``01 | u32(3) | u32(1)``. The gates are the scalar
    spec's: at least 4 raw points, at least 4 deduped points (73 bytes of
    LineString), and first point equal to last. Dedup keeps the first point
    and the last point's value, so the raw endpoints decide closure. Spark
    compares NaN = NaN as true where numpy does not, hence ``isnan``; ANSI
    mode raises on ``c[i]`` out of range even in an untaken branch, hence
    ``get``."""
    first, last = f"get({coords}, 0)", f"get({coords}, size({coords}) - 1)"
    return (f"CASE WHEN size({coords}) >= 4 AND length({ls}.wkb) >= 73 "
            f"AND {first}.lon = {last}.lon AND {first}.lat = {last}.lat "
            f"AND NOT isnan({first}.lon) AND NOT isnan({first}.lat) "
            f"THEN concat(X'010300000001000000', substring({ls}.wkb, 6)) END")


# ---------------- decoding (tests / refine stage) ----------------


def _read_coords(buf: memoryview, off: int) -> tuple[np.ndarray, int]:
    (n,) = _U32.unpack_from(buf, off)
    off += 4
    a = np.frombuffer(buf, dtype="<f8", count=2 * n, offset=off).reshape(n, 2)
    return a, off + 16 * n


def parse_wkb(buf: bytes):
    """Decode WKB -> (geom_type, payload). Payload shapes:
    point -> (x, y); linestring -> ndarray[n,2]; polygon -> [rings];
    multilinestring -> [ndarray]; multipolygon -> [[rings]]."""
    mv = memoryview(buf)
    geom, payload, _ = _parse_one(mv, 0)
    return geom, payload


def _parse_one(mv: memoryview, off: int):
    endian, gtype = _HDR.unpack_from(mv, off)
    assert endian == 1, "big-endian WKB unsupported"
    off += 5
    if gtype == POINT:
        x, y = struct.unpack_from("<dd", mv, off)
        return POINT, (x, y), off + 16
    if gtype == LINESTRING:
        a, off = _read_coords(mv, off)
        return LINESTRING, a, off
    if gtype == POLYGON:
        (nr,) = _U32.unpack_from(mv, off)
        off += 4
        rings = []
        for _ in range(nr):
            r, off = _read_coords(mv, off)
            rings.append(r)
        return POLYGON, rings, off
    if gtype in (MULTILINESTRING, MULTIPOLYGON, MULTIPOINT):
        (n,) = _U32.unpack_from(mv, off)
        off += 4
        parts = []
        for _ in range(n):
            _, payload, off = _parse_one(mv, off)
            parts.append(payload)
        return gtype, parts, off
    raise ValueError(f"unsupported WKB geometry type {gtype}")


# ---------------- point-in-polygon (vectorized over points) ----------------


def points_in_rings(px: np.ndarray, py: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """Even-odd ray cast of N points against one polygon (closed rings:
    outer + holes); boundary points return False (GEOS ``contains`` tests
    the interior only). The one-part case of ``FlatPolygonIndex``."""
    idx = FlatPolygonIndex.of_parts([(0, rings)])
    return idx.eval(px, py, np.zeros(len(px), dtype=np.int64))


# ---------------- flat polygon index (batch PIP without per-part calls) ----------------


class FlatPolygonIndex:
    """Every polygon part's edges concatenated into flat numpy arrays, with
    offset tables part->edges and key->parts.

    Why: the refine stage receives Arrow batches whose rows touch thousands
    of *distinct* polygon parts, each with only a handful of candidate
    points. Ray-casting per part costs one numpy call (+ one WKB parse) per
    (part, batch) — measured ~5-100 us of fixed overhead each, which
    dominated the whole PIP join and flattened its 8->32-core scaling. Here
    the batch expands to (point, part, edge) instances with integer index
    arithmetic and runs ONE vectorized ray cast per batch (chunked to bound
    peak memory): even-odd crossings, boundary points excluded, OR over a
    key's parts. It is the package's only ray cast; ``points_in_rings`` is
    its one-part case.
    """

    def __init__(self, keys: list):
        # edge arrays (E,)
        self._ex1: list[np.ndarray] = []
        self._ey1: list[np.ndarray] = []
        self._ex2: list[np.ndarray] = []
        self._ey2: list[np.ndarray] = []
        self._part_edge_count: list[int] = []
        self._part_bbox: list[tuple[float, float, float, float]] = []
        self._key_parts: list[list[int]] = [[] for _ in keys]
        self.key_id = {k: i for i, k in enumerate(keys)}

    @staticmethod
    def of_parts(parts) -> "FlatPolygonIndex":
        """parts: iterable of (key, rings), one per polygon part, each ring
        an (n, 2) lon/lat array. Rings must be closed (last point equal to
        the first): the bbox prefilter in ``eval`` is only exact then. A key
        may repeat: its parts are OR-ed, matching the reference's
        per-polygon STRtree entries (areahandler.hpp:48-62)."""
        parts = list(parts)
        idx = FlatPolygonIndex(list(dict.fromkeys(k for k, _ in parts)))
        for k, rings in parts:
            idx._add_part(idx.key_id[k], rings)
        idx._freeze()
        return idx

    @staticmethod
    def build(items) -> "FlatPolygonIndex":
        """items: iterable of (key, Polygon WKB): each WKB parsed, then
        ``of_parts``."""
        def rings_of(buf):
            gtype, rings = parse_wkb(bytes(buf))
            if gtype != POLYGON:
                raise ValueError(f"not a polygon WKB: type={gtype}")
            return rings

        return FlatPolygonIndex.of_parts((k, rings_of(buf)) for k, buf in items)

    def _add_part(self, key_idx: int, rings) -> None:
        x1s, y1s, x2s, y2s = [], [], [], []
        for ring in rings:
            r = np.asarray(ring, dtype=np.float64)
            x1s.append(r[:-1, 0]); y1s.append(r[:-1, 1])
            x2s.append(r[1:, 0]); y2s.append(r[1:, 1])
        ex1 = np.concatenate(x1s) if x1s else np.empty(0)
        ey1 = np.concatenate(y1s) if y1s else np.empty(0)
        ex2 = np.concatenate(x2s) if x2s else np.empty(0)
        ey2 = np.concatenate(y2s) if y2s else np.empty(0)
        pid = len(self._part_edge_count)
        self._ex1.append(ex1); self._ey1.append(ey1)
        self._ex2.append(ex2); self._ey2.append(ey2)
        self._part_edge_count.append(len(ex1))
        ax = np.concatenate([ex1, ex2]); ay = np.concatenate([ey1, ey2])
        self._part_bbox.append(
            (float(ax.min()), float(ay.min()), float(ax.max()), float(ay.max()))
            if len(ax) else (np.inf, np.inf, -np.inf, -np.inf)
        )
        self._key_parts[key_idx].append(pid)

    def _freeze(self) -> None:
        self.ex1 = np.concatenate(self._ex1) if self._ex1 else np.empty(0)
        self.ey1 = np.concatenate(self._ey1) if self._ey1 else np.empty(0)
        self.ex2 = np.concatenate(self._ex2) if self._ex2 else np.empty(0)
        self.ey2 = np.concatenate(self._ey2) if self._ey2 else np.empty(0)
        self.part_edge_count = np.asarray(self._part_edge_count, dtype=np.int64)
        self.part_edge_start = np.zeros(len(self.part_edge_count), dtype=np.int64)
        np.cumsum(self.part_edge_count[:-1], out=self.part_edge_start[1:])
        bb = np.asarray(self._part_bbox, dtype=np.float64).reshape(-1, 4)
        self.part_minx, self.part_miny = bb[:, 0], bb[:, 1]
        self.part_maxx, self.part_maxy = bb[:, 2], bb[:, 3]
        self.key_part_ids = np.asarray(
            [p for ps in self._key_parts for p in ps], dtype=np.int64
        )
        self.key_part_count = np.asarray(
            [len(ps) for ps in self._key_parts], dtype=np.int64
        )
        self.key_part_start = np.zeros(len(self.key_part_count), dtype=np.int64)
        np.cumsum(self.key_part_count[:-1], out=self.key_part_start[1:])
        del self._ex1, self._ey1, self._ex2, self._ey2
        del self._part_edge_count, self._part_bbox, self._key_parts

    @staticmethod
    def _ragged(starts: np.ndarray, counts: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(starts, counts) -> (owner, flat_index): flat_index walks each
        span starts[i]..starts[i]+counts[i], owner labels which span."""
        total = int(counts.sum())
        owner = np.repeat(np.arange(len(counts)), counts)
        cum = np.cumsum(counts) - counts
        within = np.arange(total) - np.repeat(cum, counts)
        return owner, np.repeat(starts, counts) + within

    def eval(self, px: np.ndarray, py: np.ndarray, row_key: np.ndarray,
             max_edge_instances: int = 131_072) -> np.ndarray:
        """Containment of point i in ANY part of key row_key[i] (int key
        ids from ``key_id``; negative = no key -> False). One vectorized
        pass, chunked on (point, part) pairs. The chunk bound is a CACHE
        budget, not a memory cap: ~128k edge instances keeps the ~12
        temporaries (~12 MB) L3-resident — at 4M instances the eval went
        DRAM-bound and 32 contending workers measured 16x slower per core
        (the round-1 8->32 scaling-efficiency miss)."""
        px = np.asarray(px, dtype=np.float64)
        py = np.asarray(py, dtype=np.float64)
        n = len(px)
        inside = np.zeros(n, dtype=bool)
        valid = row_key >= 0
        if not valid.any() or len(self.part_edge_count) == 0:
            return inside
        rows = np.flatnonzero(valid)
        rk = row_key[rows]
        pair_row_local, part_idx = self._ragged(
            self.key_part_start[rk], self.key_part_count[rk]
        )
        pair_row = rows[pair_row_local]
        pair_part = self.key_part_ids[part_idx]
        # bbox prefilter per (point, part) pair (inclusive: never drops a
        # point the interior test could accept)
        keep = (
            (px[pair_row] >= self.part_minx[pair_part])
            & (px[pair_row] <= self.part_maxx[pair_part])
            & (py[pair_row] >= self.part_miny[pair_part])
            & (py[pair_row] <= self.part_maxy[pair_part])
        )
        pair_row, pair_part = pair_row[keep], pair_part[keep]
        npairs = len(pair_row)
        if npairs == 0:
            return inside
        ecounts = self.part_edge_count[pair_part]
        ecum = np.cumsum(ecounts)
        lo = 0
        while lo < npairs:
            base = ecum[lo - 1] if lo else 0
            hi = int(np.searchsorted(ecum, base + max_edge_instances, side="right"))
            hi = max(hi, lo + 1)
            self._eval_chunk(px, py, pair_row[lo:hi], pair_part[lo:hi], inside)
            lo = hi
        return inside

    def _eval_chunk(self, px, py, pair_row, pair_part, inside) -> None:
        ecounts = self.part_edge_count[pair_part]
        eowner, eidx = self._ragged(self.part_edge_start[pair_part], ecounts)
        pidx = pair_row[eowner]
        X1, Y1 = self.ex1[eidx], self.ey1[eidx]
        X2, Y2 = self.ex2[eidx], self.ey2[eidx]
        PX, PY = px[pidx], py[pidx]
        cross = (X2 - X1) * (PY - Y1) - (Y2 - Y1) * (PX - X1)
        on_seg = (
            (np.abs(cross) < 1e-12)
            & (PX >= np.minimum(X1, X2) - 1e-12)
            & (PX <= np.maximum(X1, X2) + 1e-12)
            & (PY >= np.minimum(Y1, Y2) - 1e-12)
            & (PY <= np.maximum(Y1, Y2) + 1e-12)
        )
        # half-open rule: a vertex on the ray counts for one of its edges
        cond = (Y1 <= PY) != (Y2 <= PY)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = X1 + (PY - Y1) * (X2 - X1) / (Y2 - Y1)
        crossing = cond & (PX < xint)
        npair = len(pair_part)
        n_cross = np.bincount(eowner[crossing], minlength=npair)
        n_bound = np.bincount(eowner[on_seg], minlength=npair)
        pair_inside = ((n_cross % 2) == 1) & (n_bound == 0)
        inside[pair_row[pair_inside]] = True
