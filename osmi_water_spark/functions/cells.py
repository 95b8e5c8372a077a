"""Grid-cell spatial index + slippy (z/x/y) raster tile math, all as SQL
text over native Spark functions (JVM-side, codegen-friendly — no UDFs).

This is the engine's replacement for the reference's GEOS ``STRtree``
envelope index (/root/reference/src/areahandler.hpp:57-59,
/root/reference/src/falsepositives.hpp:130): polygons are covered by the
grid cells of their bounding box, points map to one cell per resolution,
and the spatial join becomes a plain equi-join on cell id — the same plan
shape an H3/S2 polyfill would give (neither library is available in this
environment; the grid keeps identical semantics: cell-join = envelope
pre-filter, exact refine = prepared-polygon contains).

Cell id packing (64-bit long):  (res << 58) | (iy << 29) | ix
with a 2^res x 2^res grid over lon [-180,180] x lat [-90,90].
Resolution <= 20 (cell ~34 m at the equator), ix/iy < 2^29.

Raster tiles use the standard web-mercator z/x/y scheme; ids share the same
packing. ``tile_id`` assigns points to tiles; features reach their tiles
through their cell cover (``operators.tiling.feature_tile_assignment``), the
raster<->vector assignment demanded by the graft (BASELINE.json:6).
"""

from __future__ import annotations

import math
import re

from pyspark.sql import Column
from pyspark.sql import functions as F

RES_BITS_SHIFT = 58
IY_SHIFT = 29
MIN_COVER_RES = 3  # coarsest adaptive cover resolution
DEFAULT_RES = 7  # ~312 km cells; fixtures are small worlds
MAX_COVER_CELLS = 64

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


# ---- SQL text: the one definition of each cell formula ----
#
# Every builder below takes SQL text (column names or any numeric SQL
# expressions) and returns ``F.expr`` of one SQL string: a single parse per
# call instead of dozens of py4j round-trips per nested Column tree while
# the DAG is built. Literal forms are chosen for exact types and IEEE op
# order: `180.0D` (double, NOT the default decimal), `0L` for long
# literals. A resolution is SQL text too, so one formula serves a literal
# resolution and a per-row one (a cell's own, or a polygon's adaptive
# cover resolution): `pow(2.0D, res)` is exact for res <= 20, and
# Catalyst folds it to a literal when res is one, so a literal
# resolution's plan holds no POWER. The Arrow PIP probe reads its point
# cells and its cover from these formulas too, so each has this one
# definition.


def _sql(c: Column | str) -> str:
    """SQL text of a point argument: SQL text as given, or the name of a
    bare column reference such as ``F.col("lon")`` (the form
    ``__spark_entry__.py`` passes). Any other Column raises TypeError."""
    jc = getattr(c, "_jc", None)
    if jc is None:
        return c
    name = jc.toString()
    if not _IDENT.fullmatch(name):
        raise TypeError(f"expected SQL text or a bare column reference, got Column {name}")
    return name


def _clamp_sql(i: str, res: int | str) -> str:
    """``i`` clamped to [0, 2^res - 1], the cell range of one axis."""
    return f"greatest(0L, least(cast(pow(2.0D, {res}) as long) - 1L, {i}))"


def _ix_sql(lon: str, res: int | str) -> str:
    return _clamp_sql(f"floor((({lon}) + 180.0D) / 360.0D * pow(2.0D, {res}))", res)


def _iy_sql(lat: str, res: int | str) -> str:
    return _clamp_sql(f"floor((({lat}) + 90.0D) / 180.0D * pow(2.0D, {res}))", res)


def _encode_sql(res: int | str, ix: str, iy: str) -> str:
    return (f"(shiftleft(cast({res} as long), {RES_BITS_SHIFT}) + "
            f"shiftleft(cast({iy} as long), {IY_SHIFT}) + cast({ix} as long))")


def _cell_of_sql(lon: str, lat: str, res: int | str) -> str:
    return _encode_sql(res, _ix_sql(lon, res), _iy_sql(lat, res))


def _cell_res_sql(cell: str) -> str:
    return f"cast(shiftright({cell}, {RES_BITS_SHIFT}) as int)"


def _cell_ix_sql(cell: str) -> str:
    return f"cast(({cell}) % {1 << IY_SHIFT} as long)"


def _cell_iy_sql(cell: str) -> str:
    return f"cast(shiftright({cell}, {IY_SHIFT}) % {1 << IY_SHIFT} as long)"


def cell_res(cell: str) -> Column:
    return F.expr(_cell_res_sql(cell))


def cell_ix(cell: str) -> Column:
    return F.expr(_cell_ix_sql(cell))


def cell_iy(cell: str) -> Column:
    return F.expr(_cell_iy_sql(cell))


def cell_of(lon: Column | str, lat: Column | str, res: int = DEFAULT_RES) -> Column:
    """Point -> grid cell id at a fixed resolution. ``lon``/``lat`` are SQL
    text or bare column references."""
    return F.expr(_cell_of_sql(_sql(lon), _sql(lat), res))


def cell_of_multi(lon: str, lat: str, resolutions: list[int]) -> Column:
    """Point -> array of cell ids, one per resolution (for joining against a
    multi-resolution polygon cover — bounded fan-out: len(resolutions) rows)."""
    return F.expr(
        "array(" + ", ".join(_cell_of_sql(lon, lat, r) for r in resolutions) + ")"
    )


def bbox_cover_cells(minx: str, miny: str, maxx: str, maxy: str, res: int | str) -> Column:
    """All cells at ``res`` intersecting the bbox (envelope cover), iy
    outer, ix inner. ``res`` is an int or SQL text, e.g. a column holding
    ``adaptive_cover_res``.

    Built from sequence+transform+flatten so it stays inside codegen.
    """
    # the lambda variables are named so that no caller column can shadow
    # them inside the bbox expressions
    ix0, ix1 = _ix_sql(minx, res), _ix_sql(maxx, res)
    iy0, iy1 = _iy_sql(miny, res), _iy_sql(maxy, res)
    enc = _encode_sql(res, "__cov_ix", "__cov_iy")
    return F.expr(f"flatten(transform(sequence({iy0}, {iy1}), "
                  f"__cov_iy -> transform(sequence({ix0}, {ix1}), __cov_ix -> {enc})))")


def _bbox_cover_count_sql(minx: str, miny: str, maxx: str, maxy: str, res: int) -> str:
    return (f"(({_ix_sql(maxx, res)} - {_ix_sql(minx, res)} + 1L) * "
            f"({_iy_sql(maxy, res)} - {_iy_sql(miny, res)} + 1L))")


def bbox_cover_counts(minx: str, miny: str, maxx: str, maxy: str,
                      res_min: int = MIN_COVER_RES, res_max: int = DEFAULT_RES) -> list[Column]:
    """The bbox cover's cell count at each resolution in [res_min, res_max],
    coarsest first. Project them into columns once: the adaptive
    resolution and cover size at any cell budget read those columns."""
    return [F.expr(_bbox_cover_count_sql(minx, miny, maxx, maxy, r))
            for r in range(res_min, res_max + 1)]


def _adaptive_pick_sql(counts: list[str], max_cells: int, values: list[str]) -> str:
    # finest qualifying resolution wins; the coarsest is the fallback
    whens = " ".join(f"WHEN {counts[i]} <= {max_cells}L THEN {values[i]}"
                     for i in reversed(range(1, len(counts))))
    return f"(CASE {whens} ELSE {values[0]} END)" if whens else values[0]


def adaptive_cover_res(counts: list[str], res_min: int = MIN_COVER_RES,
                       max_cells: int = MAX_COVER_CELLS) -> Column:
    """Finest resolution whose bbox cover stays within ``max_cells``, else
    ``res_min``: bounds the explode fan-out per polygon regardless of its
    size (big lakes coarsen instead of exploding). ``counts`` name the
    projected ``bbox_cover_counts`` columns, coarsest first. The cover
    itself is ``bbox_cover_cells`` at this resolution: project it into a
    column once and pass that column's name."""
    values = [str(res_min + i) for i in range(len(counts))]
    return F.expr(_adaptive_pick_sql(counts, max_cells, values))


def adaptive_cover_size(counts: list[str], max_cells: int = MAX_COVER_CELLS) -> Column:
    """Cell count of the bbox cover at ``adaptive_cover_res``."""
    return F.expr(_adaptive_pick_sql(counts, max_cells, counts))


def k_ring(cell: str, k: int = 1) -> Column:
    """Cells within Chebyshev distance k of ``cell`` (SQL text) at the same
    resolution, clamped to the grid (the kNN candidate ring, J6). No
    antimeridian wrap (documented limit)."""
    res, ix, iy = _cell_res_sql(cell), _cell_ix_sql(cell), _cell_iy_sql(cell)

    def span(i: str) -> str:
        return f"sequence({_clamp_sql(f'{i} - {k}', res)}, {_clamp_sql(f'{i} + {k}', res)})"

    enc = _encode_sql(res, "__ring_ix", "__ring_iy")
    return F.expr(f"flatten(transform({span(iy)}, "
                  f"__ring_iy -> transform({span(ix)}, __ring_ix -> {enc})))")


# ---------------- raster (slippy z/x/y) tiles ----------------


def _tile_id_sql(lon: str, lat: str, z: int) -> str:
    """Web-mercator tile id: x is the cell x at resolution z; y is written
    identically to the DuckDB oracle (ln(tan + 1/cos)) so both engines run
    the same IEEE ops."""
    pi = repr(math.pi)
    lat_rad = f"(({lat}) * {pi}D / 180.0D)"
    ty = (f"floor((1.0D - ln(tan({lat_rad}) + 1.0D / cos({lat_rad})) / {pi}D)"
          f" / 2.0D * pow(2.0D, {z}))")
    return _encode_sql(z, _ix_sql(lon, z), _clamp_sql(ty, z))


def tile_id(lon: Column | str, lat: Column | str, z: int) -> Column:
    """Point -> z/x/y tile id. ``lon``/``lat`` are SQL text or bare column
    references."""
    return F.expr(_tile_id_sql(_sql(lon), _sql(lat), z))


def cell_tile_id(cell: str, z: int) -> Column:
    """Cell id (SQL text) -> id of the z tile holding the cell's centre."""
    n = f"pow(2.0D, {_cell_res_sql(cell)})"
    lon = f"(({_cell_ix_sql(cell)} + 0.5D) / {n} * 360.0D - 180.0D)"
    lat = f"(({_cell_iy_sql(cell)} + 0.5D) / {n} * 180.0D - 90.0D)"
    return F.expr(_tile_id_sql(lon, lat, z))
