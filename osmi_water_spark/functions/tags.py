"""Tag predicates (F1-F8) and scalar projections (P1-P5, P7-P11) as native
Spark SQL expressions over a ``tags: map<string,string>`` column.

Everything here is deliberately expression-only (no UDFs) so Catalyst can
push filters into the scan and whole-stage codegen covers the hot path.
Each function cites the reference implementation it matches
(the reference's src/tagcheck.hpp unless noted); the ``CASE WHEN`` chains
preserve the reference's exact predicate precedence, including its quirks.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

WATERWAY_TYPES = ["river", "stream", "drain", "brook", "canal", "ditch", "riverbank"]
# waterway/water values that exclude an area from the PIP index
# (tagcheck.hpp:101-123)
AREA_EXCLUDE_VALUES = ["river", "drain", "stream", "canal", "ditch", "riverbank"]

# Every function takes SQL text (a column name or any SQL expression) and
# returns ``F.expr`` of one SQL string, which is the single definition of
# its semantic: one parse per call instead of a py4j round-trip per Column
# operator while the DAG is built. Arguments are parenthesized where they
# are spliced in, so operator precedence inside them cannot leak.


def sql_str(s: str) -> str:
    """A Python string as a Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _vs(tags: str, key: str) -> str:
    return f"({tags})['{key}']"


def _in(expr: str, values: list[str]) -> str:
    return f"{expr} IN ({', '.join(sql_str(v) for v in values)})"


def is_waterway(tags: str, is_relation: bool) -> Column:
    """F1 — tagcheck.hpp:35-60. Precedence: multipolygon reject, riverbank
    reject, relation type=waterway accept, any waterway accept, way
    natural=coastline accept."""
    typ, ww, nat = _vs(tags, "type"), _vs(tags, "waterway"), _vs(tags, "natural")
    rel = f"WHEN {typ} = 'waterway' THEN true " if is_relation else ""
    way = f"WHEN {nat} = 'coastline' THEN true " if not is_relation else ""
    return F.expr(
        f"CASE WHEN {typ} = 'multipolygon' THEN false "
        f"WHEN {ww} = 'riverbank' THEN false "
        f"{rel}WHEN {ww} IS NOT NULL THEN true {way}ELSE false END"
    )


def waterpolygon_filter(tags: str) -> Column:
    """F2 — tagcheck.hpp:62-69 (MultipolygonManager's TagsFilter)."""
    return F.expr(
        f"coalesce(({_vs(tags, 'natural')} = 'water') OR "
        f"({_vs(tags, 'waterway')} IS NOT NULL) OR "
        f"({_in(_vs(tags, 'landuse'), ['reservoir', 'basin'])}), false)"
    )


def has_waterway_tag(tags: str) -> Column:
    """F3 — tagcheck.hpp:71-74. Key existence only."""
    return F.expr(f"({_vs(tags, 'waterway')} IS NOT NULL)")


def is_way_to_analyse(tags: str) -> Column:
    """F4 — tagcheck.hpp:76-99."""
    return F.expr(
        f"coalesce(({_vs(tags, 'waterway')} IS NOT NULL) OR "
        f"({_in(_vs(tags, 'natural'), ['coastline', 'water'])}) OR "
        f"({_in(_vs(tags, 'landuse'), ['reservoir', 'basin'])}), false)"
    )


def is_area_to_analyse(tags: str) -> Column:
    """F5 — tagcheck.hpp:101-123. Riverbank-ish areas excluded from the PIP
    index. Null tag values pass (get_value_by_key null -> condition false)."""
    return F.expr(
        f"(coalesce(NOT ({_in(_vs(tags, 'waterway'), AREA_EXCLUDE_VALUES)}), true)"
        f" AND coalesce(NOT ({_in(_vs(tags, 'water'), AREA_EXCLUDE_VALUES)}), true))"
    )


def is_riverbank_or_coastline(tags: str) -> Column:
    """F6 — tagcheck.hpp:125-135. Selects check-all-nodes mode in pass 3."""
    return F.expr(
        f"coalesce(({_vs(tags, 'waterway')} = 'riverbank') OR "
        f"({_vs(tags, 'natural')} = 'coastline'), false)"
    )


def is_water_area(tags: str) -> Column:
    """F7 — tagcheck.hpp:137-151."""
    return F.expr(
        f"coalesce(({_vs(tags, 'natural')} = 'water') OR "
        f"({_in(_vs(tags, 'landuse'), ['reservoir', 'basin'])}) OR "
        f"({_vs(tags, 'waterway')} IS NOT NULL), false)"
    )


def _waterway_type_sql(raw: str) -> str:
    return (f"CASE WHEN {raw} IS NULL THEN '' "
            f"WHEN {_in(raw, WATERWAY_TYPES)} THEN {raw} ELSE 'other' END")


def get_waterway_type(raw: str) -> Column:
    """P1 — tagcheck.hpp:19-31. null -> '', known value -> value, else 'other'."""
    return F.expr(_waterway_type_sql(f"({raw})"))


def get_way_type(tags: str) -> Column:
    """P2 — tagcheck.hpp:177-189."""
    t = f"({_waterway_type_sql(_vs(tags, 'waterway'))})"
    return F.expr(
        f"CASE WHEN {t} = '' THEN (CASE WHEN {_vs(tags, 'natural')} = 'coastline'"
        f" THEN 'coastline' ELSE '' END) ELSE {t} END"
    )


def get_polygon_type(tags: str) -> Column:
    """P3 — tagcheck.hpp:166-175. Note the reference quirk: any
    waterway-tagged area gets type '' (the non-empty waterway type is
    discarded), and non-coastline areas fall back to the landuse value."""
    t = f"({_waterway_type_sql(_vs(tags, 'waterway'))})"
    return F.expr(
        f"CASE WHEN {_vs(tags, 'natural')} = 'coastline' THEN 'coastline' "
        f"WHEN {t} = '' THEN coalesce({_vs(tags, 'landuse')}, '') ELSE '' END"
    )


def get_waterway_category(way_type: str) -> Column:
    """P4 — tagcheck.hpp:153-164 / datastorage.hpp:57-65. ASCII ordering
    '?'<'A'<'B'<'C' is load-bearing for A2's max()."""
    w = f"({way_type})"
    return F.expr(
        f"CASE WHEN {_in(w, ['drain', 'brook', 'ditch'])} THEN 'A' "
        f"WHEN {w} = 'stream' THEN 'B' "
        f"WHEN {w} = 'river' THEN 'C' ELSE '?' END"
    )


def width_tag_sql(tags: str) -> str:
    """P5 — tagcheck.hpp:191-201. width, else est_width, else null."""
    return f"coalesce({_vs(tags, 'width')}, {_vs(tags, 'est_width')})"


def get_width_tag(tags: str) -> Column:
    """P5 as a Column (``width_tag_sql``)."""
    return F.expr(width_tag_sql(tags))


def get_construction(tags: str) -> Column:
    """P9 — tagcheck.hpp:203-211. Key existence, bridge wins."""
    return F.expr(
        f"CASE WHEN {_vs(tags, 'bridge')} IS NOT NULL THEN 'bridge' "
        f"WHEN {_vs(tags, 'tunnel')} IS NOT NULL THEN 'tunnel' ELSE '' END"
    )


def format_lastchange(ts: str) -> Column:
    """P8 — datastorage.hpp:131-136. ISO -> 'YYYY-MM-DD HH:MM:SS'."""
    return F.expr(f"date_format({ts}, 'yyyy-MM-dd HH:mm:ss')")


def name_or_empty(tags: str) -> Column:
    """Reference stores '' for missing names in the connectivity map
    (datastorage.hpp:306) and leaves the DB field NULL; we normalize to ''.
    Connectivity's multi_names (min(name) != max(name)) relies on this:
    a null would be skipped by min/max and hide a name change."""
    return F.expr(f"coalesce({_vs(tags, 'name')}, '')")
