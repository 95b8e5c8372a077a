"""E1-E3 — the ErrorSum bitmask algebra as integer-column expressions.

Every builder takes SQL text (a column name or any integer SQL expression)
and returns ``F.expr`` of one SQL string, which is its single definition.

Mirrors /root/reference/src/errorsum.hpp exactly: 12 flag bits; the
``set_rivermouth``/``set_outflow``/``set_poss_*`` setters *overwrite* the
whole mask (``=`` not ``+=``, errorsum.hpp:45-59); ``switch_poss`` only
fires for river-flagged possibles (errorsum.hpp:132-142 — stream-flagged
possibles are emitted with all six output error flags false, quirk
SURVEY.md §7.6.4).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DIRECTION = 1
NAME = 2
TYPE = 4
SPRING = 8
END = 16
RIVERMOUTH = 32
OUTFLOW = 64
POSS_RIVERMOUTH = 128
POSS_OUTFLOW = 256
STREAM = 512
RIVER = 1024
WAY = 2048


def _has_sql(mask: str, bit: int) -> str:
    return f"((({mask}) & {bit}) != 0)"


def switch_poss(mask: str) -> Column:
    """E2 — errorsum.hpp:129-142, applied at finalize
    (datastorage.hpp:408-417): river & poss_rivermouth -> end_error;
    river & poss_outflow -> spring_error; everything else unchanged.
    ``set_end_error``/``set_spring_error`` are idempotent (errorsum.hpp:37-43
    adds the bit only when not already set), so a mask already carrying the
    target bit only loses the poss bit."""
    m = f"({mask})"
    h = lambda b: _has_sql(mask, b)  # noqa: E731
    return F.expr(
        f"CASE WHEN {h(RIVER)} AND {h(POSS_RIVERMOUTH)} THEN "
        f"(CASE WHEN {h(END)} THEN {m} - {POSS_RIVERMOUTH} "
        f"ELSE {m} - {POSS_RIVERMOUTH} + {END} END) "
        f"WHEN {h(RIVER)} AND {h(POSS_OUTFLOW)} THEN "
        f"(CASE WHEN {h(SPRING)} THEN {m} - {POSS_OUTFLOW} "
        f"ELSE {m} - {POSS_OUTFLOW} + {SPRING} END) "
        f"ELSE {m} END"
    )


def node_output_columns(mask: str) -> dict[str, Column]:
    """O4 — datastorage.hpp:340-377: mask -> the nodes-table string columns."""
    def bs(b: int) -> Column:
        return F.expr(f"(CASE WHEN {_has_sql(mask, b)} THEN 'true' ELSE 'false' END)")

    return {
        "specific": F.expr(
            f"CASE WHEN {_has_sql(mask, RIVERMOUTH)} THEN 'rivermouth' "
            f"WHEN {_has_sql(mask, OUTFLOW)} THEN 'outflow' ELSE '' END"
        ),
        "direction_error": bs(DIRECTION),
        "name_error": bs(NAME),
        "type_error": bs(TYPE),
        "spring_error": bs(SPRING),
        "end_error": bs(END),
        "way_error": bs(WAY),
    }
