"""P6/P7 — width-tag parsing with unit conversion, as Spark SQL text.

Matches /root/reference/src/datastorage.hpp:143-201 semantically, including
its quirks:

* a ',' decimal separator is fixed up (first comma -> '.') but flags
  ``width_error`` (datastorage.hpp:151-155);
* a completely unparseable string yields width = -1 and **no** error flag
  (datastorage.hpp:160-161 sets width only — the error flag is untouched);
* unit suffixes (after optional whitespace): m (case-insensitive, no-op),
  km (x1000), mi (x1609.344), nmi (x1852), a lone ' (feet), a lone " (inch),
  and the X'Y" feet-inches combo; any other residue -> width=-1 + error;
* the reference computes in C ``float`` (32-bit) with the C promotion rules:
  int-literal factors multiply in FLOAT, double-literal ones in DOUBLE and
  narrow back (the float value is internal only — the reference never
  writes the width column, quirk SURVEY.md §7.6.2).

``strtof`` and ``isspace`` run in the C locale, so whitespace is exactly
``[ \\t\\n\\v\\f\\r]`` and digits are ``[0-9]``: a tag ending in a newline
keeps its newline in the unit residue (-1 + error), and non-ASCII spaces or
digits parse nothing (-1, no error). ``strtof`` also reads hex floats
(``0x1.8p1``, the ``p`` exponent optional), ``inf``/``infinity`` and
``nan``/``nan(chars)``; ``strcasecmp`` folds ASCII letters only, so a
non-ASCII residue is never a unit.

Null input -> (0.0, false) (datastorage.hpp:144-147).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osmi_water_spark.functions.tags import sql_str

_WS = r"[ \t\n\x0B\f\r]"
_HEX = r"[0-9a-fA-F]"
# strtof prefix: optional whitespace, optional sign, then a hex float
# (digits with optional point, optional binary exponent), a decimal (digits
# with optional point, or a leading point, optional exponent), or inf,
# infinity, nan, nan(chars) in any ASCII case.
_NUM = (
    rf"{_WS}*[+-]?(?:0[xX](?:{_HEX}+\.?{_HEX}*|\.{_HEX}+)(?:[pP][+-]?[0-9]+)?"
    r"|(?:[0-9]+\.?[0-9]*|\.[0-9]+)(?:[eE][+-]?[0-9]+)?"
    r"|(?i:inf(?:inity)?|nan(?:\([0-9A-Za-z_]*\))?))"
)
# group 1 the number, group 3 the unit residue after whitespace
SPLIT_RE = rf"^({_NUM})({_WS}*)((?s).*)\z"
# X'Y" residue: the inches are a second strtof
_INCH_RE = rf"^'({_NUM})\"\z"

_FEET, _INCH = sql_str("'"), sql_str('"')
_TMP = ["_wtag", "_wfix", "_wnum", "_wres", "_wn", "_winch", "_wunit"]


def _strtod_sql(col: str) -> str:
    """The double value of ``col``, a ``_NUM`` match. Spark's cast reads
    decimals, inf/infinity and hex floats with a ``p`` exponent; NaN's
    other spellings and a hex float without an exponent need rewriting,
    which only the rows the cast rejects pay for."""
    return (
        f"coalesce(try_cast({col} AS DOUBLE), "
        f"CASE WHEN contains(lower({col}), 'nan') THEN CAST('NaN' AS DOUBLE) "
        f"ELSE CAST(concat({col}, 'p0') AS DOUBLE) END)"
    )


def with_width(df: DataFrame, tag_sql: str) -> DataFrame:
    """``df`` plus ``width float`` and ``width_error boolean`` parsed from
    the SQL expression ``tag_sql``.

    Each step is its own projection: Catalyst does not collapse a
    projection whose regex result the next one reads more than once, so
    every regex runs once per row (one ``F.expr`` would repeat the shared
    split in every CASE branch that reads it)."""
    fixed = df.withColumn("_wtag", F.expr(tag_sql)).withColumn(
        "_wfix", F.expr(f"regexp_replace(_wtag, {sql_str('^([^,]*),')}, '$1.')")
    )
    split = fixed.withColumns({
        "_wnum": F.expr(f"regexp_extract(_wfix, {sql_str(SPLIT_RE)}, 1)"),
        "_wres": F.expr(f"regexp_extract(_wfix, {sql_str(SPLIT_RE)}, 3)"),
    })
    unit = split.withColumns({
        "_wn": F.expr(f"CASE WHEN _wnum <> '' THEN CAST({_strtod_sql('_wnum')} AS FLOAT) END"),
        "_winch": F.expr(f"regexp_extract(_wres, {sql_str(_INCH_RE)}, 1)"),
        # strcasecmp folds ASCII only: a residue with any non-ASCII
        # character stays as is, so it never equals a unit
        "_wunit": F.expr("IF(octet_length(_wres) = length(_wres), lower(_wres), _wres)"),
    })
    # a unit the reference accepts; an empty residue (nothing after the
    # number, not even whitespace) keeps the number as is
    known = (
        "length(_wnum) = length(_wfix) OR _wunit IN ('m', 'km', 'mi', 'nmi') "
        f"OR _wres IN ({_FEET}, {_INCH}) OR _winch <> ''"
    )
    return unit.withColumns({
        "width": F.expr(
            "CASE WHEN _wtag IS NULL THEN CAST(0 AS FLOAT) "
            "WHEN _wnum = '' THEN CAST(-1 AS FLOAT) "
            "WHEN length(_wnum) = length(_wfix) OR _wunit = 'm' THEN _wn "
            "WHEN _wunit = 'km' THEN _wn * CAST(1000 AS FLOAT) "
            "WHEN _wunit = 'mi' THEN CAST(CAST(_wn AS DOUBLE) * 1609.344D AS FLOAT) "
            "WHEN _wunit = 'nmi' THEN _wn * CAST(1852 AS FLOAT) "
            f"WHEN _wres = {_FEET} THEN CAST(CAST(_wn AS DOUBLE) * 12.0D * 0.0254D AS FLOAT) "
            f"WHEN _wres = {_INCH} THEN CAST(CAST(_wn AS DOUBLE) * 0.0254D AS FLOAT) "
            "WHEN _winch <> '' THEN "
            f"CAST((CAST(_wn AS DOUBLE) * 12 + {_strtod_sql('_winch')}) * 0.0254D AS FLOAT) "
            "ELSE CAST(-1 AS FLOAT) END"
        ),
        "width_error": F.expr(
            "CASE WHEN _wtag IS NULL THEN false "
            f"WHEN _wnum = '' OR {known} THEN instr(_wtag, ',') > 0 "
            "ELSE true END"
        ),
    }).drop(*_TMP)


def width2string(width: str) -> Column:
    """P7 — datastorage.hpp:193-201. Dead code in the reference (width is
    never written) but kept for parity: round(w*10) half away from zero
    (C ``round``; Spark's ``round`` is HALF_UP), zero-pad to 2 digits,
    re-insert the decimal point before the last digit. ``width``: SQL text."""
    r = f"cast(cast(round(cast(({width}) as double) * 10) as long) as string)"
    return F.expr(f"regexp_replace(lpad({r}, greatest(length({r}), 2), '0'), '(.)$', '.$1')")
