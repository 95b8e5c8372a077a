"""P6 width-parse matrix from /root/reference/src/datastorage.hpp:143-191."""

from __future__ import annotations

import math

import pytest

from osmi_water_spark.functions.width import width2string, with_width

CASES = [
    # (input, expected_width, expected_error)
    ("3", 3.0, False),
    ("3.5", 3.5, False),
    ("3,5", 3.5, True),            # comma fixed up + flagged (:151-155)
    ("5 km", 5000.0, False),
    ("5km", 5000.0, False),
    ("5 KM", 5000.0, False),       # strcasecmp
    ("2 mi", 2 * 1609.344, False),
    ("1 nmi", 1852.0, False),
    ("3 m", 3.0, False),
    ("12'", 12 * 12 * 0.0254, False),
    ('30"', 30 * 0.0254, False),
    ("6'7\"", (6 * 12 + 7) * 0.0254, False),
    ("6'x\"", -1.0, True),         # bad inches (:181-183)
    ("abc", -1.0, False),          # nothing parsed: width=-1, NO error (:160-161)
    ("", -1.0, False),
    ("5 meters", -1.0, True),      # unknown suffix (:185-188)
    ("3,5 km", 3500.0, True),
    ("  4.5", 4.5, False),
    ("-2", -2.0, False),
    (".5", 0.5, False),
    ("1e2", 100.0, False),
    (None, 0.0, False),            # null tag (:144-147)
    ("1,2,3", -1.0, True),         # only first comma replaced -> residue ",3"
    # whitespace-only residue enters the unit branch, matches no unit, and
    # falls to the else -> -1 + error (:162-187; strcasecmp("","m") != 0)
    ("5 ", -1.0, True),
    ("5\t", -1.0, True),
    ("  4.5 ", -1.0, True),
    (" 2.5\t ", -1.0, True),
    # a trailing newline is unit residue like any other C-locale space
    ("5\n", -1.0, True),
    ("5 km\n", -1.0, True),
    ("5\n\n", -1.0, True),
    ("6'7\"\n", -1.0, True),
    # C locale: no other space or digit counts — strtof consumes nothing
    ("\x1c5", -1.0, False),
    ("\xa05", -1.0, False),
    ("\u0663", -1.0, False),      # ARABIC-INDIC DIGIT THREE
    # strtof's other forms: hex floats (p exponent optional), inf, nan
    ("0x10", 16.0, False),
    ("0x1.8p1", 3.0, False),
    ("0x.8", 0.5, False),
    ("0x10 km", 16000.0, False),
    ("inf", math.inf, False),
    ("-Infinity", -math.inf, False),
    ("nan(12)", math.nan, False),
    ("0x", -1.0, True),            # strtof reads "0", residue "x"
    ("0x1p", -1.0, True),          # residue "p"
    ("infinit", -1.0, True),       # residue "init"
    ("in", -1.0, False),           # nothing parsed
    ("5 \u212am", -1.0, True),     # KELVIN SIGN: strcasecmp folds ASCII only
]


@pytest.fixture(scope="module")
def parsed(spark):
    """Every case through ``with_width`` in one Spark query, by row."""
    df = spark.createDataFrame(
        [(i, c[0]) for i, c in enumerate(CASES)], "i int, w string"
    )
    return with_width(df, "w").orderBy("i").collect()


@pytest.mark.parametrize("raw,w,err", CASES)
def test_parse_width_case(parsed, raw, w, err):
    row = parsed[CASES.index((raw, w, err))]
    got_w, got_e = float(row.width), bool(row.width_error)
    assert got_e == err, f"{raw!r}: error {got_e} != {err}"
    assert got_w == pytest.approx(w, rel=1e-6, nan_ok=True), f"{raw!r}: width {got_w} != {w}"


def test_parse_width_in_spark(spark, parsed):
    """``with_width`` keeps the input columns and rows and adds the
    reference's C types (float width, boolean error)."""
    df = spark.createDataFrame([], "i int, w string")
    assert with_width(df, "w").dtypes == [
        ("i", "int"), ("w", "string"), ("width", "float"), ("width_error", "boolean")
    ]
    assert [(r.i, r.w) for r in parsed] == [(i, c[0]) for i, c in enumerate(CASES)]


def test_parse_width_oracle_parity():
    """The sequential test oracle (plans/oracle.py) must share every quirk,
    including the trailing-whitespace one, or golden tests go blind."""
    from osmi_water_spark.plans.oracle import parse_width as oracle_parse

    for raw, w, err in CASES:
        ow, oe = oracle_parse(raw)
        assert oe == err, raw
        assert ow == pytest.approx(w, rel=1e-6, nan_ok=True), raw


def test_switch_poss_idempotent(spark):
    """errorsum.hpp:37-43 — set_end_error/set_spring_error add the bit only
    when it isn't already set; a mask carrying END (or SPRING) plus the poss
    bit only loses the poss bit."""
    from osmi_water_spark.functions import errors as E

    cases = [
        (E.RIVER + E.POSS_RIVERMOUTH + E.END, E.RIVER + E.END),
        (E.RIVER + E.POSS_OUTFLOW + E.SPRING, E.RIVER + E.SPRING),
        (E.RIVER + E.POSS_RIVERMOUTH, E.RIVER + E.END),
        (E.RIVER + E.POSS_OUTFLOW, E.RIVER + E.SPRING),
    ]
    df = spark.createDataFrame([(m,) for m, _ in cases], "m int")
    got = [r.v for r in df.select(E.switch_poss("m").alias("v")).collect()]
    assert got == [e for _, e in cases]


def test_width2string(spark):
    # datastorage.hpp:193-201 (dead code in the reference, parity anyway)
    cases = [
        (3.5, "3.5"), (0.5, "0.5"), (12.34, "12.3"), (0.04, "0.0"),
        (3.25, "3.3"),  # C round: half away from zero
    ]
    row = spark.range(1).select(
        *[width2string(f"{w!r}D").alias(f"w{i}") for i, (w, _) in enumerate(cases)]
    ).first()
    assert list(row) == [want for _, want in cases]
