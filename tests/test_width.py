"""P6 width-parse matrix from /root/reference/src/datastorage.hpp:143-191."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from osmi_water_spark.functions.width import parse_width_batch, width2string

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
]


@pytest.mark.parametrize("raw,w,err", CASES)
def test_parse_width_case(raw, w, err):
    out = parse_width_batch(pd.Series([raw]))
    got_w, got_e = float(out["width"][0]), bool(out["width_error"][0])
    assert got_e == err, f"{raw!r}: error {got_e} != {err}"
    assert got_w == pytest.approx(w, rel=1e-6), f"{raw!r}: width {got_w} != {w}"


def test_parse_width_batch_vectorized():
    s = pd.Series([c[0] for c in CASES])
    out = parse_width_batch(s)
    np.testing.assert_allclose(
        out["width"].to_numpy(), [c[1] for c in CASES], rtol=1e-6
    )
    assert list(out["width_error"]) == [c[2] for c in CASES]


def test_parse_width_in_spark(spark):
    from pyspark.sql import functions as F

    from osmi_water_spark.functions.width import width_struct

    df = spark.createDataFrame(
        [(i, c[0]) for i, c in enumerate(CASES)], "i int, w string"
    )
    rows = (
        df.select("i", width_struct(F.col("w")).alias("r"))
        .select("i", "r.width", "r.width_error")
        .orderBy("i")
        .collect()
    )
    for row, (raw, w, err) in zip(rows, CASES):
        assert bool(row.width_error) == err, raw
        assert float(row.width) == pytest.approx(w, rel=1e-6), raw


def test_parse_width_oracle_parity():
    """The sequential test oracle (plans/oracle.py) must share every quirk,
    including the trailing-whitespace one, or golden tests go blind."""
    from osmi_water_spark.plans.oracle import parse_width as oracle_parse

    for raw, w, err in CASES:
        ow, oe = oracle_parse(raw)
        assert oe == err, raw
        assert ow == pytest.approx(w, rel=1e-6), raw


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


def test_width2string():
    # datastorage.hpp:193-201 (dead code in the reference, parity anyway)
    assert width2string(3.5) == "3.5"
    assert width2string(0.5) == "0.5"
    assert width2string(12.34) == "12.3"
    assert width2string(0.04) == "0.0"
    assert width2string(3.25) == "3.3"  # C round: half away from zero
