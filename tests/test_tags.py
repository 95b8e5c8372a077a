"""Table-driven unit tests for F1-F8 / P1-P5 / P8-P9 against hand-computed
expectations from /root/reference/src/tagcheck.hpp."""

from __future__ import annotations

import datetime as dt

from osmi_water_spark.functions import tags as TG


def _tags_df(spark, rows):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(rows)], "i int, tags map<string,string>"
    )


def _values(df, col):
    return [r.v for r in df.select("i", col.alias("v")).orderBy("i").collect()]


def _run(spark, rows, colfn):
    return _values(_tags_df(spark, rows), colfn("tags"))


def test_is_waterway_way(spark):
    rows = [
        {"waterway": "river"},
        {"waterway": "riverbank"},          # rejected (tagcheck.hpp:41-44)
        {"type": "multipolygon", "waterway": "river"},  # rejected (:37-39)
        {"natural": "coastline"},            # way-only accept (:53-58)
        {"natural": "water"},
        {},
        {"waterway": "xyz"},
    ]
    assert _run(spark, rows, lambda t: TG.is_waterway(t, False)) == [
        True, False, False, True, False, False, True,
    ]


def test_is_waterway_relation(spark):
    rows = [
        {"type": "waterway"},
        {"type": "waterway", "waterway": "riverbank"},  # riverbank check first
        {"natural": "coastline"},  # coastline NOT accepted for relations
        {"waterway": "canal"},
        {"type": "multipolygon"},
    ]
    assert _run(spark, rows, lambda t: TG.is_waterway(t, True)) == [
        True, False, False, True, False,
    ]


def test_waterpolygon_filter(spark):
    rows = [
        {"natural": "water"},
        {"waterway": "riverbank"},
        {"landuse": "reservoir"},
        {"landuse": "basin"},
        {"landuse": "farm"},
        {"natural": "wood"},
        {},
    ]
    assert _run(spark, rows, TG.waterpolygon_filter) == [
        True, True, True, True, False, False, False,
    ]


def test_is_way_to_analyse(spark):
    rows = [
        {"waterway": "anything"},
        {"natural": "coastline"},
        {"natural": "water"},
        {"landuse": "reservoir"},
        {"landuse": "basin"},
        {"landuse": "forest"},
        {},
    ]
    assert _run(spark, rows, TG.is_way_to_analyse) == [
        True, True, True, True, True, False, False,
    ]


def test_is_area_to_analyse(spark):
    rows = [
        {"natural": "water"},                      # True (no exclusion)
        {"waterway": "riverbank"},                 # excluded
        {"waterway": "river"},                     # excluded
        {"natural": "water", "water": "river"},    # excluded via water tag
        {"natural": "water", "water": "lake"},     # lake passes
        {"waterway": "lock"},                      # not in exclude list
        {},
    ]
    assert _run(spark, rows, TG.is_area_to_analyse) == [
        True, False, False, False, True, True, True,
    ]


def test_is_riverbank_or_coastline_and_water_area(spark):
    rows = [
        {"waterway": "riverbank"},
        {"natural": "coastline"},
        {"waterway": "river"},
        {},
    ]
    assert _run(spark, rows, TG.is_riverbank_or_coastline) == [True, True, False, False]
    rows2 = [{"natural": "water"}, {"landuse": "basin"}, {"waterway": "x"}, {"landuse": "farm"}]
    assert _run(spark, rows2, TG.is_water_area) == [True, True, True, False]


def test_get_way_type_and_category(spark):
    rows = [
        {"waterway": "river"},
        {"waterway": "weir"},       # -> "other"
        {"natural": "coastline"},   # -> "coastline"
        {},                          # -> ""
        {"waterway": "brook"},
    ]
    assert _run(spark, rows, TG.get_way_type) == ["river", "other", "coastline", "", "brook"]
    # P1 on an SQL expression argument, not just a column name
    assert _run(spark, rows, lambda t: TG.get_waterway_type(f"{t}['waterway']")) == [
        "river", "other", "", "", "brook",
    ]
    typed = _tags_df(spark, rows).select("i", TG.get_way_type("tags").alias("way_type"))
    assert _values(typed, TG.get_waterway_category("way_type")) == ["C", "?", "?", "?", "A"]


def test_get_polygon_type_quirk(spark):
    # tagcheck.hpp:166-175: waterway-tagged areas -> "" (the quirk);
    # landuse fallback only when no waterway type.
    rows = [
        {"natural": "coastline"},
        {"waterway": "riverbank"},                 # -> "" (!)
        {"natural": "water"},                      # -> "" (landuse default)
        {"landuse": "reservoir"},                  # -> "reservoir"
        {"waterway": "weir", "landuse": "basin"},  # waterway type "other" -> ""
        {},
    ]
    assert _run(spark, rows, TG.get_polygon_type) == [
        "coastline", "", "", "reservoir", "", "",
    ]


def test_width_tag_and_construction(spark):
    rows = [
        {"width": "3", "est_width": "9"},
        {"est_width": "9"},
        {},
        {"bridge": "yes"},
        {"tunnel": "culvert"},
        {"bridge": "no", "tunnel": "yes"},  # bridge key presence wins
    ]
    assert _run(spark, rows, TG.get_width_tag) == ["3", "9", None, None, None, None]
    assert _run(spark, rows, TG.get_construction) == ["", "", "", "bridge", "tunnel", "bridge"]


def test_format_lastchange(spark):
    df = spark.createDataFrame(
        [(dt.datetime(2015, 7, 6, 12, 34, 56),)], "ts timestamp"
    )
    assert (
        df.select(TG.format_lastchange("ts").alias("v")).first().v
        == "2015-07-06 12:34:56"
    )
