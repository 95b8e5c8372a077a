"""Stage E — J4 (interior-node trace) + J5 orchestration + E3: the
false-positive passes 3 and 4 of /root/reference/src/falsepositives.hpp,
re-expressed set-wise.

The reference mutates the error map sequentially; the outcome depends only
on each candidate's *hit count* in pass 3 and a containment *exists* in
pass 4, so both passes become joins:

pass 3 (way, :91-106): every F4-analysable way contributes its interior
nodes (ALL nodes for riverbank/coastline, F6) — with multiplicity, a node
appearing twice is checked twice. Per candidate with H hits
(delete_error_node state machine, :64-77):
  H=0                 -> unchanged
  H=1, poss_rivermouth -> rivermouth (stays for pass 4)
  H=1, poss_outflow    -> outflow    (stays for pass 4)
  H>=1, other error    -> reset to normal, emitted immediately
  H>=2, poss_*         -> second hit finds a non-poss mask -> normal, emitted

pass 4 (check_area, :116-144): candidates still held, contained in any
F5-indexed polygon part:
  poss_rivermouth -> rivermouth ; poss_outflow -> outflow ;
  anything else (including a pass-3 rivermouth/outflow!) -> normal, emitted
  — the reference's delete_error_node quirk, replicated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osmi_water_spark.functions import errors as E
from osmi_water_spark.functions import tags as TG
from osmi_water_spark.operators.spatial_join import pip_exists


def pass3_hits(ways: DataFrame) -> DataFrame:
    """(node_id, hits) over all analysable ways' checked nodes."""
    analysable = ways.filter(TG.is_way_to_analyse("tags"))
    checked = analysable.select(
        F.explode(
            F.when(TG.is_riverbank_or_coastline("tags"), F.col("node_ids")).otherwise(
                F.expr(
                    "CASE WHEN size(node_ids) > 2 "
                    "THEN slice(node_ids, 2, size(node_ids) - 2) "
                    "ELSE CAST(array() AS array<bigint>) END"
                )
            )
        ).alias("node_id")
    )
    return checked.groupBy("node_id").agg(F.count("*").alias("hits"))


def apply_pass3(candidates: DataFrame, ways: DataFrame) -> DataFrame:
    """candidates(node_id, mask) -> + mask3, emitted3 columns."""
    hits = pass3_hits(ways)
    c = candidates.join(hits, "node_id", "left").withColumn(
        "hits", F.expr("coalesce(hits, 0)")
    )
    # SQL text built from errors.py's bit test (one parse per expression)
    pr, po = E._has_sql("mask", E.POSS_RIVERMOUTH), E._has_sql("mask", E.POSS_OUTFLOW)
    is_poss = f"({pr} OR {po})"
    emitted3 = f"((hits >= 1 AND NOT {is_poss}) OR (hits >= 2 AND {is_poss}))"
    mask3 = (
        f"CASE WHEN {emitted3} THEN 0 "
        f"WHEN hits = 1 AND {pr} THEN {E.RIVERMOUTH} "
        f"WHEN hits = 1 AND {po} THEN {E.OUTFLOW} ELSE mask END"
    )
    return c.select(
        "node_id", "mask",
        F.expr(mask3).alias("mask3"), F.expr(emitted3).alias("emitted3"),
    )


def apply_pass4(
    after3: DataFrame, locations: DataFrame, polygon_parts: DataFrame, salt: int = 1,
) -> DataFrame:
    """Remaining candidates x polygon index -> + mask4, emitted4."""
    remaining = after3.filter(~F.col("emitted3"))
    pts = remaining.join(locations, "node_id", "inner").select(
        F.col("node_id").alias("point_id"), "lon", "lat"
    )
    contained = pip_exists(pts, polygon_parts, salt=salt).withColumnRenamed(
        "point_id", "node_id"
    ).withColumn("contained", F.lit(True))
    r = remaining.join(contained, "node_id", "left").withColumn(
        "contained", F.expr("coalesce(contained, false)")
    )
    # SQL text built from errors.py's bit test (one parse per expression)
    pr, po = E._has_sql("mask3", E.POSS_RIVERMOUTH), E._has_sql("mask3", E.POSS_OUTFLOW)
    mask4 = (
        f"CASE WHEN contained AND {pr} THEN {E.RIVERMOUTH} "
        f"WHEN contained AND {po} THEN {E.OUTFLOW} "
        "WHEN contained THEN 0 "  # incl. pass-3 rivermouth/outflow (quirk)
        "ELSE mask3 END"
    )
    emitted4 = f"(contained AND NOT {pr} AND NOT {po})"
    return r.select(
        "node_id", "mask3", F.expr(mask4).alias("mask4"), F.expr(emitted4).alias("emitted4"),
    )
