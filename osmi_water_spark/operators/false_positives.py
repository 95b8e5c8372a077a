"""Stage E — J4 (interior-node trace) + J5 orchestration + E2/E3: the
false-positive passes 3 and 4 of the reference's src/falsepositives.hpp
and its finalize switch, re-expressed set-wise.

The reference mutates the error map sequentially; a node's outcome depends
only on its mask, its *hit count* in pass 3 and a containment *exists* in
pass 4, so both passes are joins over one mask column per endpoint node:
``error_mask`` -> ``apply_pass3`` (mask3) -> ``apply_pass4`` (final_mask).
Mask 0 means "emitted as a normal node" at every step: a mask-0 node (E4)
stays 0 under every rule below, and ``switch_poss(0) = 0``.

pass 3 (way, :91-106): every F4-analysable way contributes its interior
nodes (ALL nodes for riverbank/coastline, F6) — with multiplicity, a node
appearing twice is checked twice. Per node with H hits
(delete_error_node state machine, :64-77):
  H=0                 -> unchanged
  H=1, poss_rivermouth -> rivermouth (stays for pass 4)
  H=1, poss_outflow    -> outflow    (stays for pass 4)
  H>=1, other error    -> 0 (normal)
  H>=2, poss_*         -> second hit finds a non-poss mask -> 0 (normal)

pass 4 (check_area, :116-144): nodes still held (mask3 != 0), contained in
any F5-indexed polygon part:
  poss_rivermouth -> rivermouth ; poss_outflow -> outflow ;
  anything else (including a pass-3 rivermouth/outflow!) -> 0 (normal)
  — the reference's delete_error_node quirk, replicated.
Finalize (E2, errorsum.hpp:129-142): ``switch_poss`` over the pass-4 mask.
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


def apply_pass3(masks: DataFrame, ways: DataFrame) -> DataFrame:
    """masks(node_id, mask) -> (node_id, mask3) for every endpoint node.

    ``mask3 != 0`` exactly when the node is still held for pass 4: a
    candidate has ``mask != 0``, and a held node's mask3 is its own mask,
    RIVERMOUTH or OUTFLOW, all non-zero; a mask-0 node keeps 0."""
    hits = pass3_hits(ways)
    c = masks.join(hits, "node_id", "left").withColumn(
        "hits", F.expr("coalesce(hits, 0)")
    )
    # SQL text built from errors.py's bit test (one parse per expression)
    pr, po = E._has_sql("mask", E.POSS_RIVERMOUTH), E._has_sql("mask", E.POSS_OUTFLOW)
    is_poss = f"({pr} OR {po})"
    mask3 = (
        f"CASE WHEN (hits >= 1 AND NOT {is_poss}) OR (hits >= 2 AND {is_poss}) THEN 0 "
        f"WHEN hits = 1 AND {pr} THEN {E.RIVERMOUTH} "
        f"WHEN hits = 1 AND {po} THEN {E.OUTFLOW} ELSE mask END"
    )
    return c.select("node_id", F.expr(mask3).alias("mask3"))


def apply_pass4(
    after3: DataFrame, locations: DataFrame, polygon_parts: DataFrame, salt: int = 1,
) -> DataFrame:
    """after3(node_id, mask3) x polygon index -> (node_id, final_mask) for
    every row of ``after3``. Only held, located nodes are PIP-tested; the
    final mask is E2's ``switch_poss`` over the pass-4 mask."""
    pts = after3.filter(F.col("mask3") != 0).join(locations, "node_id", "inner").select(
        F.col("node_id").alias("point_id"), "lon", "lat"
    )
    contained = pip_exists(pts, polygon_parts, salt=salt).withColumnRenamed(
        "point_id", "node_id"
    ).withColumn("contained", F.lit(True))
    r = after3.join(contained, "node_id", "left").withColumn(
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
    return r.select("node_id", F.expr(mask4).alias("mask4")).select(
        "node_id", E.switch_poss("mask4").alias("final_mask")
    )
