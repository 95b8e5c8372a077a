"""Stage C — waterway assembly: J2 (relation members), G2/G3 (linestrings),
O2/O3 writers, E5 (degenerate-way errors), and the connectivity input.

Re-expresses /root/reference/src/waterway.hpp's RelationsManager protocol
as two declarative joins (SURVEY.md §3.2):

* accepted relations (F1)  ⋈  ways on member ref   -> member way rows
  (complete and incomplete relations handled uniformly — the reference
  emits whatever members it has, waterway.hpp:341-343 + :357-362)
* valid ways  ▷  member refs of accepted relations -> standalone rows
  (way_not_in_any_relation, waterway.hpp:348-352)

Reference quirks replicated exactly:
* member ways are written once **per relation membership** and remembered
  for connectivity each time (waterway.hpp:209 inside the relation loop);
* members need no waterway tag of their own (only type==way,
  waterway.hpp:324-326);
* ``contains_nowaterway_ways`` is set when a member HAS a waterway tag
  (inverted name, waterway.hpp:203-205) and only counts members whose
  geometry succeeded;
* degenerate ways (<2 distinct consecutive coords, the ``use_nodes::unique``
  rule of geos_factory.hpp:171-193) produce a way_error node at the way's
  raw first node instead of a way row (waterway.hpp:160-166).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from osmi_water_spark.functions import cells as C
from osmi_water_spark.functions import tags as TG
from osmi_water_spark.functions import wkb as W
from osmi_water_spark.functions.width import with_width

_LS_SCHEMA = T.StructType(
    [
        T.StructField("wkb", T.BinaryType(), True),
        T.StructField("ok", T.BooleanType(), False),
        T.StructField("minx", T.DoubleType(), True),
        T.StructField("miny", T.DoubleType(), True),
        T.StructField("maxx", T.DoubleType(), True),
        T.StructField("maxy", T.DoubleType(), True),
    ]
)


@F.arrow_udf(_LS_SCHEMA)
def _make_linestring(coords: pa.Array) -> pa.Array:
    """G2 — located coords -> LineString WKB + bbox. Consecutive duplicate
    coordinates deduped (use_nodes::unique); <2 remaining points -> ok=false
    (the reference's geometry_error path).

    Arrow-native (r6): the list<struct> column arrives as flat lon/lat
    buffers + offsets and the WKB bytes are assembled by vectorized
    scatter into one flat binary buffer (functions/wkb_vec.py) — the
    previous pandas UDF built a Python dict per COORDINATE and a numpy
    array + struct.pack per way. Byte-identical output (parity-pinned by
    tests/test_wkb_cells.py)."""
    from osmi_water_spark.functions import wkb_vec

    return wkb_vec.linestring_struct(coords)


# asNondeterministic (as dedup's signature UDFs): a filter on the struct's
# fields — build_areas' ``part_wkb IS NOT NULL``, whose SQL reads ``ls`` —
# is pushed below the projection, and the optimizer DUPLICATES a
# deterministic UDF under the pushed filter: the whole linestring pass
# would run twice. The function is pure; the flag only forbids the
# optimizer from re-evaluating or reordering it.
make_linestring = _make_linestring.asNondeterministic()


def accepted_relations(relations: DataFrame) -> DataFrame:
    """F1 relation gate (new_relation, waterway.hpp:319-322)."""
    return relations.filter(TG.is_waterway("tags", True))


def member_way_pairs(relations: DataFrame, ways_located: DataFrame) -> DataFrame:
    """J2 — accepted relations x their way members (inner join keeps exactly
    the members present, i.e. incomplete relations emit the matched subset)."""
    rels = accepted_relations(relations).select(
        F.col("id").alias("relation_id"),
        F.col("tags").alias("rel_tags"),
        F.col("ts").alias("rel_ts"),
        F.posexplode("members").alias("member_pos", "member"),
    ).filter(F.col("member.type") == "way")
    return rels.join(
        ways_located.withColumnRenamed("id", "member_way_id"),
        rels["member.ref"] == F.col("member_way_id"),
        "inner",
    )


def standalone_ways(relations: DataFrame, ways_located: DataFrame) -> DataFrame:
    """Valid ways not referenced by any accepted relation (anti-join).
    Referenced-but-invalid ways stay excluded even when the relation is
    incomplete (the RelationsManager keeps them out of
    way_not_in_any_relation regardless)."""
    refs = (
        accepted_relations(relations)
        .select(F.explode("members").alias("m"))
        .filter(F.col("m.type") == "way")
        .select(F.col("m.ref").alias("ref"))
        .distinct()
    )
    return (
        ways_located.filter(TG.is_waterway("tags", False))
        .join(refs, ways_located["id"] == refs["ref"], "left_anti")
    )


def build_way_rows(relations: DataFrame, ways_located: DataFrame) -> DataFrame:
    """All candidate way-feature rows: member rows once per membership +
    standalone rows with relation_id=0, each with its linestring (``ls``)
    and way type."""
    members = member_way_pairs(relations, ways_located).selectExpr(
        "member_way_id AS id",
        "node_ids",
        "tags",
        "ts",
        "coords",
        "relation_id",
        "member_pos",
    )
    singles = standalone_ways(relations, ways_located).selectExpr(
        "id", "node_ids", "tags", "ts", "coords",
        "CAST(0 AS BIGINT) AS relation_id",
        "0 AS member_pos",
    )
    return (
        members.unionByName(singles)
        .withColumn("ls", make_linestring("coords"))
        .withColumn("way_type", TG.get_way_type("tags"))
    )


def assemble_ways(way_rows: DataFrame, cell_res: int = C.DEFAULT_RES) -> dict[str, DataFrame]:
    """way rows (``build_way_rows``) -> {'ways': O3 table rows,
    'remembered': connectivity input, 'way_errors': E5 node-candidate rows,
    'geoms': per-membership geometry}. ``way_rows`` feeds all four, so the
    pipeline materializes it first."""
    ok = way_rows.filter(F.col("ls.ok"))
    ways_out = with_width(ok, TG.width_tag_sql("tags")).select(
        F.expr("id AS way_id"),
        F.expr("way_type AS type"),
        TG.name_or_empty("tags").alias("name"),
        F.expr("CAST(element_at(node_ids, 1) AS STRING) AS firstnode"),
        F.expr("CAST(element_at(node_ids, -1) AS STRING) AS lastnode"),
        "relation_id",
        F.expr("CAST(NULL AS STRING) AS width"),  # parsed, never written (quirk)
        TG.format_lastchange("ts").alias("lastchange"),
        TG.get_construction("tags").alias("construction"),
        F.expr("CASE WHEN width_error THEN 'true' ELSE 'false' END AS width_error"),
        F.expr("CAST(NULL AS STRING) AS tagging_error"),
        F.expr("ls.wkb AS geom_wkb"),
        C.bbox_cover_cells("ls.minx", "ls.miny", "ls.maxx", "ls.maxy", cell_res).alias("h3_cells"),
    )

    # remember_way (datastorage.hpp:203-210): raw first/last refs, '' name,
    # category from the way type — once per emitted way row (duplicates kept)
    remembered = ok.select(
        F.expr("element_at(node_ids, 1) AS first_node"),
        F.expr("element_at(node_ids, -1) AS last_node"),
        TG.name_or_empty("tags").alias("name"),
        TG.get_waterway_category("way_type").alias("category"),
    )

    # E5: degenerate geometry -> way_error at the raw first node
    way_errors = (
        way_rows.filter(~F.col("ls.ok"))
        .select(F.expr("element_at(node_ids, 1) AS node_id"))
        .filter(F.expr("node_id IS NOT NULL"))
    )

    geoms = ok.selectExpr(
        "relation_id", "id AS way_id", "member_pos",
        "ls.wkb AS wkb",
        "ls.minx AS minx", "ls.miny AS miny", "ls.maxx AS maxx", "ls.maxy AS maxy",
        "(tags['waterway'] IS NOT NULL) AS has_ww",
    )
    return {"ways": ways_out, "remembered": remembered, "way_errors": way_errors, "geoms": geoms}


def assemble_relations(
    relations: DataFrame, geoms: DataFrame, cell_res: int = C.DEFAULT_RES
) -> DataFrame:
    """O2 — one MultiLineString row per relation with >=1 successful member
    geometry; nowaterway_error quirk as in waterway.hpp:203-205. G3: the
    geometry is a *collection* of the member linestrings, not a noded union
    (waterway.hpp:236-237), so it is their WKB bytes behind a
    MultiLineString header, joined in SQL (wkb.multi_wkb_sql)."""
    # member order made explicit (collect_list alone is nondeterministic
    # under parallelism — SURVEY.md §7.4 determinism note)
    per_rel = (
        geoms.filter(F.col("relation_id") != 0)
        .groupBy("relation_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("member_pos", "wkb"))),
                lambda s: s["wkb"],
            ).alias("wkbs"),
            F.max(F.when(F.col("has_ww"), 1).otherwise(0)).alias("any_ww"),
            # MultiLineString bbox = min/max over member linestring bboxes
            # (identical doubles — min/max is associative): feeds the JVM
            # cell cover below instead of a per-row Python WKB re-parse
            F.min("minx").alias("minx"), F.min("miny").alias("miny"),
            F.max("maxx").alias("maxx"), F.max("maxy").alias("maxy"),
        )
    )
    rels = accepted_relations(relations).select(
        F.col("id").alias("relation_id"), "tags", "ts"
    )
    joined = per_rel.join(rels, "relation_id", "inner")
    out = joined.select(
        "relation_id",
        TG.get_way_type("tags").alias("type"),
        TG.name_or_empty("tags").alias("name"),
        TG.format_lastchange("ts").alias("lastchange"),
        F.when(F.col("any_ww") == 1, "true").otherwise("false").alias("nowaterway_error"),
        F.lit(None).cast("string").alias("tagging_error"),
        F.expr(W.multi_wkb_sql(W.MULTILINESTRING, "wkbs")).alias("geom_wkb"),
        C.bbox_cover_cells("minx", "miny", "maxx", "maxy", cell_res).alias("h3_cells"),
    )
    return out


# (the per-row Python _wkb_cover_cells decoration was replaced in round 6
# by bbox columns carried out of geometry assembly + the JVM
# functions/cells.bbox_cover_cells expression — same clamp semantics for
# coordinates >= -180/-90 and the same iy-outer/ix-inner cell order)
