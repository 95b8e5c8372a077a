"""Driver-contract queries: every SURVEY.md §2 operator exercised over the
driver's testdata tables, each paired with an ANSI-SQL oracle that DuckDB
runs on the same parquet (CORRECTNESS gate).

Scheme: geo inputs are *derived deterministically* from the TPC-H-ish keys
(same integer/double arithmetic on both engines — identical expression
shape means identical IEEE results), so the Spark implementation under
test is the engine's real operator (map-typed tags, cell joins, pandas-UDF
refine, window top-k) while the oracle re-states the expected semantics
independently in SQL. Boundary offsets (0.05 vs 0.025 grids) keep points
off polygon edges and cell/tile boundaries so FP rounding can't flip a
containment or a floor().
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osmi_water_spark.functions import cells as C
from osmi_water_spark.functions import errors as E
from osmi_water_spark.functions import tags as TG
from osmi_water_spark.functions.width import with_width
from osmi_water_spark.parallel import spread_input


def _layer_counts(base: DataFrame, layers: list[tuple[str, str]]) -> DataFrame:
    """(layer, n) counts over ``base`` in ONE pass: conditional aggregation
    + stack unpivot. Replaces the previous cache + per-layer filter->agg
    union shape, which ran one scan of the cached base PER layer (and paid
    the columnar cache build). count(CASE WHEN cond) per layer is
    row-identical to count(*) of filter(cond); the single Aggregate keeps
    map-side partial aggregation, so a 100-TB base is read once and only
    len(layers) counters cross the exchange (guide §2.3/§2.4)."""
    aggs = [
        F.count(F.when(F.expr(cond), F.lit(1))).alias(f"_c{i}")
        for i, (_, cond) in enumerate(layers)
    ]
    stacked = ", ".join(f"'{name}', _c{i}" for i, (name, _) in enumerate(layers))
    return base.agg(*aggs).select(
        F.expr(f"stack({len(layers)}, {stacked}) AS (layer, n)")
    )

# ---------------- shared derivations ----------------

WIDTH_LIST = ['3', '3,5', '5 km', '2 mi', '6\'7"', 'abc', '', '30"', '1 nmi',
              '4.2', '0,8 m', "12'", '7 m', None]
# float32-exact expected values (computed once from the reference-parity parser)
WIDTH_EXPECT = [
    (3.0, False), (3.5, True), (5000.0, False), (3218.68798828125, False),
    (2.0065999031066895, False), (-1.0, False), (-1.0, False),
    (0.7620000243186951, False), (1852.0, False), (4.199999809265137, False),
    (0.800000011920929, True), (3.657599925994873, False), (7.0, False),
    (0.0, False),
]

# p6-only extended matrix: adds the trailing-whitespace quirk (residue that
# is pure whitespace enters the unit branch, matches no unit -> -1 + error,
# datastorage.hpp:160-187) without disturbing the k%14 scheme shared with
# the map-layer / projection oracles.
WIDTH_LIST_P6 = WIDTH_LIST[:13] + ["5 ", " 2.5\t ", None]
WIDTH_EXPECT_P6 = WIDTH_EXPECT[:13] + [(-1.0, True), (-1.0, True), (0.0, False)]

WW_VALUES = ["river", "stream", "drain", "brook", "canal", "ditch", "riverbank", "weir"]


def _tags_from_key(k):
    """Spark: key -> map<string,string> with deterministic OSM-ish tags."""
    ww = F.when(k % 9 < 8, F.element_at(F.array(*[F.lit(v) for v in WW_VALUES]), (k % 9 + 1).cast("int")))
    natural = F.when(k % 7 == 0, F.lit("coastline")).when(k % 7 == 1, F.lit("water"))
    landuse = (
        F.when(k % 11 == 0, F.lit("reservoir")).when(k % 11 == 1, F.lit("basin"))
        .when(k % 11 == 2, F.lit("farm"))
    )
    water = F.when(k % 23 == 0, F.lit("river")).when(k % 23 == 1, F.lit("lake"))
    name = F.when(k % 5 == 0, F.lit(None).cast("string")).otherwise(
        F.concat(F.lit("N"), (k % 50).cast("string"))
    )
    width = F.element_at(
        F.array(*[F.lit(w).cast("string") for w in WIDTH_LIST]), (k % 14 + 1).cast("int")
    )
    est_width = F.when(k % 3 == 0, F.lit("7"))
    bridge = F.when(k % 17 == 0, F.lit("yes"))
    tunnel = F.when(k % 19 == 0, F.lit("culvert"))
    # plain create_map, no null-dropping map_filter: every consumer reads
    # tags via getItem (tags.py is getItem-only), for which a missing key
    # and a null value are indistinguishable — and map_filter is a
    # higher-order lambda that falls out of whole-stage codegen into
    # interpreted eval (measured 2.05 s -> 1.30 s for the flags projection
    # over sf1.0 orders on local[32], guide §4.1 "prefer built-ins").
    return F.create_map(
        F.lit("waterway"), ww, F.lit("natural"), natural, F.lit("landuse"), landuse,
        F.lit("water"), water, F.lit("name"), name, F.lit("width"), width,
        F.lit("est_width"), est_width, F.lit("bridge"), bridge, F.lit("tunnel"), tunnel,
    )


# same tag values as SQL snippets (oracle side)
SQL_WW = "CASE WHEN k%9<8 THEN (['river','stream','drain','brook','canal','ditch','riverbank','weir'])[k%9+1] END"
SQL_NATURAL = "CASE WHEN k%7=0 THEN 'coastline' WHEN k%7=1 THEN 'water' END"
SQL_LANDUSE = "CASE WHEN k%11=0 THEN 'reservoir' WHEN k%11=1 THEN 'basin' WHEN k%11=2 THEN 'farm' END"
SQL_WATER = "CASE WHEN k%23=0 THEN 'river' WHEN k%23=1 THEN 'lake' END"
SQL_NAME = "CASE WHEN k%5=0 THEN NULL ELSE 'N' || CAST(k%50 AS VARCHAR) END"
SQL_BRIDGE = "CASE WHEN k%17=0 THEN 'yes' END"
SQL_TUNNEL = "CASE WHEN k%19=0 THEN 'culvert' END"

SQL_TAGS_CTE = f"""
tags AS (
  SELECT k,
         {SQL_WW} AS ww,
         {SQL_NATURAL} AS natural_t,
         {SQL_LANDUSE} AS landuse,
         {SQL_WATER} AS water,
         {SQL_NAME} AS name,
         {SQL_BRIDGE} AS bridge,
         {SQL_TUNNEL} AS tunnel
  FROM (SELECT o_orderkey AS k FROM orders)
)
"""

# reference predicate semantics restated in SQL (independent formulation)
SQL_IS_WW_WAY = (
    "CASE WHEN ww = 'riverbank' THEN FALSE "
    "WHEN ww IS NOT NULL THEN TRUE "
    "WHEN natural_t = 'coastline' THEN TRUE ELSE FALSE END"
)
SQL_WAY_TYPE = (
    "CASE WHEN ww IS NULL THEN (CASE WHEN natural_t='coastline' THEN 'coastline' ELSE '' END) "
    "WHEN ww IN ('river','stream','drain','brook','canal','ditch','riverbank') THEN ww "
    "ELSE 'other' END"
)
SQL_POLY_TYPE = (
    "CASE WHEN natural_t = 'coastline' THEN 'coastline' "
    "WHEN ww IS NULL THEN coalesce(landuse, '') "
    "ELSE '' END"
)
SQL_CATEGORY = (
    "CASE WHEN way_type IN ('drain','brook','ditch') THEN 'A' "
    "WHEN way_type = 'stream' THEN 'B' WHEN way_type = 'river' THEN 'C' ELSE '?' END"
)

Z_TILE = 6
RES_CELL = 7


def _ways_geo(spark: SparkSession, sf_dir: str, ncust: int):
    """Spark: the derived ways table (id, node_ids, tags). The orders file
    scans as 1-2 partitions (2 row groups), which would serialize the heavy
    tag/width derivation + downstream explodes onto 1-2 cores —
    spread_input widens it (no-op at scale, see parallel.py)."""
    orders = spread_input(spark.read.parquet(f"{sf_dir}/orders.parquet"))
    k = F.col("o_orderkey")
    nlen = (k % 4 + 3).cast("int")
    node_ids = F.transform(
        F.sequence(F.lit(0), nlen - 1), lambda i: (k * 13 + i * 7) % ncust
    )
    return orders.select(
        k.alias("id"),
        node_ids.alias("node_ids"),
        _tags_from_key(k).alias("tags"),
    )


def _nodes_geo(spark: SparkSession, sf_dir: str):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    c = F.col("c_custkey")
    # coprime multipliers spread any key range across the full grid, so the
    # derivation overlaps the polygon grid at every scale factor
    return cust.select(
        c.alias("node_id"),
        (((c * 97) % 3500) / 10.0 - 174.95).alias("lon"),
        (((c * 211) % 1600) / 10.0 - 79.95).alias("lat"),
    )


SQL_NODES_GEO = """
nodes_geo AS (
  SELECT c_custkey AS node_id,
         ((c_custkey * 97) % 3500) / 10.0 - 174.95 AS lon,
         ((c_custkey * 211) % 1600) / 10.0 - 79.95 AS lat
  FROM customer
)
"""


def _ncust(spark: SparkSession, sf_dir: str) -> int:
    return spark.read.parquet(f"{sf_dir}/customer.parquet").count()


# ---------------- tag/scalar queries ----------------


def q_f1_is_waterway_way(spark, sf_dir):
    df = _ways_geo(spark, sf_dir, _ncust(spark, sf_dir))
    return df.select(
        F.col("id").alias("way_id"),
        TG.is_waterway("tags", False).alias("is_ww"),
    )


SQL_F1_WAY = f"""
WITH {SQL_TAGS_CTE.strip()}
SELECT k AS way_id, {SQL_IS_WW_WAY} AS is_ww FROM tags
"""


def q_f1_is_waterway_relation(spark, sf_dir):
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    k = F.col("s_suppkey")
    typ = F.when(k % 4 == 0, F.lit("waterway")).when(k % 4 == 1, F.lit("multipolygon"))
    ww = F.when(k % 6 == 0, F.lit("river")).when(k % 6 == 1, F.lit("riverbank"))
    # no map_filter: getItem-only consumers, see _tags_from_key
    m = F.create_map(F.lit("type"), typ, F.lit("waterway"), ww)
    rels = sup.select(k.alias("relation_id"), m.alias("tags"))
    return rels.select("relation_id", TG.is_waterway("tags", True).alias("is_ww"))


SQL_F1_REL = """
SELECT s_suppkey AS relation_id,
  CASE WHEN s_suppkey%4=1 THEN FALSE  -- type=multipolygon
       WHEN s_suppkey%6=1 THEN FALSE  -- waterway=riverbank
       WHEN s_suppkey%4=0 THEN TRUE   -- type=waterway
       WHEN s_suppkey%6=0 THEN TRUE   -- any waterway
       ELSE FALSE END AS is_ww
FROM supplier
"""


def q_f_flags(spark, sf_dir):
    df = _ways_geo(spark, sf_dir, _ncust(spark, sf_dir))
    t = "tags"
    return df.select(
        F.col("id").alias("way_id"),
        TG.is_way_to_analyse(t).alias("to_analyse"),
        TG.is_area_to_analyse(t).alias("area_analyse"),
        TG.is_riverbank_or_coastline(t).alias("rb_or_coast"),
        TG.is_water_area(t).alias("water_area"),
        TG.waterpolygon_filter(t).alias("poly_filter"),
        TG.has_waterway_tag(t).alias("has_ww"),
    )


SQL_F_FLAGS = f"""
WITH {SQL_TAGS_CTE.strip()}
SELECT k AS way_id,
  coalesce(ww IS NOT NULL OR natural_t IN ('coastline','water')
     OR landuse IN ('reservoir','basin'), FALSE) AS to_analyse,
  (coalesce(ww NOT IN ('river','drain','stream','canal','ditch','riverbank'), TRUE)
     AND coalesce(water NOT IN ('river','drain','stream','canal','ditch','riverbank'), TRUE)) AS area_analyse,
  coalesce(ww = 'riverbank' OR natural_t = 'coastline', FALSE) AS rb_or_coast,
  coalesce(natural_t = 'water' OR landuse IN ('reservoir','basin') OR ww IS NOT NULL, FALSE) AS water_area,
  coalesce(natural_t = 'water' OR ww IS NOT NULL OR landuse IN ('reservoir','basin'), FALSE) AS poly_filter,
  (ww IS NOT NULL) AS has_ww
FROM tags
"""


def q_p_projections(spark, sf_dir):
    df = _ways_geo(spark, sf_dir, _ncust(spark, sf_dir))
    t = "tags"
    typed = df.select(F.col("id").alias("way_id"), TG.get_way_type(t).alias("way_type"), t)
    return typed.select(
        "way_id",
        "way_type",
        TG.get_polygon_type(t).alias("polygon_type"),
        TG.get_waterway_category("way_type").alias("category"),
        TG.get_construction(t).alias("construction"),
        TG.name_or_empty(t).alias("name"),
        TG.get_width_tag(t).alias("width_tag"),
    )


SQL_P_PROJECTIONS = f"""
WITH {SQL_TAGS_CTE.strip()},
typed AS (
  SELECT k, ww, natural_t, landuse, name, bridge, tunnel, {SQL_WAY_TYPE} AS way_type,
         {SQL_POLY_TYPE} AS polygon_type
  FROM tags)
SELECT k AS way_id, way_type, polygon_type,
  {SQL_CATEGORY} AS category,
  CASE WHEN bridge IS NOT NULL THEN 'bridge' WHEN tunnel IS NOT NULL THEN 'tunnel' ELSE '' END AS construction,
  coalesce(name, '') AS name,
  coalesce(CASE WHEN k%14 <= 12 THEN (['3','3,5','5 km','2 mi','6''7"','abc','','30"','1 nmi','4.2','0,8 m','12''','7 m'])[k%14+1] END,
           CASE WHEN k%3=0 THEN '7' END) AS width_tag
FROM typed
"""


def q_p6_width(spark, sf_dir):
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    arr = ", ".join("NULL" if w is None else TG.sql_str(w) for w in WIDTH_LIST_P6)
    raw = f"element_at(array({arr}), CAST(part_id % {len(WIDTH_LIST_P6)} + 1 AS INT))"
    return with_width(part.select(F.col("p_partkey").alias("part_id")), raw).select(
        "part_id", F.col("width").cast("double").alias("width"), "width_error"
    )


def _sql_width_cases() -> str:
    nw = len(WIDTH_EXPECT_P6)
    whens = []
    for i, (wv, we) in enumerate(WIDTH_EXPECT_P6):
        whens.append(f"WHEN {i} THEN CAST({wv!r} AS DOUBLE)")
    werr = [
        f"WHEN {i} THEN {'TRUE' if we else 'FALSE'}"
        for i, (_, we) in enumerate(WIDTH_EXPECT_P6)
    ]
    return f"""
SELECT p_partkey AS part_id,
  CAST(CAST(CASE p_partkey%{nw} {' '.join(whens)} END AS REAL) AS DOUBLE) AS width,
  CASE p_partkey%{nw} {' '.join(werr)} END AS width_error
FROM part
"""


SQL_P6_WIDTH = _sql_width_cases()


def q_p8_lastchange(spark, sf_dir):
    # the DuckDB oracle formats naive-UTC timestamps; pin the session TZ so
    # the comparison is well-defined regardless of the caller's session
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.select(
        F.col("event_id"), TG.format_lastchange("ts").alias("lastchange")
    )


SQL_P8 = "SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS lastchange FROM events"


# ---------------- core relational / spatial queries ----------------


def q_j1_locate(spark, sf_dir):
    """J1 — explode+equi-join node location resolution.

    The member refs are generated with posexplode(sequence) + plain
    arithmetic instead of exploding _ways_geo's transform(sequence) array:
    F.transform is a higher-order lambda that drops the whole projection
    out of codegen into interpreted eval (guide §4.1), measured 2.2 s ->
    1.1 s at sf1.0 for the row-identical plan (verified exceptAll both
    ways = 0)."""
    nc = _ncust(spark, sf_dir)
    orders = spread_input(spark.read.parquet(f"{sf_dir}/orders.parquet"))
    k = F.col("o_orderkey")
    nodes = _nodes_geo(spark, sf_dir)
    ex = orders.select(
        k.alias("way_id"),
        F.posexplode(F.sequence(F.lit(0), (k % 4 + 3).cast("int") - 1)).alias("pos", "i"),
    ).select(
        "way_id", "pos",
        ((F.col("way_id") * 13 + F.col("i") * 7) % nc).alias("node_id"),
    )
    return ex.join(nodes, "node_id", "inner").select("way_id", "pos", "node_id", "lon", "lat")


SQL_J1 = f"""
WITH {SQL_NODES_GEO.strip()}
SELECT o_orderkey AS way_id, CAST(i AS INT) AS pos,
       (o_orderkey*13 + i*7) % (SELECT count(*) FROM customer) AS node_id,
       n.lon, n.lat
FROM orders, range(0, 7) t(i), nodes_geo n
WHERE i < o_orderkey % 4 + 3
  AND n.node_id = (o_orderkey*13 + i*7) % (SELECT count(*) FROM customer)
"""


def _remembered_geo(spark, sf_dir, nc):
    """The connectivity input derived from orders (way endpoints).
    Deliberately NOT spread_input-widened: the derivation is cheap
    arithmetic and the downstream groupBy's partial aggregation emits one
    partial row per (map partition, node id) — widening the map side from
    2 to 32 partitions multiplied the partial-agg exchange ~16x and
    measured 1.2 s -> 1.7 s at sf1.0."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    k = F.col("o_orderkey")
    return orders.select(
        ((k * 13) % nc).alias("first_node"),
        ((k * 17) % nc).alias("last_node"),
        F.when(k % 5 == 0, F.lit("")).otherwise(
            F.concat(F.lit("N"), (k % 50).cast("string"))
        ).alias("name"),
        F.element_at(F.array(F.lit("A"), F.lit("B"), F.lit("C"), F.lit("?")), (k % 4 + 1).cast("int")).alias("category"),
    )


def q_j3_connectivity(spark, sf_dir):
    """J3/A1-A5 — the heart of the reference: per-node counts + error mask."""
    from osmi_water_spark.operators.connectivity import error_mask, node_stats

    rem = _remembered_geo(spark, sf_dir, _ncust(spark, sf_dir))
    stats = node_stats(rem)
    masks = error_mask(stats)
    return stats.join(masks, "node_id").select(
        "node_id", "count_first", "count_last", "mask"
    )


SQL_J3 = """
WITH w AS (
  SELECT (o_orderkey*13) % (SELECT count(*) FROM customer) AS first_node,
         (o_orderkey*17) % (SELECT count(*) FROM customer) AS last_node,
         CASE WHEN o_orderkey%5=0 THEN '' ELSE 'N' || CAST(o_orderkey%50 AS VARCHAR) END AS name,
         (['A','B','C','?'])[o_orderkey%4+1] AS category
  FROM orders),
entries AS (
  SELECT first_node AS node_id, first_node, last_node, name, category FROM w
  UNION ALL
  SELECT last_node AS node_id, first_node, last_node, name, category FROM w),
scored AS (
  SELECT node_id,
         CASE WHEN node_id = first_node THEN 1 ELSE 0 END AS cf,
         CASE WHEN node_id = last_node THEN 1 ELSE 0 END AS cl,
         name, category
  FROM entries),
agg AS (
  SELECT node_id, sum(cf) AS count_first, sum(cl) AS count_last,
         sum(cf) + sum(cl) AS n_names,
         count(DISTINCT name) AS ndn,
         max(CASE WHEN cl = 1 THEN category END) AS max_in,
         max(CASE WHEN cf = 1 THEN category END) AS max_out
  FROM scored GROUP BY node_id)
SELECT node_id, CAST(count_first AS BIGINT) AS count_first,
  CAST(count_last AS BIGINT) AS count_last,
  CASE WHEN count_last = 1 AND count_first = 0 AND max_in = 'C' THEN 1152
       WHEN count_last = 1 AND count_first = 0 AND max_in = 'B' THEN 640
       WHEN count_first = 1 AND count_last = 0 AND max_out = 'C' THEN 1280
       WHEN count_first = 1 AND count_last = 0 AND max_out = 'B' THEN 768
       ELSE (CASE WHEN abs(count_first - count_last) > 1
                   AND (count_first = 0 OR count_last = 0) THEN 1 ELSE 0 END)
          + (CASE WHEN n_names = 2 AND ndn > 1 THEN 2 ELSE 0 END)
          + (CASE WHEN count_first > 0 AND count_last > 0 AND max_in = 'C'
                   AND max_out < 'C' AND max_out <> '?' THEN 4 ELSE 0 END)
  END AS mask
FROM agg
"""


def q_e2_finalize(spark, sf_dir):
    """E1/E2/O4 — switch_poss + node output columns on synthetic masks."""
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    mask = (F.col("p_partkey") % 4096).alias("mask")
    df = part.select(F.col("p_partkey").alias("id"), mask)
    final = E.switch_poss("mask").alias("final_mask")
    out = df.select("id", "mask", final)
    cols = E.node_output_columns("final_mask")
    return out.select("id", "mask", "final_mask", *[v.alias(k) for k, v in cols.items()])


SQL_E2 = """
WITH m AS (SELECT p_partkey AS id, p_partkey % 4096 AS mask FROM part),
f AS (
  SELECT id, mask,
    CASE WHEN (mask & 1024) <> 0 AND (mask & 128) <> 0
           THEN mask - 128 + (CASE WHEN (mask & 16) <> 0 THEN 0 ELSE 16 END)
         WHEN (mask & 1024) <> 0 AND (mask & 256) <> 0
           THEN mask - 256 + (CASE WHEN (mask & 8) <> 0 THEN 0 ELSE 8 END)
         ELSE mask END AS final_mask
  FROM m)
SELECT id, mask, final_mask,
  CASE WHEN (final_mask & 32) <> 0 THEN 'rivermouth'
       WHEN (final_mask & 64) <> 0 THEN 'outflow' ELSE '' END AS specific,
  CASE WHEN (final_mask & 1) <> 0 THEN 'true' ELSE 'false' END AS direction_error,
  CASE WHEN (final_mask & 2) <> 0 THEN 'true' ELSE 'false' END AS name_error,
  CASE WHEN (final_mask & 4) <> 0 THEN 'true' ELSE 'false' END AS type_error,
  CASE WHEN (final_mask & 8) <> 0 THEN 'true' ELSE 'false' END AS spring_error,
  CASE WHEN (final_mask & 16) <> 0 THEN 'true' ELSE 'false' END AS end_error,
  CASE WHEN (final_mask & 2048) <> 0 THEN 'true' ELSE 'false' END AS way_error
FROM f
"""


def q_j4_hits(spark, sf_dir):
    """J4 — pass-3 interior-node hit counting over derived analysable ways."""
    from osmi_water_spark.operators.false_positives import pass3_hits

    ways = _ways_geo(spark, sf_dir, _ncust(spark, sf_dir))
    return pass3_hits(ways.select("id", "node_ids", "tags"))


SQL_J4 = """
WITH raw AS (
  SELECT o_orderkey AS k, o_orderkey % 4 + 3 AS nlen FROM orders),
flags AS (
  SELECT k, nlen,
    (k%9 < 8 OR k%7 IN (0,1) OR k%11 IN (0,1)) AS analysable,
    (k%9 = 6 OR k%7 = 0) AS all_nodes
  FROM raw)
SELECT (k*13 + i*7) % (SELECT count(*) FROM customer) AS node_id, count(*) AS hits
FROM flags, range(0, 7) t(i)
WHERE i < nlen AND analysable
  AND (all_nodes OR (nlen > 2 AND i >= 1 AND i <= nlen - 2))
GROUP BY 1
"""


def _rects(spark, sf_dir):
    """Polygon side for PIP: one rectangle per nation (0.025-offset grid)."""
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    n = F.col("n_nationkey")
    return nation.select(
        n.alias("poly_id"),
        (((n * 29) % 300) - 150 + 0.025).alias("x0"),
        (((n * 31) % 140) - 70 + 0.025).alias("y0"),
    ).select(
        "poly_id", "x0", "y0",
        (F.col("x0") + 12.3).alias("x1"), (F.col("y0") + 9.7).alias("y1"),
    )


SQL_RECTS = """
rects AS (
  SELECT n_nationkey AS poly_id,
         ((n_nationkey*29) % 300) - 150 + 0.025 AS x0,
         ((n_nationkey*31) % 140) - 70 + 0.025 AS y0,
         ((n_nationkey*29) % 300) - 150 + 0.025 + 12.3 AS x1,
         ((n_nationkey*31) % 140) - 70 + 0.025 + 9.7 AS y1
  FROM nation)
"""


def _pip_inputs(spark, sf_dir):
    """J5 inputs: node points and one rectangle part per nation. The rect
    WKB is a closed way's polygon (``make_linestring`` plus
    ``wkb.ring_polygon_sql``) over its closed 5-point ring."""
    from osmi_water_spark.functions.wkb import ring_polygon_sql
    from osmi_water_spark.operators.assemble import make_linestring

    corners = [("x0", "y0"), ("x1", "y0"), ("x1", "y1"), ("x0", "y1"), ("x0", "y0")]
    ring = "array(" + ", ".join(
        f"named_struct('lon', {x}, 'lat', {y})" for x, y in corners
    ) + ")"
    parts = (
        _rects(spark, sf_dir)
        .withColumn("coords", F.expr(ring))
        .withColumn("ls", make_linestring("coords"))
        .select(
            F.col("poly_id").cast("string").alias("area_key"),
            F.expr(ring_polygon_sql("ls", "coords")).alias("part_wkb"),
            F.col("x0").alias("minx"), F.col("y0").alias("miny"),
            F.col("x1").alias("maxx"), F.col("y1").alias("maxy"),
        )
    )
    points = _nodes_geo(spark, sf_dir).select(
        F.col("node_id").alias("point_id"), "lon", "lat"
    )
    return points, parts


def _pip_pairs(pairs):
    return pairs.select(
        "point_id", F.col("area_key").cast("long").alias("poly_id")
    )


def _pip_query(spark, sf_dir, salt: int):
    from osmi_water_spark.operators.spatial_join import pip_join

    points, parts = _pip_inputs(spark, sf_dir)
    # unique ids declared (node_id is a key): the probe arm, which the
    # planning aggregate picks for this tiny rect set, is shuffle-free end
    # to end
    return _pip_pairs(pip_join(points, parts, salt=salt, unique_points=True))


def q_j5_pip(spark, sf_dir):
    """J5 — the cell-indexed PIP join (full engine machinery vs range oracle)."""
    return _pip_query(spark, sf_dir, salt=1)


def q_j5_pip_salted(spark, sf_dir):
    """J5 with ``salt=8`` — result must be identical. The rect set fits the
    probe arm, which has no shuffle to salt, so ``salt`` is a no-op here;
    salting of the partitioned arm is checked by
    tests/test_spatial_join.py::test_salted_partitioned_arm_matches_brute_force.
    The three J5 queries differ only in ``salt`` and ``unique_points``;
    they stay three because ORACLES and the benchmark name each one."""
    return _pip_query(spark, sf_dir, salt=8)


def q_j5_pip_auto(spark, sf_dir):
    """J5 with every argument left at its default: same result as
    q_j5_pip, and the same planning aggregate and arm; only the pair dedup
    that ``unique_points`` skips is added."""
    from osmi_water_spark.operators.spatial_join import pip_join

    return _pip_pairs(pip_join(*_pip_inputs(spark, sf_dir)))


SQL_J5 = f"""
WITH {SQL_NODES_GEO.strip()},
{SQL_RECTS.strip()}
SELECT n.node_id AS point_id, r.poly_id
FROM nodes_geo n JOIN rects r
  ON n.lon > r.x0 AND n.lon < r.x1 AND n.lat > r.y0 AND n.lat < r.y1
"""


def q_j6_knn(spark, sf_dir):
    """J6 — exact kNN: first 200 customers vs supplier points, k=3."""
    from osmi_water_spark.operators.knn import knn_join_exact

    pts = _nodes_geo(spark, sf_dir).filter(F.col("node_id") < 200).select(
        F.col("node_id").alias("point_id"), "lon", "lat"
    )
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    s = F.col("s_suppkey")
    nbr = sup.select(
        s.alias("neighbor_id"),
        (((s * 37) % 3500) / 10.0 - 174.925).alias("lon"),
        (((s * 11) % 1600) / 10.0 - 79.925).alias("lat"),
    )
    return knn_join_exact(pts, nbr, k=3).select("point_id", "rank", "neighbor_id")


SQL_J6 = f"""
WITH {SQL_NODES_GEO.strip()},
nbr AS (
  SELECT s_suppkey AS neighbor_id,
         ((s_suppkey*37) % 3500) / 10.0 - 174.925 AS nlon,
         ((s_suppkey*11) % 1600) / 10.0 - 79.925 AS nlat
  FROM supplier),
scored AS (
  SELECT n.node_id AS point_id, b.neighbor_id,
         (n.lon - b.nlon) * (n.lon - b.nlon) + (n.lat - b.nlat) * (n.lat - b.nlat) AS dist2
  FROM nodes_geo n, nbr b WHERE n.node_id < 200),
ranked AS (
  SELECT point_id, neighbor_id,
         row_number() OVER (PARTITION BY point_id ORDER BY dist2 ASC, neighbor_id ASC) AS rank
  FROM scored)
SELECT point_id, CAST(rank AS INT) AS rank, neighbor_id FROM ranked WHERE rank <= 3
"""


def q_tiles(spark, sf_dir):
    """Raster/vector assignment: z/x/y tile id + grid cell id per point."""
    pts = _nodes_geo(spark, sf_dir)
    return pts.select(
        "node_id",
        C.tile_id("lon", "lat", Z_TILE).alias("tile_id"),
        C.cell_of("lon", "lat", RES_CELL).alias("cell_id"),
    )


SQL_TILES = f"""
WITH {SQL_NODES_GEO.strip()},
t AS (
  SELECT node_id, lon, lat,
    greatest(0, least({(1 << Z_TILE) - 1},
      CAST(floor((lon + 180.0) / 360.0 * {float(1 << Z_TILE)}) AS BIGINT))) AS tx,
    greatest(0, least({(1 << Z_TILE) - 1},
      CAST(floor((1.0 - ln(tan(lat * pi() / 180.0) + 1.0 / cos(lat * pi() / 180.0)) / pi())
           / 2.0 * {float(1 << Z_TILE)}) AS BIGINT))) AS ty,
    greatest(0, least({(1 << RES_CELL) - 1},
      CAST(floor((lon + 180.0) / 360.0 * {float(1 << RES_CELL)}) AS BIGINT))) AS cx,
    greatest(0, least({(1 << RES_CELL) - 1},
      CAST(floor((lat + 90.0) / 180.0 * {float(1 << RES_CELL)}) AS BIGINT))) AS cy
  FROM nodes_geo)
SELECT node_id,
  {Z_TILE} * 288230376151711744 + ty * 536870912 + tx AS tile_id,
  {RES_CELL} * 288230376151711744 + cy * 536870912 + cx AS cell_id
FROM t
"""


MAP_LAYERS = [
    ("coastline", "way_type = 'coastline'"),
    ("waterways_width", "width > 0"),
    ("waterways_width_error", "width_error = 'true'"),
    ("waterways_in_tunnels", "construction = 'tunnel'"),
    ("waterways_on_bridges", "construction = 'bridge'"),
    ("ways_drain", "way_type IN ('drain','ditch')"),
    ("ways_canal", "way_type = 'canal'"),
    ("ways_stream", "way_type = 'stream'"),
    ("ways_river", "way_type = 'river'"),
    ("ways_riverbank", "way_type = 'riverbank'"),
    ("ways_other", "way_type = 'other'"),
    ("waterways_without_names", "name = '' AND way_type IN ('river','stream','canal')"),
]


def q_map_layers(spark, sf_dir):
    """§2.9 — the 26 mapserver layer filters as per-layer counts over the
    derived ways table (the de-facto downstream query workload)."""
    df = _ways_geo(spark, sf_dir, _ncust(spark, sf_dir))
    t = "tags"
    base = with_width(df, TG.width_tag_sql(t)).select(
        TG.get_way_type(t).alias("way_type"),
        TG.name_or_empty(t).alias("name"),
        TG.get_construction(t).alias("construction"),
        F.col("width").cast("double").alias("width"),
        F.when(F.col("width_error"), "true").otherwise("false").alias("width_error"),
    )
    return _layer_counts(base, MAP_LAYERS)


def _sql_map_layers() -> str:
    # width_error is fully determined by k%14 (est_width fallback '7' parses
    # clean, so the k%14==13 row is false either way); width likewise, except
    # k%14==13 where est_width '7' applies when k%3==0 (else NULL -> 0.0)
    werr = " ".join(
        f"WHEN {i} THEN 'true'" for i, (_, we) in enumerate(WIDTH_EXPECT) if we
    )
    wval = " ".join(
        f"WHEN {i} THEN CAST(CAST(CAST({wv!r} AS DOUBLE) AS REAL) AS DOUBLE)"
        for i, (wv, _) in enumerate(WIDTH_EXPECT[:13])
    )
    selects = [
        f"SELECT '{layer}' AS layer, count(*) FILTER (WHERE {cond}) AS n FROM typed"
        for layer, cond in MAP_LAYERS
    ]
    return f"""
WITH {SQL_TAGS_CTE.strip()},
typed AS (
  SELECT k, {SQL_WAY_TYPE} AS way_type, coalesce(name,'') AS name,
    CASE WHEN bridge IS NOT NULL THEN 'bridge' WHEN tunnel IS NOT NULL THEN 'tunnel' ELSE '' END AS construction,
    CASE WHEN k%14 = 13 THEN (CASE WHEN k%3 = 0 THEN CAST(CAST(CAST(7.0 AS DOUBLE) AS REAL) AS DOUBLE) ELSE 0.0 END)
         ELSE (CASE k%14 {wval} END) END AS width,
    CASE k%14 {werr} ELSE 'false' END AS width_error
  FROM tags)
{' UNION ALL '.join(selects)}
"""


SQL_MAP_LAYERS = _sql_map_layers()


# ---------------- training-data queries (documents / embeddings) ----------------


def q_dedup_exact(spark, sf_dir):
    from osmi_water_spark.operators.dedup import exact_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return exact_dedup(docs)


SQL_DEDUP_EXACT = """
SELECT md5(text) AS text_hash, count(*) AS n_docs, min(doc_id) AS keep_id
FROM documents GROUP BY 1
"""


def q_text_stats(spark, sf_dir):
    from osmi_water_spark.operators.text import text_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return text_stats(docs)


SQL_TEXT_STATS = """
WITH s AS (
  SELECT doc_id, text,
    length(string_split(text, ' ')) AS n_tokens,
    length(text) AS n_chars,
    length(text) - length(replace(replace(replace(replace(replace(replace(text,
        '.',''), ',',''), '!',''), '?',''), ';',''), ':','')) AS n_punct,
    CAST((length(lower(text)) - length(replace(lower(text), ' the ', ''))) / 5
       + (length(lower(text)) - length(replace(lower(text), ' and ', ''))) / 5
       + (length(lower(text)) - length(replace(lower(text), ' of ', ''))) / 4 AS BIGINT) AS en_stopwords,
    CAST((length(lower(text)) - length(replace(lower(text), ' der ', ''))) / 5
       + (length(lower(text)) - length(replace(lower(text), ' und ', ''))) / 5
       + (length(lower(text)) - length(replace(lower(text), ' die ', ''))) / 5 AS BIGINT) AS de_stopwords
  FROM documents)
SELECT doc_id, n_tokens, n_chars, n_punct, en_stopwords,
  greatest(0, least(100, CAST(floor(50 + least(20, n_tokens / 10)
      + least(20, en_stopwords * 2)
      - least(30, n_punct * 100 / greatest(n_chars, 1))) AS BIGINT))) AS quality,
  CASE WHEN en_stopwords = 0 AND de_stopwords = 0 THEN 'unknown'
       WHEN de_stopwords > en_stopwords THEN 'de' ELSE 'en' END AS lang_guess,
  substring(md5(lower(trim(text))), 1, 16) AS fp
FROM s
"""


def q_ann_cosine_topk(spark, sf_dir):
    from osmi_water_spark.operators.similarity import cosine_topk_bruteforce

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    got = cosine_topk_bruteforce(emb, queries, k=5)
    return got.select("query_id", "rank", "neighbor_id")


SQL_ANN = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
    list_dot_product(q.qv, e.embedding)
      / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.embedding, e.embedding))) AS cosine
  FROM q, embeddings e WHERE e.vec_id <> q.query_id),
ranked AS (
  SELECT query_id, neighbor_id,
    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id FROM ranked WHERE rank <= 5
"""


# ---------------- fixture-oracled queries (seeded-hash semantics) ----------------

_FIXTURE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "tests", "fixtures",
)
MINHASH_FIXTURE = os.path.join(_FIXTURE_DIR, "minhash_pairs_expected.parquet")
SIMHASH_FIXTURE = os.path.join(_FIXTURE_DIR, "simhash_pairs_expected.parquet")


def q_minhash_near_dups(spark, sf_dir):
    """MinHash-LSH near-dup pairs over the deterministic docs_gen corpus.
    Seeded crc32/FNV/md5 hashing has no native DuckDB expression, so the
    oracle is the pipeline_nodes fixture pattern: an INDEPENDENT scalar
    plain-Python implementation (scripts/make_dedup_fixtures.py) precomputes
    the expected (a, b, jaccard) set into a parquet fixture and the oracle
    is a plain SELECT — the full distributed path (Arrow signature UDF,
    banding, bucket self-join, exact verify) is value-checked end to end."""
    from osmi_water_spark.operators.dedup import minhash_near_dups
    from osmi_water_spark.sources.docs_gen import dedup_corpus, docs_dataframe

    docs = docs_dataframe(spark, dedup_corpus())
    out = minhash_near_dups(docs, threshold=0.5)
    return out.select(
        "a", "b", F.floor(F.col("jaccard") * 1e6 + 0.5).cast("long").alias("jaccard_u")
    )


SQL_MINHASH = f"SELECT a, b, jaccard_u FROM read_parquet('{MINHASH_FIXTURE}')"

MINHASH_CAPPED_FIXTURE = os.path.join(
    _FIXTURE_DIR, "minhash_pairs_capped_expected.parquet"
)


def q_minhash_near_dups_capped(spark, sf_dir):
    """The SKEW-CONTROL branches of minhash LSH under the oracle gate
    (round-3 ADVICE: salt replication and the star-cap ran only on
    unchecked bench corpora): salt=4 exercises the salted hot-bucket
    self-join (exact — changes no pairs) and max_bucket=2 actually stars
    54 over-cap buckets on this corpus (the fixture generator asserts the
    cap binds, and the capped expected-pair set genuinely differs from the
    uncapped one). Oracle = the independent scalar fixture with the same
    cap semantics."""
    from osmi_water_spark.operators.dedup import minhash_near_dups
    from osmi_water_spark.sources.docs_gen import dedup_corpus, docs_dataframe

    docs = docs_dataframe(spark, dedup_corpus())
    out = minhash_near_dups(docs, threshold=0.5, salt=4, max_bucket=2)
    return out.select(
        "a", "b", F.floor(F.col("jaccard") * 1e6 + 0.5).cast("long").alias("jaccard_u")
    )


SQL_MINHASH_CAPPED = (
    f"SELECT a, b, jaccard_u FROM read_parquet('{MINHASH_CAPPED_FIXTURE}')"
)


def q_simhash_near_dups(spark, sf_dir):
    """SimHash near-dup pairs (hamming <= 8 over shared 16-bit chunks) on
    the same deterministic corpus, fixture-oracled like minhash."""
    from osmi_water_spark.operators.dedup import simhash_near_dups
    from osmi_water_spark.sources.docs_gen import dedup_corpus, docs_dataframe

    docs = docs_dataframe(spark, dedup_corpus())
    out = simhash_near_dups(docs, max_hamming=8)
    return out.select("a", "b", F.col("hamming").cast("int").alias("hamming"))


SQL_SIMHASH = f"SELECT a, b, hamming FROM read_parquet('{SIMHASH_FIXTURE}')"


def q_embedding_near_dups(spark, sf_dir):
    """Hyperplane-LSH bucket join + in-bucket exact cosine. Output is the
    pair set only — the cosine value itself is summation-order-sensitive
    between numpy and the DuckDB oracle, the membership decision is not."""
    from osmi_water_spark.operators.dedup import embedding_near_dups

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embedding_near_dups(emb, threshold=0.25).select("a", "b")


def _emb_bucket_sql() -> str:
    """The seeded 16x64 hyperplane matrix inlined as SQL literals: DuckDB
    reproduces the bucket assignment in DOUBLE (repr() round-trips each
    float64 exactly). Shared by the plain and capped embedding oracles."""
    from osmi_water_spark.operators.dedup import _HYPER

    terms = []
    for i in range(_HYPER.shape[0]):
        lits = ", ".join(repr(float(x)) for x in _HYPER[i])
        terms.append(
            f"(CASE WHEN list_dot_product(v, [{lits}]) > 0 THEN {1 << i} ELSE 0 END)"
        )
    return "\n    + ".join(terms)


def _sql_embedding_near_dups() -> str:
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS (SELECT vec_id, v, {_emb_bucket_sql()} AS bucket FROM e),
p AS (
  SELECT l.vec_id AS a, r.vec_id AS b,
         list_dot_product(l.v, r.v)
           / (sqrt(list_dot_product(l.v, l.v)) * sqrt(list_dot_product(r.v, r.v)) + 1e-12) AS cosine
  FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id)
SELECT a, b FROM p WHERE cosine >= 0.25
"""


SQL_EMB_NEAR_DUPS = _sql_embedding_near_dups()

EMB_SKEW_FIXTURE = os.path.join(_FIXTURE_DIR, "emb_skew.parquet")


def q_embedding_near_dups_capped(spark, sf_dir):
    """The SKEW-CONTROL branches of embedding LSH under the oracle gate
    (VERDICT.md r4 next #7, mirroring minhash_near_dups_capped): salt=4
    exercises the salted hot-bucket self-join (exact — changes no pairs)
    and max_bucket=2 stars the over-cap buckets. The driver tables are too
    uniform for the cap to bind (sf0.01's largest bucket holds 2 vectors),
    so the input is the committed deterministic SKEWED corpus
    tests/fixtures/emb_skew.parquet (scripts/make_emb_skew_fixture.py: two
    over-cap buckets, capped pair set 25 != uncapped 279, every bucket/
    threshold decision margin-guarded against summation-order wobble).
    The oracle recomputes bucket assignment, bucket sizes, the min-id star
    cap, and the DOUBLE cosine verify independently in DuckDB."""
    from osmi_water_spark.operators.dedup import embedding_near_dups

    emb = spark.read.parquet(EMB_SKEW_FIXTURE)
    return embedding_near_dups(
        emb, threshold=0.8, salt=4, max_bucket=2
    ).select("a", "b")


def _sql_embedding_near_dups_capped() -> str:
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM read_parquet('{EMB_SKEW_FIXTURE}')),
b AS (SELECT vec_id, v, {_emb_bucket_sql()} AS bucket FROM e),
sz AS (SELECT bucket, COUNT(*) AS bsz FROM b GROUP BY bucket),
bs AS (SELECT b.vec_id, b.v, b.bucket, sz.bsz FROM b JOIN sz USING (bucket)),
reps AS (SELECT bucket, MIN(vec_id) AS rep FROM bs WHERE bsz > 2 GROUP BY bucket),
cand AS (
  SELECT l.vec_id AS a, r.vec_id AS b, l.v AS va, r.v AS vb
  FROM bs l JOIN bs r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
  WHERE l.bsz <= 2
  UNION ALL
  SELECT reps.rep AS a, o.vec_id AS b, rv.v AS va, o.v AS vb
  FROM reps
  JOIN bs o ON o.bucket = reps.bucket AND o.vec_id <> reps.rep
  JOIN bs rv ON rv.bucket = reps.bucket AND rv.vec_id = reps.rep),
p AS (
  SELECT a, b,
         list_dot_product(va, vb)
           / (sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb)) + 1e-12) AS cosine
  FROM cand)
SELECT DISTINCT a, b FROM p WHERE cosine >= 0.8
"""


SQL_EMB_NEAR_DUPS_CAPPED = _sql_embedding_near_dups_capped()


def q_ann_ivf(spark, sf_dir):
    """IVF/LSH ANN at full multiprobe (probe_flips = bits enumerates every
    bucket), which makes the result exactly the brute-force top-k — so the
    whole bucketed machinery (corpus bucketing, multiprobe expansion,
    bucket join, per-candidate scoring, ranking) is oracle-checked against
    SQL_ANN. The approximate configs share this code path and are recall-
    characterized in tests/test_data_ops.py."""
    from osmi_water_spark.operators.similarity import cosine_topk_ivf

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    return cosine_topk_ivf(emb, queries, k=5, bits=6, probe_flips=6).select(
        "query_id", "rank", "neighbor_id"
    )


PIPELINE_NODES_FIXTURE = os.path.join(_FIXTURE_DIR, "pipeline_nodes_expected.parquet")


def q_pipeline_nodes(spark, sf_dir):
    """The full waterway pipeline end-to-end on deterministic synthetic
    pages. The pass-to-pass state machine is non-SQL-expressible, so the
    oracle is a plain SELECT over a parquet fixture precomputed by the
    SEQUENTIAL reference-transcription oracle (plans/oracle.py) on the same
    scale_entities(40) input — regenerate with
    scripts/make_pipeline_fixture.py."""
    from osmi_water_spark.plans.pipeline import run_pipeline
    from osmi_water_spark.sources.pages_gen import pages_dataframe, scale_pages_rows

    pages = pages_dataframe(spark, scale_pages_rows(40))
    out = run_pipeline(spark, pages, out_dir=None, with_lineage=False)
    return out["nodes"].select(
        "node_id", "specific", "direction_error", "name_error", "type_error",
        "spring_error", "end_error", "way_error", "h3_cell",
    )


SQL_PIPELINE_NODES = f"""
SELECT node_id, specific, direction_error, name_error, type_error,
       spring_error, end_error, way_error, h3_cell
FROM read_parquet('{PIPELINE_NODES_FIXTURE}')
"""


def q_multimodal_features(spark, sf_dir):
    from osmi_water_spark.operators.multimodal import fake_features, synth_media

    media = synth_media(spark, 200)
    return fake_features(media).select("media_id", "media_type", "n_bytes")


# synth_media payloads are blake2b(str(i), 32 bytes) * (i%5+1), so the
# plumbing output (type routing + byte accounting through mapInPandas)
# is closed-form checkable without registered tables.
SQL_MULTIMODAL = """
SELECT i AS media_id,
       (['image','audio','video'])[CAST(i % 3 AS INT) + 1] AS media_type,
       32 * (i % 5 + 1) AS n_bytes
FROM range(0, 200) t(i)
"""


def q_multimodal_byte_features(spark, sf_dir):
    """The REAL codec-free feature path (multimodal.byte_features): byte
    entropy / mean / printable fraction over raw payloads. Doubles are
    emitted as floor(x*1e6+0.5) micro-units so the cross-engine compare is
    integer-exact (entropy summation order differs at ~1e-16 between numpy
    and the oracle's plain-Python recomputation)."""
    from osmi_water_spark.operators.multimodal import byte_features, synth_media

    f = byte_features(synth_media(spark, 200))
    u = lambda c: F.floor(F.col(c) * 1e6 + 0.5).cast("long")  # noqa: E731
    return f.select(
        "media_id", "media_type", "n_bytes",
        u("entropy").alias("entropy_u"),
        u("mean_byte").alias("mean_byte_u"),
        u("frac_printable").alias("printable_u"),
    )


def _sql_multimodal_byte_features() -> str:
    """Independent plain-Python recomputation (Counter + math.log2, no
    numpy) of the expected rows, inlined as a VALUES table."""
    import hashlib
    import math as m
    from collections import Counter

    rows = []
    for i in range(200):
        kind = ["image", "audio", "video"][i % 3]
        payload = hashlib.blake2b(str(i).encode(), digest_size=32).digest() * (i % 5 + 1)
        n = len(payload)
        cnt = Counter(payload)
        ent = -sum((v / n) * m.log2(v / n) for v in cnt.values())
        mean = sum(payload) / n
        fp = sum(1 for b in payload if 32 <= b < 127) / n
        rows.append(
            f"({i}, '{kind}', {n}, {m.floor(ent * 1e6 + 0.5)}, "
            f"{m.floor(mean * 1e6 + 0.5)}, {m.floor(fp * 1e6 + 0.5)})"
        )
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(rows)
        + ") AS t(media_id, media_type, n_bytes, entropy_u, mean_byte_u, printable_u)"
    )


SQL_MULTIMODAL_BYTES = _sql_multimodal_byte_features()


# ---------------- registry ----------------

QUERIES = {
    "f1_is_waterway_way": q_f1_is_waterway_way,
    "f1_is_waterway_relation": q_f1_is_waterway_relation,
    "f_flags": q_f_flags,
    "p_projections": q_p_projections,
    "p6_width": q_p6_width,
    "p8_lastchange": q_p8_lastchange,
    "j1_locate": q_j1_locate,
    "j3_connectivity": q_j3_connectivity,
    "e2_finalize": q_e2_finalize,
    "j4_hits": q_j4_hits,
    "j5_pip": q_j5_pip,
    "j5_pip_salted": q_j5_pip_salted,
    "j5_pip_auto": q_j5_pip_auto,
    "j6_knn": q_j6_knn,
    "tiles": q_tiles,
    "map_layers": q_map_layers,
    "dedup_exact": q_dedup_exact,
    "text_stats": q_text_stats,
    "ann_cosine_topk": q_ann_cosine_topk,
    "minhash_near_dups": q_minhash_near_dups,
    "minhash_near_dups_capped": q_minhash_near_dups_capped,
    "simhash_near_dups": q_simhash_near_dups,
    "embedding_near_dups": q_embedding_near_dups,
    "embedding_near_dups_capped": q_embedding_near_dups_capped,
    "ann_ivf": q_ann_ivf,
    "pipeline_nodes": q_pipeline_nodes,
    "multimodal_features": q_multimodal_features,
}

ORACLES = {
    "f1_is_waterway_way": SQL_F1_WAY,
    "f1_is_waterway_relation": SQL_F1_REL,
    "f_flags": SQL_F_FLAGS,
    "p_projections": SQL_P_PROJECTIONS,
    "p6_width": SQL_P6_WIDTH,
    "p8_lastchange": SQL_P8,
    "j1_locate": SQL_J1,
    "j3_connectivity": SQL_J3,
    "e2_finalize": SQL_E2,
    "j4_hits": SQL_J4,
    "j5_pip": SQL_J5,
    "j5_pip_salted": SQL_J5,
    "j5_pip_auto": SQL_J5,
    "j6_knn": SQL_J6,
    "tiles": SQL_TILES,
    "map_layers": SQL_MAP_LAYERS,
    "dedup_exact": SQL_DEDUP_EXACT,
    "text_stats": SQL_TEXT_STATS,
    "ann_cosine_topk": SQL_ANN,
    "minhash_near_dups": SQL_MINHASH,
    "minhash_near_dups_capped": SQL_MINHASH_CAPPED,
    "simhash_near_dups": SQL_SIMHASH,
    "embedding_near_dups_capped": SQL_EMB_NEAR_DUPS_CAPPED,
}


def q_j2_members(spark, sf_dir):
    """J2 — relation-member equi-join with the F1 relation gate and the
    way-member type filter (F8); incomplete relations keep matched subset."""
    nord = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    s = F.col("s_suppkey")
    typ = F.when(s % 4 == 0, F.lit("waterway")).when(s % 4 == 1, F.lit("multipolygon"))
    # no map_filter: getItem-only consumers, see _tags_from_key
    tags = F.create_map(F.lit("type"), typ)
    members = F.transform(
        F.sequence(F.lit(0), (s % 3 + 1).cast("int")),
        lambda j: F.struct(
            F.when(j % 4 == 3, F.lit("node")).otherwise(F.lit("way")).alias("type"),
            # ref range deliberately 2x the order count: half the refs miss
            # (incomplete relations emit only matched members)
            ((s * 23 + j * 41) % (2 * nord)).alias("ref"),
            F.lit("").alias("role"),
        ),
    )
    rels = sup.select(s.alias("id"), members.alias("members"), tags.alias("tags"))
    rels = rels.filter(TG.is_waterway("tags", True))
    ex = rels.select(F.col("id").alias("relation_id"), F.posexplode("members").alias("member_pos", "m"))
    ex = ex.filter(F.col("m.type") == "way")
    ways = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").alias("way_id")
    )
    return ex.join(ways, ex["m.ref"] == ways["way_id"], "inner").select(
        "relation_id", "member_pos", "way_id"
    )


SQL_J2 = """
WITH rels AS (
  SELECT s_suppkey AS relation_id, s_suppkey % 3 + 1 AS maxj
  FROM supplier WHERE s_suppkey % 4 = 0),
mem AS (
  SELECT relation_id, CAST(j AS INT) AS member_pos,
         (relation_id * 23 + j * 41) % (2 * (SELECT count(*) FROM orders)) AS ref
  FROM rels, range(0, 4) t(j)
  WHERE j <= maxj AND j % 4 <> 3)
SELECT m.relation_id, m.member_pos, o.o_orderkey AS way_id
FROM mem m JOIN orders o ON o.o_orderkey = m.ref
"""


def q_p7_width2string(spark, sf_dir):
    """P7 — the reference's dead-code width formatter, JVM-side expression."""
    from osmi_water_spark.functions.width import width2string

    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    # positive widths with one decimal: w = (k%500)/10 + 0.25
    w = "(p_partkey % 500) / 10.0D + 0.25D"
    return part.select(F.col("p_partkey").alias("part_id"), width2string(w).alias("width_str"))


SQL_P7 = """
WITH w AS (
  SELECT p_partkey AS part_id, (p_partkey % 500) / 10.0 + 0.25 AS wv FROM part),
r AS (
  SELECT part_id, CAST(floor(wv * 10 + 0.5) AS BIGINT) AS rounded FROM w),
s AS (
  SELECT part_id,
         CASE WHEN length(CAST(rounded AS VARCHAR)) = 1
              THEN '0' || CAST(rounded AS VARCHAR)
              ELSE CAST(rounded AS VARCHAR) END AS str
  FROM r)
SELECT part_id,
       substring(str, 1, length(str) - 1) || '.' || substring(str, length(str), 1) AS width_str
FROM s
"""

QUERIES["j2_members"] = q_j2_members
QUERIES["p7_width2string"] = q_p7_width2string
ORACLES["j2_members"] = SQL_J2
ORACLES["p7_width2string"] = SQL_P7


NODE_LAYERS = [
    ("waterway_nodes", "specific = '' AND direction_error = 'false' AND name_error = 'false' "
                       "AND type_error = 'false' AND spring_error = 'false' AND end_error = 'false' "
                       "AND way_error = 'false'"),
    ("rivermouths", "specific = 'rivermouth'"),
    ("outflows", "specific = 'outflow'"),
    ("direction_error_nodes", "direction_error = 'true'"),
    ("name_error_nodes", "name_error = 'true'"),
    ("type_error_nodes", "type_error = 'true'"),
    ("spring_error_nodes", "spring_error = 'true'"),
    ("end_error_nodes", "end_error = 'true'"),
]


def q_map_layers_nodes(spark, sf_dir):
    """§2.9 node layers (map/water.map:1128-1384) over the finalized
    error-mask output columns (derived masks, same as e2_finalize)."""
    return _layer_counts(q_e2_finalize(spark, sf_dir), NODE_LAYERS)


def _sql_map_layers_nodes() -> str:
    selects = [
        f"SELECT '{layer}' AS layer, count(*) FILTER (WHERE {cond}) AS n FROM f"
        for layer, cond in NODE_LAYERS
    ]
    inner = SQL_E2.strip()
    return f"WITH f AS ({inner})\n" + " UNION ALL ".join(selects)


SQL_MAP_LAYERS_NODES = _sql_map_layers_nodes()

POLYGON_LAYERS = [
    # the reference quirk makes type=='riverbank' impossible (P3 returns ''
    # for any waterway-tagged area) — the layer is empty, replicated exactly
    ("riverbank_areas", "polygon_type = 'riverbank'"),
    ("water_areas", "polygon_type <> 'riverbank'"),
    ("coastline_areas", "polygon_type = 'coastline'"),
    ("reservoir_areas", "polygon_type = 'reservoir'"),
]


def q_map_layers_polygons(spark, sf_dir):
    """§2.9 polygon layers (map/water.map:66, :112) over P3-typed areas
    gated by F7 (is_water_area), as AreaHandler does."""
    df = _ways_geo(spark, sf_dir, _ncust(spark, sf_dir))
    t = "tags"
    base = df.filter(TG.is_water_area(t)).select(
        TG.get_polygon_type(t).alias("polygon_type")
    )
    return _layer_counts(base, POLYGON_LAYERS)


def _sql_map_layers_polygons() -> str:
    selects = [
        f"SELECT '{layer}' AS layer, count(*) FILTER (WHERE {cond}) AS n FROM typed"
        for layer, cond in POLYGON_LAYERS
    ]
    return f"""
WITH {SQL_TAGS_CTE.strip()},
typed AS (
  SELECT k, {SQL_POLY_TYPE} AS polygon_type
  FROM tags
  WHERE coalesce(natural_t = 'water' OR landuse IN ('reservoir','basin')
                 OR ww IS NOT NULL, FALSE))
{' UNION ALL '.join(selects)}
"""


SQL_MAP_LAYERS_POLYGONS = _sql_map_layers_polygons()

QUERIES["map_layers_nodes"] = q_map_layers_nodes
QUERIES["map_layers_polygons"] = q_map_layers_polygons
ORACLES["map_layers_nodes"] = SQL_MAP_LAYERS_NODES
ORACLES["map_layers_polygons"] = SQL_MAP_LAYERS_POLYGONS


RELATION_LAYERS = [
    # map/water.map:722, :784, :846, :908, :980, :1029 — the six
    # waterrelations_* layers, FILTERed on the relations-table type column
    ("relations_drain", "type IN ('drain','ditch')"),
    ("relations_canal", "type = 'canal'"),
    ("relations_stream", "type = 'stream'"),
    ("relations_river", "type = 'river'"),
    # quirk mirror of riverbank_areas: F1 rejects waterway=riverbank
    # relations (tagcheck.hpp:35-60), so the relations table can never
    # carry type='riverbank' and this layer is structurally empty
    ("relations_riverbank", "type = 'riverbank'"),
    ("relations_other", "type = 'other'"),
]


def q_map_layers_relations(spark, sf_dir):
    """§2.9 relation layers over derived relation tags: F1 relation gate
    (is_waterway with is_relation=True) then P2 typing — the same columns
    the relations writer (O2, assemble.py) produces."""
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    k = F.col("s_suppkey")
    typ = F.when(k % 4 == 0, F.lit("waterway")).when(k % 4 == 1, F.lit("multipolygon"))
    ww = F.when(k % 9 < 8, F.element_at(F.array(*[F.lit(v) for v in WW_VALUES]), (k % 9 + 1).cast("int")))
    # no map_filter: getItem-only consumers, see _tags_from_key
    tags = F.create_map(F.lit("type"), typ, F.lit("waterway"), ww)
    rels = sup.select(k.alias("id"), tags.alias("tags"))
    base = (
        rels.filter(TG.is_waterway("tags", True))
        .select(TG.get_way_type("tags").alias("type"))
    )
    return _layer_counts(base, RELATION_LAYERS)


def _sql_map_layers_relations() -> str:
    selects = [
        f"SELECT '{layer}' AS layer, count(*) FILTER (WHERE {cond}) AS n FROM typed"
        for layer, cond in RELATION_LAYERS
    ]
    return f"""
WITH rel AS (
  SELECT s_suppkey AS k,
    CASE WHEN s_suppkey%4=0 THEN 'waterway' WHEN s_suppkey%4=1 THEN 'multipolygon' END AS typ,
    CASE WHEN s_suppkey%9<8 THEN (['river','stream','drain','brook','canal','ditch','riverbank','weir'])[s_suppkey%9+1] END AS ww
  FROM supplier),
gated AS (
  SELECT k, ww FROM rel
  WHERE NOT (coalesce(typ,'') = 'multipolygon')
    AND NOT (coalesce(ww,'') = 'riverbank')
    AND (coalesce(typ,'') = 'waterway' OR ww IS NOT NULL)),
typed AS (
  SELECT CASE WHEN ww IS NULL THEN ''
              WHEN ww IN ('river','stream','drain','brook','canal','ditch','riverbank') THEN ww
              ELSE 'other' END AS type
  FROM gated)
{' UNION ALL '.join(selects)}
"""


SQL_MAP_LAYERS_RELATIONS = _sql_map_layers_relations()

QUERIES["map_layers_relations"] = q_map_layers_relations
QUERIES["multimodal_byte_features"] = q_multimodal_byte_features
ORACLES["map_layers_relations"] = SQL_MAP_LAYERS_RELATIONS
ORACLES["embedding_near_dups"] = SQL_EMB_NEAR_DUPS
ORACLES["ann_ivf"] = SQL_ANN
ORACLES["pipeline_nodes"] = SQL_PIPELINE_NODES
ORACLES["multimodal_features"] = SQL_MULTIMODAL
ORACLES["multimodal_byte_features"] = SQL_MULTIMODAL_BYTES
