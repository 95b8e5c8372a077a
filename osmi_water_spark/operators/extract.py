"""Stage A — pages -> (text, entities), the graft's extraction stage.

Replaces the reference's OSM-file readers (/root/reference/src/
waterinspector.cpp:113, :123, :140) with a JVM-first projection over the
``pages`` table: the geo payload is sliced out with ``regexp_extract``
and decoded with ``from_json``, and the visible text (the
byte-identical-text-per-url invariant, BASELINE.json input_hint) is four
``regexp_replace`` calls — all whole-stage-codegen JVM expressions, so the
stage runs no Python. ``html`` is decoded as UTF-8 by ``CAST(html AS
STRING)``; undecodable bytes become U+FFFD instead of failing the run.

Round 2 ran the whole stage (JSON decode included) as per-row Python
inside a pandas map stage; the interpreter was the named suspect for the
pipeline's N->4N scaling gap (VERDICT.md Next #5). Moving the decode to
Catalyst removes the per-page ``json.loads`` and the Python-side row
assembly entirely; the derived nodes/ways/relations DataFrames keep
replacing the reference's entity-kind scan pruning with Catalyst
column/partition pruning (SURVEY.md §4 row 1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osmi_water_spark.functions.tags import sql_str
from osmi_water_spark.schemas import RELATION_MEMBER

_SCRIPT_RE = r"(?s)<script[^>]*>.*?</script>"
_BLOCK_CLOSE_RE = r"</(?:title|h1|h2|h3|p|div|li)>"
_TAG_RE = r"<[^>]*>"
_PAYLOAD_RE = r'(?s)<script type="application/osm\+json">(.*?)</script>'

# the "entities" stage contract (checkpointed between runs): typed columns,
# decoded JVM-side — members/tags are REAL nested types, not JSON strings.
# ``corrupt`` distinguishes a present-but-malformed osm+json payload (which
# PERMISSIVE from_json decodes to nulls) from a genuinely payload-less page
# — without it the two are indistinguishable downstream (ADVICE.md r3).
EXTRACT_SCHEMA = (
    "url string, text string, kind string, id long, lon double, lat double, "
    "node_ids array<long>, "
    "members array<struct<type:string,ref:long,role:string>>, "
    "tags map<string,string>, ts long, corrupt boolean"
)

_ENTITY_DDL = (
    "struct<kind:string,id:long,lon:double,lat:double,node_ids:array<long>,"
    "members:array<struct<type:string,ref:long,role:string>>,"
    "tags:map<string,string>,ts:long>"
)


def _text_sql() -> str:
    """HTML -> visible text as SQL, the extraction contract: script blocks
    removed, block-level closers become newlines, all other markup
    stripped, trailing newlines trimmed (``\\z``, not ``$``: Java's ``$``
    also matches before a final ``\\r``)."""
    sql = "CAST(html AS STRING)"
    for pattern, repl in (
        (_SCRIPT_RE, ""), (_BLOCK_CLOSE_RE, "\n"), (_TAG_RE, ""), (r"\n+\z", "")
    ):
        sql = f"regexp_replace({sql}, {sql_str(pattern)}, {sql_str(repl)})"
    return sql


def extract_entities(pages: DataFrame) -> DataFrame:
    """pages -> flat extraction DataFrame (one row per page). Streaming-safe
    (pure projections), used verbatim by streaming/incremental.py."""
    html_s = F.col("html").cast("string")  # binary -> UTF-8
    payload = F.regexp_extract(html_s, _PAYLOAD_RE, 1)
    ent = F.from_json(payload, _ENTITY_DDL)
    return pages.select(
        "url",
        F.expr(_text_sql()).alias("text"),
        (F.length(payload) > 0).alias("_has_payload"),
        ent.alias("_e"),
    ).selectExpr(
        "url",
        "text",
        "_e.kind AS kind",
        "_e.id AS id",
        "_e.lon AS lon",
        "_e.lat AS lat",
        "_e.node_ids AS node_ids",
        "_e.members AS members",
        # entity present but untagged -> EMPTY map (the reference's taglist
        # is always present; None is reserved for payload-less pages)
        "CASE WHEN _e.kind IS NOT NULL THEN "
        "coalesce(_e.tags, cast(map() as map<string,string>)) END AS tags",
        "_e.ts AS ts",
        # payload present but PERMISSIVE from_json produced no entity ->
        # malformed page, countable/filterable instead of silently null.
        # coalesce: a NULL html makes _has_payload NULL, and three-valued
        # logic would leak NULL into the flag — corrupt is always concrete
        "coalesce(_has_payload AND _e.kind IS NULL, false) AS corrupt",
    )


def validate_entities_schema(spark, path: str) -> None:
    """Guard an on-disk entities checkpoint against the CURRENT extraction
    contract before a resume/finalize reads it. The typed members/tags
    contract has changed across engine versions; forcing EXTRACT_SCHEMA
    onto a stale directory would silently null-fill or fail deep in the
    DAG with a confusing error (ADVICE.md r3). A Hive partition column
    (the streaming sink's ``kind=``) is read back from the directory
    names; every contract field must match."""
    from pyspark.sql import types as T2

    want = T2.StructType.fromDDL(EXTRACT_SCHEMA)
    # mergeSchema: without it Spark samples ONE footer, so a mixed-version
    # dir (old-contract files plus new-contract batches appended after an
    # upgrade — the exact incremental scenario this guards) can pass if the
    # sampled file happens to be new-schema. Merging unions every file's
    # schema; a contract-type conflict then either surfaces as a changed
    # merged type (caught below) or as Spark's own merge error (re-raised
    # with the stale-checkpoint message).
    try:
        got_schema = spark.read.option("mergeSchema", "true").parquet(path).schema
    except Exception as e:  # irreconcilable file schemas: same verdict
        raise ValueError(
            f"stale entities checkpoint at {path}: file schemas conflict "
            f"({e}) — delete the checkpoint (and downstream stage dirs "
            "built from it) and re-run"
        ) from e
    got = {f.name: f.dataType for f in got_schema.fields}
    bad = [f.name for f in want.fields if got.get(f.name) != f.dataType]
    if bad:
        raise ValueError(
            f"stale entities checkpoint at {path}: column(s) {bad} do not "
            "match the current extraction contract "
            f"({EXTRACT_SCHEMA}) — delete the checkpoint (and downstream "
            "stage dirs built from it) and re-run"
        )


def split_entities(extracted: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Extraction rows -> (nodes, ways, relations) typed DataFrames
    (FIXTURES.md §2 schemas) — pure column pruning now that the entities
    table carries typed members/tags."""
    nodes = extracted.filter(F.col("kind") == "node").select("id", "lon", "lat", "tags")
    ways = extracted.filter(F.col("kind") == "way").select(
        "id", "node_ids", "tags", F.timestamp_seconds("ts").alias("ts")
    )
    relations = extracted.filter(F.col("kind") == "relation").select(
        "id", "members", "tags", F.timestamp_seconds("ts").alias("ts")
    )
    assert relations.schema["members"].dataType.elementType == RELATION_MEMBER
    return nodes, ways, relations
