"""Physical-plan audits: pushdown, pruning, and no-per-row-Python are
load-bearing properties at 100 TB — these tests pin them against
regressions (SURVEY.md §4)."""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from osmi_water_spark.plans import testdata_queries as Q

SF = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _fresh_cache(spark):
    # plan-keyed CacheManager: tables cached by earlier tests would replace
    # parquet scans with InMemoryRelation and hide the scan-level assertions
    spark.catalog.clearCache()
    yield


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_column_pruning_reaches_scan(spark):
    p = plan_of(Q.q_ann_cosine_topk(spark, SF))
    assert "ReadSchema: struct<vec_id:bigint,embedding:array<float>>" in p
    p = plan_of(Q.q_text_stats(spark, SF))
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in p


def test_predicate_pushdown_reaches_scan(spark):
    p = plan_of(Q.q_j6_knn(spark, SF))
    assert "LessThan(c_custkey,200)" in p, "filter must reach the parquet scan"


def test_pip_scan_reads_keys_only(spark):
    p = plan_of(Q.q_j5_pip(spark, SF))
    # point side: column-pruned to the key the synthetic lon/lat derive from
    assert "ReadSchema: struct<c_custkey:bigint>" in p
    # probe mode: the (small) polygon side is consumed driver-side into the
    # broadcast cell index — the distributed plan is scan -> mapInArrow ->
    # pair dedup with NO join and no point-side explode at all
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_no_row_at_a_time_python(spark):
    """All Python stages must be Arrow-vectorized (BatchEvalPython is the
    pickled row-at-a-time path — banned by BASELINE.json:15)."""
    for name in ("j5_pip", "j1_locate", "j3_connectivity", "map_layers", "text_stats"):
        p = plan_of(Q.QUERIES[name](spark, SF))
        assert "BatchEvalPython" not in p, f"{name} uses row-at-a-time Python"


def test_tag_predicates_are_codegen(spark):
    """F-predicates must appear as CASE/boolean expressions inside the plan,
    not as Python eval nodes."""
    p = plan_of(Q.q_f1_is_waterway_way(spark, SF))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CASE WHEN" in p


def test_extraction_decode_is_jvm_side(spark):
    """Stage A is Catalyst end to end: the payload decode (regexp_extract +
    from_json) and the visible text (regexp_replace) are JVM expressions,
    so neither the extraction nor its entity consumers hold a Python
    evaluation node."""
    from osmi_water_spark.operators.extract import extract_entities, split_entities
    from osmi_water_spark.sources import pages_gen as PG

    pages = PG.pages_dataframe(spark, PG.pages_rows(["w01_chain"]))
    extracted = extract_entities(pages)
    p = plan_of(extracted)
    assert not [n for n in PYTHON_NODES if n in p], "Python in extraction"
    assert "from_json" in p, "payload decode must be a JVM expression"
    assert "regexp_replace" in p, "visible text must be a JVM expression"

    for df in split_entities(extracted):
        q = plan_of(df)
        assert not [n for n in PYTHON_NODES if n in q], "Python in an entity consumer"


def test_width_parse_runs_each_regex_once(spark):
    """The width parse is staged projections, so the split regex runs once
    per row for each group it yields (number, residue) and the comma fix
    once; folded into one expression, the plan would repeat them in every
    CASE branch that reads them."""
    from osmi_water_spark.functions.width import SPLIT_RE, with_width

    df = spark.createDataFrame([(1, "5 km")], "i int, w string")
    p = plan_of(with_width(df, "w"))
    assert p.count(f"{SPLIT_RE}, ") == 2
    assert p.count("regexp_replace(") == 1


PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
                "FlatMapGroupsInPandas", "FlatMapGroupsInArrow")


def test_geometry_bytes_plans_run_no_python(spark):
    """Relation MultiLineStrings and the PIP index parts are built from
    member WKB bytes in SQL: with their inputs materialized, neither plan
    holds a Python evaluation node."""
    from osmi_water_spark.operators import areas as AR
    from osmi_water_spark.operators import assemble as AS
    from osmi_water_spark.operators.extract import extract_entities, split_entities
    from osmi_water_spark.operators.locate import locate_ways
    from osmi_water_spark.sources import pages_gen as PG

    pages = PG.pages_dataframe(spark, PG.pages_rows(["w10_relation", "w12_multipolygon"]))
    nodes, ways, relations = split_entities(extract_entities(pages))
    relations = relations.localCheckpoint()
    ways_located = locate_ways(ways, nodes).localCheckpoint()
    way_rows = AS.build_way_rows(relations, ways_located).localCheckpoint()
    areas = AR.build_areas(ways_located, relations).localCheckpoint()
    outputs = {
        "assemble_relations": AS.assemble_relations(relations, AS.assemble_ways(way_rows)["geoms"]),
        "pip_index": AR.pip_index(areas),
    }
    for name, df in outputs.items():
        p = plan_of(df)
        assert [n for n in PYTHON_NODES if n in p] == [], name
        assert df.count() > 0, name


def test_closed_way_linestring_udf_runs_once(spark):
    """A closed way's Polygon is its linestring's bytes behind a Polygon
    header (``wkb.ring_polygon_sql``): with the inputs materialized, the
    executed areas plan holds one Arrow pass, ``make_linestring``, not
    copied under the pushed ``part_wkb IS NOT NULL`` filter."""
    from osmi_water_spark.operators import areas as AR
    from osmi_water_spark.operators.extract import extract_entities, split_entities
    from osmi_water_spark.operators.locate import locate_ways
    from osmi_water_spark.sources import pages_gen as PG

    pages = PG.pages_dataframe(spark, PG.pages_rows(["w06_rivermouth_pip", "w12_multipolygon"]))
    nodes, ways, relations = split_entities(extract_entities(pages))
    relations = relations.localCheckpoint()
    ways_located = locate_ways(ways, nodes).localCheckpoint()
    areas = AR.build_areas(ways_located, relations)
    rows = areas.collect()  # executes areas' own plan, so explain shows the final one
    assert any(r.way_id != 0 for r in rows), "no closed-way area"
    final = plan_of(areas).split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    assert final.count("ArrowEvalPython (") == 1, final


@pytest.mark.parametrize(
    "op, kw",
    [
        ("minhash_near_dups", dict(threshold=0.5)),
        ("minhash_near_dups", dict(threshold=0.5, salt=4, max_bucket=2)),
        ("simhash_near_dups", dict(max_hamming=8)),
        ("embedding_near_dups", dict(threshold=0.8)),
        ("embedding_near_dups", dict(threshold=0.8, salt=4, max_bucket=2)),
    ],
    ids=["minhash", "minhash_capped", "simhash", "embedding", "embedding_capped"],
)
def test_near_dup_signature_udf_runs_once(spark, op, kw):
    """Every near-dup plan runs its signature UDF once, capped or not: all
    bucket_pairs branches (both self-join sides and the cap's window
    columns) read one Exchange. Inputs are the oracle corpora, where the
    cap binds, so the star branch is live in the executed plan."""
    from osmi_water_spark.operators import dedup as D
    from osmi_water_spark.plans.testdata_queries import EMB_SKEW_FIXTURE
    from osmi_water_spark.sources.docs_gen import dedup_corpus, docs_dataframe

    if op == "embedding_near_dups":
        rows = spark.read.parquet(EMB_SKEW_FIXTURE)
    else:
        rows = docs_dataframe(spark, dedup_corpus())
    df = getattr(D, op)(rows, **kw)
    assert df.collect()  # executes df's own plan, so explain shows the final one
    final = plan_of(df).split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    assert final.count("ArrowEvalPython (") == 1, final


@pytest.mark.parametrize("name", [
    "minhash_near_dups", "minhash_near_dups_capped", "simhash_near_dups",
    "embedding_near_dups", "embedding_near_dups_capped", "ann_cosine_topk", "ann_ivf",
    "multimodal_features", "multimodal_byte_features", "scale_pages",
])
def test_operator_python_stages_are_arrow(spark, name):
    """The operator layer has one batch contract: its Python stages are
    Arrow UDFs (``ArrowEvalPython`` of eval type 250) and ``mapInArrow``;
    no pandas UDF (eval type 200) and no ``mapInPandas``."""
    from pyspark.util import PythonEvalType

    from osmi_water_spark.sources import pages_gen as PG

    df = PG.scale_pages_df(spark, 2) if name == "scale_pages" else Q.QUERIES[name](spark, SF)
    p = plan_of(df)
    assert "InPandas" not in p, p
    evals = re.findall(r"\) ArrowEvalPython\n(?:.*\n)*?Arguments: .*, (\d+)\n", p)
    assert set(evals) <= {str(PythonEvalType.SQL_SCALAR_ARROW_UDF)}, evals
    assert evals or "MapInArrow" in p, p
