"""Stage A extraction: byte-identical text per url + entity round-trip."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from osmi_water_spark.operators.extract import extract_entities, split_entities
from osmi_water_spark.schemas import PAGES
from osmi_water_spark.sources import pages_gen as PG

# (id, html, visible text)
TEXT_CASES = [
    ("script_multiline_attrs",
     b'<html><script type="text/javascript" async>\nvar a = 1;\nvar b = "<p>";\n'
     b"</script><p>Hello</p></html>", "Hello"),
    ("script_unclosed", b"<p>A</p><script>var x = 1;<p>B</p>", "A\nvar x = 1;B"),
    ("closer_inside_script", b'<script>document.write("</p>")</script><p>x</p>', "x"),
    ("trailing_lf_cr", b"<p>a</p>\n\r", "a\n\n\r"),
    ("trailing_crlf", b"<p>a</p>\r\n", "a\n\r"),
    ("trailing_cr", b"<p>x</p>\r", "x\n\r"),
    ("script_uppercase", b"<SCRIPT>alert(1)</SCRIPT><div>d</div>", "alert(1)d"),
    ("null_html", None, None),
    ("utf8", "<h1>Zürich — 東京</h1><p>é</p>".encode(), "Zürich — 東京\né"),
    ("trailing_newlines", b"<title>T</title>\n\n", "T"),
    ("empty", b"", ""),
    ("gt_in_attr", b'<a href="x>y">link</a>', 'y">link'),
    ("list_items", b"<li>one</li><li>two</li>\n", "one\ntwo"),
    # undecodable bytes become U+FFFD; the other pages are unaffected
    ("invalid_utf8", b"<p>caf\xe9</p>\n", "caf\ufffd"),
]


@pytest.fixture(scope="module")
def visible_text(spark):
    """All TEXT_CASES through ``extract_entities`` in one query: id -> text."""
    pages = spark.createDataFrame(
        [(cid, None, html, None, None) for cid, html, _ in TEXT_CASES], PAGES
    )
    return {r.url: r.text for r in extract_entities(pages).select("url", "text").collect()}


@pytest.mark.parametrize("cid,html,text", TEXT_CASES, ids=[c[0] for c in TEXT_CASES])
def test_visible_text_edge_cases(visible_text, cid, html, text):
    assert visible_text[cid] == text


def test_text_byte_identity(spark):
    rows = PG.pages_rows()
    pages = PG.pages_dataframe(spark, rows)
    extracted = extract_entities(pages)
    joined = pages.select("url", F.col("text").alias("truth")).join(
        extracted.select("url", "text"), "url"
    )
    bad = joined.filter(
        (F.col("text") != F.col("truth")) | F.col("text").isNull()
    ).count()
    assert bad == 0
    assert joined.count() == len(rows)
    # byte-level (not just string) equality
    sample = joined.limit(50).collect()
    for r in sample:
        assert r.text.encode() == r.truth.encode()


def test_entity_roundtrip(spark):
    rows = PG.pages_rows(["w10_relation"])
    pages = PG.pages_dataframe(spark, rows)
    nodes, ways, relations = split_entities(extract_entities(pages))
    assert nodes.count() == 7
    w = {r.id: r for r in ways.collect()}
    assert len(w) == 3
    wid = 10 * 100_000 + 50_000 + 1
    assert w[wid].tags["waterway"] == "river" and w[wid].tags["name"] == "R"
    assert list(w[wid].node_ids) == [10 * 100_000 + 1, 10 * 100_000 + 2]
    assert w[wid].ts is not None
    rel = relations.first()
    assert [m.type for m in rel.members] == ["way", "way", "way", "node"]
    assert rel.tags["type"] == "waterway"


def test_scale_generator_deterministic(spark):
    a = PG.scale_pages_rows(5)
    b = PG.scale_pages_rows(5)
    assert a == b
    assert len(a) == 80  # 16 entities per chain (11 nodes + 5 ways)
    assert len({r["url"] for r in a}) == 80  # urls unique


def test_corrupt_payload_flagged(spark):
    """A present-but-malformed osm+json payload must be FLAGGED, not
    silently decoded to an all-null entity indistinguishable from a
    payload-less page (ADVICE.md r3)."""
    rows = PG.pages_rows(["w01_chain"])[:3]
    good = dict(rows[0])
    broken = dict(rows[1])
    broken["html"] = broken["html"].replace(b'"kind"', b'"kin', 1)  # malformed JSON
    payload_less = dict(rows[2])
    import re as _re

    payload_less["html"] = _re.sub(
        rb'(?s)<script type="application/osm\+json">.*?</script>', b"",
        payload_less["html"],
    )
    out = extract_entities(PG.pages_dataframe(spark, [good, broken, payload_less]))
    by_url = {r.url: r for r in out.collect()}
    assert by_url[good["url"]].corrupt is False and by_url[good["url"]].kind is not None
    assert by_url[broken["url"]].corrupt is True and by_url[broken["url"]].kind is None
    assert by_url[payload_less["url"]].corrupt is False
    assert by_url[payload_less["url"]].kind is None


def test_corrupt_flag_concrete_on_null_html(spark):
    """A NULL html page must yield corrupt=False, not NULL: length(NULL)>0
    is NULL and three-valued logic would otherwise leak NULL into the flag,
    breaking boolean filters/counts on it (ADVICE.md r4)."""
    rows = PG.pages_rows(["w01_chain"])[:1]
    null_html = dict(rows[0])
    null_html["html"] = None
    out = extract_entities(PG.pages_dataframe(spark, [null_html])).collect()[0]
    assert out.corrupt is False  # concrete boolean, not None
    assert out.kind is None
    # and the flag column is filterable as a plain boolean
    df = extract_entities(PG.pages_dataframe(spark, [null_html, dict(rows[0])]))
    assert df.filter(~F.col("corrupt")).count() == 2


def test_stale_entities_checkpoint_fails_loudly(spark, tmp_path):
    """A checkpoint written under an older extraction contract (string
    members) must raise a clear stale-checkpoint error on resume, not be
    silently null-filled (ADVICE.md r3)."""
    import pytest

    from osmi_water_spark.operators.extract import validate_entities_schema

    old = spark.createDataFrame(
        [("u", "t", "way", 1, None, None, "[1,2]", "[]", "{}", 0)],
        "url string, text string, kind string, id long, lon double, "
        "lat double, node_ids string, members string, tags string, ts long",
    )
    path = str(tmp_path / "entities")
    old.write.parquet(path)
    with pytest.raises(ValueError, match="stale entities checkpoint"):
        validate_entities_schema(spark, path)


def test_mixed_epoch_checkpoint_fails_loudly(spark, tmp_path):
    """A MIXED-version entities dir — old-contract files plus new-contract
    batches appended after an engine upgrade, the exact incremental_pipeline
    scenario the guard targets — must fail validation even when Spark's
    single-footer schema sampling would happen to pick a new-contract file
    (ADVICE.md r4: validate with mergeSchema so every file is checked)."""
    import pytest

    from osmi_water_spark.operators.extract import (
        EXTRACT_SCHEMA,
        validate_entities_schema,
    )
    from osmi_water_spark.sources import pages_gen as PG2

    def append(df, path):  # the streaming file sink's layout
        df.write.mode("append").partitionBy("kind").parquet(path)

    path = str(tmp_path / "entities")
    # OLD contract (string members/tags — pre-typed-columns engine)
    append(spark.createDataFrame(
        [("u", "t", "way", 1, None, None, "[1,2]", "[]", "{}", 0)],
        "url string, text string, kind string, id long, lon double, "
        "lat double, node_ids string, members string, tags string, ts long",
    ), path)
    # CURRENT contract, appended later
    append(extract_entities(
        PG2.pages_dataframe(spark, PG.pages_rows(["w01_chain"])[:2])
    ), path)
    with pytest.raises(ValueError, match="stale entities checkpoint"):
        validate_entities_schema(spark, path)
    # sanity: a PURE current-contract dir still validates clean
    clean = str(tmp_path / "entities_clean")
    append(extract_entities(
        PG2.pages_dataframe(spark, PG.pages_rows(["w01_chain"])[:2])
    ), clean)
    validate_entities_schema(spark, clean)
    assert EXTRACT_SCHEMA  # contract string stays importable for callers
