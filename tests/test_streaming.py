"""Structured-Streaming ingest tests: incremental extraction keeps up with
arriving page files, restart-safe via checkpoint."""

from __future__ import annotations

from osmi_water_spark.sources import pages_gen as PG
from osmi_water_spark.streaming.incremental import stream_extract


def _write_pages(spark, rows, path):
    PG.pages_dataframe(spark, rows).write.mode("append").parquet(path)


def test_stream_extract_incremental(spark, tmp_path):
    pages_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "entities")
    ckpt = str(tmp_path / "ckpt")

    rows = PG.pages_rows(["w01_chain"])
    _write_pages(spark, rows, pages_dir)
    q = stream_extract(spark, pages_dir, out_dir, ckpt)
    q.awaitTermination(300)
    got1 = spark.read.parquet(out_dir)
    assert got1.count() == len(rows)
    assert set(got1.select("kind").distinct().toPandas()["kind"]) == {"node", "way"}

    # new files arrive; a restarted query processes ONLY the delta
    rows2 = PG.pages_rows(["w02_name_change"])
    _write_pages(spark, rows2, pages_dir)
    q2 = stream_extract(spark, pages_dir, out_dir, ckpt)
    q2.awaitTermination(300)
    got2 = spark.read.parquet(out_dir)
    assert got2.count() == len(rows) + len(rows2)
    # no duplicates: urls unique
    assert got2.select("url").distinct().count() == got2.count()


def test_stream_quality_plan(spark, tmp_path):
    """The windowed-watermark aggregation plan is streamable (no
    unsupported-operation error at analysis time)."""
    from osmi_water_spark.streaming.incremental import stream_text_quality

    pages_dir = str(tmp_path / "pages")
    _write_pages(spark, PG.pages_rows(["w01_chain"]), pages_dir)
    agg = stream_text_quality(spark, pages_dir)
    assert agg.isStreaming
    q = (
        agg.writeStream.format("memory")
        .queryName("quality_counts")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    # append-mode window agg emits only watermark-closed windows (none here);
    # the point is the query runs end-to-end
    spark.sql("select * from quality_counts").collect()


def test_stream_exact_dedup(spark, tmp_path):
    """First occurrence of each content hash survives; later copies (same
    text, later batch within the watermark) are dropped."""
    from osmi_water_spark.streaming.incremental import stream_exact_dedup

    pages_dir = str(tmp_path / "pages")
    rows = PG.pages_rows(["w01_chain"])
    _write_pages(spark, rows, pages_dir)
    # duplicate the same pages again (same text, same timestamps)
    _write_pages(spark, rows, pages_dir)

    deduped = stream_exact_dedup(spark, pages_dir)
    assert deduped.isStreaming
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql("select * from dedup_out").toPandas()
    n_unique = len({r["text"] for r in rows})
    assert len(got) == n_unique
    assert got["text_hash"].nunique() == len(got)


def test_stream_lang_stats_stateful(spark, tmp_path):
    """applyInPandasWithState: the running per-lang stats accumulate across
    micro-batches via the state store (restart carries state forward)."""
    from osmi_water_spark.streaming.incremental import stream_lang_stats

    pages_dir = str(tmp_path / "pages")
    ck = str(tmp_path / "ck2")
    rows = PG.pages_rows(["w01_chain"])
    _write_pages(spark, rows, pages_dir)

    out_dir = str(tmp_path / "stats_out")

    def run_once():
        out = stream_lang_stats(spark, pages_dir)
        q = (
            out.writeStream.foreachBatch(
                lambda df, _id: df.write.mode("append").parquet(out_dir)
            )
            .option("checkpointLocation", ck)
            .outputMode("update").trigger(availableNow=True).start()
        )
        q.awaitTermination(300)
        return spark.read.parquet(out_dir).toPandas()

    got1 = run_once()
    assert got1["docs_seen"].sum() == len(rows)

    # second wave of files -> restarted query resumes state and counts BOTH
    _write_pages(spark, rows, pages_dir)
    got2 = run_once()
    # latest update per lang reflects the running (cross-restart) total
    latest = got2.groupby("lang")["docs_seen"].max()
    assert latest.sum() == 2 * len(rows)


def test_incremental_pipeline_restart_equals_batch(spark, tmp_path):
    """Three incremental_pipeline calls over a growing pages dir: wave 1;
    wave 2, whose restarted ingest reads only the delta and whose tables
    must equal the one-shot batch run over all pages; and a call with no
    new pages, which must resume in wave 2's output dir (same snapshot)
    rather than recompute."""
    from osmi_water_spark.plans.pipeline import run_pipeline
    from osmi_water_spark.streaming.incremental import incremental_pipeline

    pages_dir = str(tmp_path / "pages")
    work = str(tmp_path / "work")
    rows_a = PG.pages_rows(["w01_chain", "w10_relation"])
    rows_b = PG.pages_rows(["w02_name_change", "w12_donut"])
    tables = ("nodes", "ways", "relations", "polygons")

    def files(out):
        return {name: sorted(out[name].inputFiles()) for name in tables}

    _write_pages(spark, rows_a, pages_dir)
    first = files(incremental_pipeline(spark, pages_dir, work, with_lineage=False))

    _write_pages(spark, rows_b, pages_dir)
    out = incremental_pipeline(spark, pages_dir, work, with_lineage=False)

    batch = run_pipeline(
        spark, PG.pages_dataframe(spark, rows_a + rows_b),
        out_dir=None, with_lineage=False,
    )
    for name in tables:
        inc, ref = out[name], batch[name]
        # parquet round-trip flips (nested) nullability flags; names+types
        # must match (simpleString carries no nullability)
        assert [(f.name, f.dataType.simpleString()) for f in inc.schema] == [
            (f.name, f.dataType.simpleString()) for f in ref.schema
        ], name
        assert inc.exceptAll(ref).count() == 0, f"{name}: extra rows"
        assert ref.exceptAll(inc).count() == 0, f"{name}: missing rows"

    # the grown snapshot got a fresh output dir; an unchanged one reuses it
    second = files(out)
    assert all(set(first[n]).isdisjoint(second[n]) for n in tables)
    again = incremental_pipeline(spark, pages_dir, work, with_lineage=False)
    assert files(again) == second


def test_incremental_pipeline_empty_pages(spark, tmp_path):
    """A pages dir that holds no files yet: the sink commits no file, the
    schema check is skipped (there is nothing stale to check), and the
    batch half returns six empty tables from ``out_f00000``."""
    import os

    from osmi_water_spark.streaming.incremental import incremental_pipeline

    pages_dir = str(tmp_path / "pages")
    work = str(tmp_path / "work")
    os.makedirs(pages_dir)
    out = incremental_pipeline(spark, pages_dir, work, with_lineage=False)
    tables = ("nodes", "ways", "relations", "polygons", "tile_validation", "tile_assignment")
    assert {t: out[t].count() for t in tables} == dict.fromkeys(tables, 0)
    assert all("/out_f00000/" in f for t in tables for f in out[t].inputFiles())
    assert os.path.isdir(os.path.join(work, "out_f00000", "tiles"))


def test_incremental_entities_layout(spark, tmp_path):
    """The entities table incremental_pipeline leaves (the file sink,
    partitioned by kind) equals the batch extraction of the same pages,
    including a payload-less page (null kind: the Hive default partition)
    and a malformed-payload page (corrupt = true)."""
    import os
    import re

    from pyspark.sql import functions as F

    from osmi_water_spark.operators.extract import EXTRACT_SCHEMA, extract_entities
    from osmi_water_spark.streaming.incremental import incremental_pipeline

    rows = PG.pages_rows(["w01_chain"])
    broken, payload_less = dict(rows[0]), dict(rows[1])
    broken["html"] = broken["html"].replace(b'"kind"', b'"kin', 1)
    payload_less["html"] = re.sub(
        rb'(?s)<script type="application/osm\+json">.*?</script>', b"",
        payload_less["html"],
    )
    pages = [broken, payload_less, *rows[2:]]
    pages_dir = str(tmp_path / "pages")
    work = str(tmp_path / "work")
    _write_pages(spark, pages, pages_dir)
    incremental_pipeline(spark, pages_dir, work, with_lineage=False)

    ents_dir = os.path.join(work, "entities_stream")
    assert "kind=__HIVE_DEFAULT_PARTITION__" in os.listdir(ents_dir)

    # set operations reject map columns: compare tags as sorted entries
    def comparable(df):
        return df.withColumn("tags", F.array_sort(F.map_entries("tags")))

    got = comparable(spark.read.schema(EXTRACT_SCHEMA).parquet(ents_dir))
    want = comparable(extract_entities(PG.pages_dataframe(spark, pages)))
    assert got.columns == want.columns
    assert got.exceptAll(want).count() == 0, "extra rows"
    assert want.exceptAll(got).count() == 0, "missing rows"
    assert got.filter("corrupt").count() == 1
    assert got.filter("kind IS NULL AND NOT corrupt").count() == 1
