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
    """The foreachBatch-orchestrated incremental pipeline, killed between
    micro-batch waves and restarted from its checkpoint, must produce
    byte-equal output tables to the one-shot batch run over all pages."""
    from osmi_water_spark.plans.pipeline import run_pipeline
    from osmi_water_spark.streaming.incremental import incremental_pipeline

    pages_dir = str(tmp_path / "pages")
    work = str(tmp_path / "work")
    rows_a = PG.pages_rows(["w01_chain", "w10_relation"])
    rows_b = PG.pages_rows(["w02_name_change", "w12_donut"])

    # wave 1 arrives; stream drains and stops (the "kill" between waves)
    _write_pages(spark, rows_a, pages_dir)
    q1, _ = incremental_pipeline(spark, pages_dir, work, finalize=False)
    assert not q1.isActive

    # wave 2 arrives; RESTARTED query processes only the delta, then the
    # resumable batch DAG finalizes from the accumulated entities table
    _write_pages(spark, rows_b, pages_dir)
    _, out = incremental_pipeline(spark, pages_dir, work, with_lineage=False)

    batch = run_pipeline(
        spark, PG.pages_dataframe(spark, rows_a + rows_b),
        out_dir=None, with_lineage=False,
    )
    for name in ("nodes", "ways", "relations", "polygons"):
        inc, ref = out[name], batch[name]
        # parquet round-trip flips (nested) nullability flags; names+types
        # must match (simpleString carries no nullability)
        assert [(f.name, f.dataType.simpleString()) for f in inc.schema] == [
            (f.name, f.dataType.simpleString()) for f in ref.schema
        ], name
        assert inc.exceptAll(ref).count() == 0, f"{name}: extra rows"
        assert ref.exceptAll(inc).count() == 0, f"{name}: missing rows"


def test_append_entities_batch_epoch_replay_idempotent(spark, tmp_path):
    """A replayed foreachBatch epoch (crash between sink write and offset
    commit) must not duplicate rows."""
    from osmi_water_spark.operators.extract import extract_entities
    from osmi_water_spark.streaming.incremental import append_entities_batch

    ents_dir = str(tmp_path / "ents")
    df = extract_entities(PG.pages_dataframe(spark, PG.pages_rows(["w01_chain"])))
    append_entities_batch(df, 0, ents_dir)
    n1 = spark.read.parquet(ents_dir).count()
    append_entities_batch(df, 0, ents_dir)  # replay of the SAME epoch
    assert spark.read.parquet(ents_dir).count() == n1
    # a replay carrying DIFFERENT rows (nondeterministic upstream) must
    # still be skipped — the committed epoch is the durable truth
    df2 = extract_entities(PG.pages_dataframe(spark, PG.pages_rows(["w02_chain"])))
    append_entities_batch(df2, 0, ents_dir)
    assert spark.read.parquet(ents_dir).count() == n1
    append_entities_batch(df, 1, ents_dir)  # a genuinely new epoch appends
    assert spark.read.parquet(ents_dir).count() == 2 * n1
