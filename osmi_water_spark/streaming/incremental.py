"""Structured-Streaming ingest: incremental extraction over an arriving
``pages`` directory.

The reference is a bounded 3-pass batch job with no streaming semantics
(SURVEY.md §2.10), so the engine's core stays batch; this module covers
the *ingest* half of a production deployment — new page files land in an
object store, extraction keeps up incrementally, and the batch pipeline
(or its resume path) runs over the growing entities table. Exactly the
"batch-incremental" design BASELINE.json:14 asks for, expressed with
``readStream`` -> the same Arrow extraction -> ``writeStream`` with
checkpointing (restart-safe, exactly-once per file).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from osmi_water_spark.operators.extract import extract_entities
from osmi_water_spark.schemas import PAGES


def stream_extract(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Incremental pages -> entities: one streaming query, file-source
    exactly-once, partitioned by entity kind for downstream pruning."""
    pages = spark.readStream.schema(PAGES).parquet(pages_dir)
    entities = extract_entities(pages)  # same JVM-decode projection as batch
    writer = (
        entities.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("kind")
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_text_quality(
    spark: SparkSession,
    pages_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
):
    """Windowed quality monitoring over the page stream: late data bounded
    by the watermark, counts per (window, lang, quality bucket). Returns
    the streaming DataFrame (caller attaches a sink)."""
    from osmi_water_spark.operators.text import quality_score

    pages = spark.readStream.schema(PAGES).parquet(pages_dir)
    scored = pages.withWatermark("warc_ts", watermark).select(
        "warc_ts", "lang", (quality_score(F.col("text")) / 10).cast("int").alias("q_bucket")
    )
    return scored.groupBy(F.window("warc_ts", window), "lang", "q_bucket").count()


def stream_exact_dedup(
    spark: SparkSession,
    pages_dir: str,
    watermark: str = "2 hours",
):
    """Streaming exact dedup over the arriving page stream: first
    occurrence of each content hash within the watermark horizon is kept,
    later copies are dropped.

    The 100-TB shape: ``dropDuplicatesWithinWatermark`` keeps per-key state
    only until the watermark passes — state is bounded by the duplication
    horizon, not the corpus. (An unbounded-state ``dropDuplicates`` would
    grow forever on an endless crawl.) Returns the streaming DataFrame;
    caller attaches the sink."""
    pages = spark.readStream.schema(PAGES).parquet(pages_dir)
    hashed = pages.withColumn("text_hash", F.md5(F.col("text"))).withWatermark(
        "warc_ts", watermark
    )
    return hashed.dropDuplicatesWithinWatermark(["text_hash"])


_LANG_STATS_OUT = "lang string, docs_seen long, mean_quality double"
_LANG_STATS_STATE = "n long, q_sum double"


def stream_lang_stats(
    spark: SparkSession,
    pages_dir: str,
):
    """Custom stateful streaming operator (``applyInPandasWithState``):
    running per-language document count and mean quality score, updated
    every micro-batch and carried across restarts by the state store.

    This is the engine's demonstration of arbitrary stateful processing —
    the escape hatch for streaming semantics Spark's built-in aggregations
    can't express (the built-in windowed agg is stream_text_quality).
    State per key is two scalars, so a million languages cost ~MBs."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from osmi_water_spark.operators.text import quality_score

    pages = spark.readStream.schema(PAGES).parquet(pages_dir)
    scored = pages.select("lang", quality_score(F.col("text")).alias("q"))

    def update(key, pdfs, state: GroupState):
        n, q_sum = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            q_sum += float(pdf["q"].sum())
        state.update((n, q_sum))
        yield pd.DataFrame(
            {"lang": [key[0]], "docs_seen": [n],
             "mean_quality": [q_sum / n if n else 0.0]}
        )

    return scored.groupBy("lang").applyInPandasWithState(
        update, _LANG_STATS_OUT, _LANG_STATS_STATE, "update",
        GroupStateTimeout.NoTimeout,
    )


# ---------------- incremental full-pipeline orchestration ----------------


def append_entities_batch(batch_df, epoch_id: int, ents_dir: str) -> None:
    """foreachBatch sink for the entities stream: one parquet directory per
    epoch, written atomically and SKIPPED when already committed — after a
    crash Spark replays the last uncommitted epoch, and the idempotency
    check turns the replay into exactly-once (the standard foreachBatch
    contract: the sink must be idempotent by (destination, epoch))."""
    import os as _os

    from osmi_water_spark import fsutil

    dest = _os.path.join(ents_dir, f"epoch={epoch_id}")
    # Hadoop FS API, not os.path: the idempotency check must also hold when
    # ents_dir is an object store / HDFS URI, not only local disk
    if fsutil.exists(batch_df.sparkSession, _os.path.join(dest, "_SUCCESS")):
        return  # replayed epoch — already durable
    batch_df.write.mode("overwrite").parquet(dest)


def incremental_pipeline(
    spark: SparkSession,
    pages_dir: str,
    work_dir: str,
    available_now: bool = True,
    await_stream: bool = True,
    finalize: bool = True,
    **pipeline_kw,
):
    """The batch-incremental composition BASELINE.json's north rule implies:
    Structured Streaming drives extraction incrementally (foreachBatch ->
    epoch-partitioned entities parquet, exactly-once), then the RESUMABLE
    batch DAG (plans/pipeline.py, per-stage checkpoints + lineage) runs
    from the accumulated entities table. Restart-safe end to end: killing
    the stream resumes from the streaming checkpoint; killing the batch
    half resumes from the last completed stage checkpoint.

    Returns (query, out): the streaming query (already drained when
    ``available_now and await_stream``) and the pipeline output dict
    (``None`` unless ``finalize``).
    """
    import functools
    import os as _os

    ents_dir = _os.path.join(work_dir, "entities_stream")
    ckpt_dir = _os.path.join(work_dir, "_stream_ckpt")
    pages = spark.readStream.schema(PAGES).parquet(pages_dir)
    writer = (
        extract_entities(pages)
        .writeStream.foreachBatch(functools.partial(append_entities_batch, ents_dir=ents_dir))
        .option("checkpointLocation", ckpt_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    query = writer.start()
    if available_now and await_stream:
        query.awaitTermination()
    out = None
    if finalize:
        from osmi_water_spark.operators.extract import EXTRACT_SCHEMA
        from osmi_water_spark.plans.pipeline import run_pipeline

        # batch-half checkpoints are keyed by the entities snapshot (epoch
        # count): a finalize CRASH over the same snapshot resumes from the
        # last completed stage; a finalize over a GROWN table gets a fresh
        # checkpoint dir (stage outputs of the old snapshot are stale)
        from osmi_water_spark import fsutil
        from osmi_water_spark.operators.extract import validate_entities_schema

        epochs = [
            d for d in fsutil.list_names(spark, ents_dir) if d.startswith("epoch=")
        ]
        if epochs:
            # a pre-contract-change entities dir must fail loudly, not be
            # silently null-filled by the forced schema (ADVICE.md r3)
            validate_entities_schema(spark, ents_dir)
        entities = spark.read.schema(EXTRACT_SCHEMA).parquet(ents_dir)
        out = run_pipeline(
            spark, pages=None, entities=entities,
            out_dir=_os.path.join(work_dir, f"out_e{len(epochs):05d}"),
            resume=True, **pipeline_kw,
        )
    return query, out
