"""Structured-Streaming ingest: incremental extraction over an arriving
``pages`` directory.

The reference is a bounded 3-pass batch job with no streaming semantics
(SURVEY.md §2.10), so the engine's core stays batch; this module covers
the *ingest* half of a production deployment — new page files land in an
object store, extraction keeps up incrementally, and the resumable batch
pipeline runs over the growing entities table. This is the
"batch-incremental" design BASELINE.json:14 asks for: ``readStream`` ->
the batch extraction projection -> Spark's parquet file sink. The
checkpoint's source offsets and the sink's commit log (``_spark_metadata``)
make each page file land exactly once across restarts, and readers of the
sink directory see only the files of committed batches.
"""

from __future__ import annotations

import os

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
) -> StreamingQuery:
    """Incremental pages -> entities: one streaming query that drains the
    page files not yet seen (``availableNow``) into a parquet file sink,
    exactly-once per file, partitioned by entity kind for downstream
    pruning."""
    pages = spark.readStream.schema(PAGES).parquet(pages_dir)
    return (
        extract_entities(pages)  # same JVM-decode projection as batch
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("kind")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


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


def incremental_pipeline(
    spark: SparkSession,
    pages_dir: str,
    work_dir: str,
    **pipeline_kw,
):
    """The batch-incremental composition BASELINE.json's north rule implies:
    ``stream_extract`` drains the pages that arrived since the last call
    into ``work_dir/entities_stream``, then the RESUMABLE batch DAG
    (plans/pipeline.py, per-stage checkpoints + lineage) runs over one
    snapshot of the accumulated entities table. Restart-safe end to end:
    a killed ingest resumes from the streaming checkpoint; a killed batch
    half resumes from its last completed stage.

    Returns the pipeline output dict. The streaming query has terminated
    by then; a failed query raises here.
    """
    from osmi_water_spark.operators.extract import EXTRACT_SCHEMA, validate_entities_schema
    from osmi_water_spark.plans.pipeline import run_pipeline

    ents_dir = os.path.join(work_dir, "entities_stream")
    stream_extract(
        spark, pages_dir, ents_dir, os.path.join(work_dir, "_stream_ckpt")
    ).awaitTermination()
    entities = spark.read.schema(EXTRACT_SCHEMA).parquet(ents_dir)
    n_files = len(entities.inputFiles())
    if n_files:
        # a pre-contract-change entities dir must fail loudly, not be
        # silently null-filled by the forced schema (ADVICE.md r3); a sink
        # that has committed no file yet has no schema to check
        validate_entities_schema(spark, ents_dir)
    # batch-half checkpoints are keyed by the snapshot's committed file
    # count, which grows with every non-empty ingest batch: a call over a
    # GROWN table gets a fresh output dir (stage outputs of the old
    # snapshot are stale), a call over the same snapshot resumes from the
    # last completed stage
    return run_pipeline(
        spark, pages=None, entities=entities,
        out_dir=os.path.join(work_dir, f"out_f{n_files:05d}"),
        resume=True, **pipeline_kw,
    )
