"""Similarity search over embedding columns: brute-force cosine top-k
(the exact baseline) and an IVF-style bucketed variant (the scale path).

Brute force broadcasts the query set (queries << corpus) and computes the
corpus x queries dot products in one numpy matmul per Arrow batch — the
corpus is streamed, never collected, so this scales to any corpus size
with O(|Q| x d) memory per task. The IVF variant prunes the corpus by
coarse LSH cell first (probe = own cell + neighbors).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from osmi_water_spark.operators.dedup import hyperplane_bucket


def vectors(col: pa.Array) -> np.ndarray:
    """An Arrow list column of equal-length vectors (no null rows) as the
    ``(rows, dim)`` view of its flat value buffer, in the element type."""
    return col.flatten().to_numpy().reshape(len(col), -1)


def row_cosine(a: pa.Array, b: pa.Array) -> np.ndarray:
    """Row-wise cosine of two equal-length vector columns, in float64: a
    threshold decision must not wobble at float32 precision, and the DuckDB
    oracles compute in DOUBLE."""
    a, b = vectors(a).astype(np.float64), vectors(b).astype(np.float64)
    return (a * b).sum(1) / (np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1) + 1e-12)


def pair_cosine(pairs: DataFrame, va: str, vb: str) -> DataFrame:
    """Rows of long ids and two vector columns ``va``, ``vb`` -> the ids and
    the vectors' ``row_cosine`` as ``cosine``, in one ``mapInArrow``."""
    ids = [c for c in pairs.columns if c not in (va, vb)]

    def batch(it):
        for rb in it:
            if rb.num_rows == 0:
                continue
            cos = row_cosine(rb.column(va), rb.column(vb))
            yield rb.select(ids).append_column("cosine", pa.array(cos))

    return pairs.mapInArrow(batch, "".join(f"{c} long, " for c in ids) + "cosine double")


def cosine_topk_bruteforce(
    corpus: DataFrame, queries: DataFrame, k: int = 5,
    id_col: str = "vec_id", vec_col: str = "embedding",
    exclude_self: bool = True, max_queries: int = 100_000,
) -> DataFrame:
    """-> (query_id, rank, neighbor_id, cosine); rank by (-cosine, id).

    The query set is collected + broadcast by contract (queries << corpus);
    ``max_queries`` guards the driver against a caller passing the corpus
    as the query side."""
    spark = corpus.sparkSession
    q = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
        .limit(max_queries + 1)
        .toArrow()
    )
    if q.num_rows > max_queries:
        raise ValueError(
            f"cosine_topk_bruteforce broadcasts the query side; got more than "
            f"{max_queries} query rows — swap sides or raise max_queries"
        )
    if not q.num_rows:
        return spark.createDataFrame([], "query_id long, rank int, neighbor_id long, cosine double")
    qids = q.column("query_id").to_numpy()
    qm = vectors(q.column("qv").combine_chunks()).astype(np.float64)
    qm = qm / (np.linalg.norm(qm, axis=1, keepdims=True) + 1e-12)
    bq = spark.sparkContext.broadcast((qids, qm))

    def batch(it):
        ids, mat = bq.value
        for rb in it:
            if rb.num_rows == 0:
                continue
            cm = vectors(rb.column("v")).astype(np.float64)
            cm = cm / (np.linalg.norm(cm, axis=1, keepdims=True) + 1e-12)
            sims = cm @ mat.T  # (batch, Q)
            nid = rb.column("nid").to_numpy()
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.repeat(ids, len(nid))), pa.array(np.tile(nid, len(ids))),
                 pa.array(sims.T.ravel())],
                ["query_id", "neighbor_id", "cosine"],
            )

    scored = corpus.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("v")
    ).mapInArrow(batch, "query_id long, neighbor_id long, cosine double")
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def cosine_topk_ivf(
    corpus: DataFrame, queries: DataFrame, k: int = 5,
    id_col: str = "vec_id", vec_col: str = "embedding",
    bits: int = 6, probe_flips: int = 2, exclude_self: bool = True,
) -> DataFrame:
    """IVF/LSH-bucketed ANN: corpus bucketed by the low ``bits`` bits of
    the near-dup hyperplane bucket (``dedup.hyperplane_bucket``, at most
    16); each query multiprobes its bucket and all buckets within
    ``probe_flips`` bit flips. Approximate — recall grows with probes; on
    corpora with genuinely close neighbors (high cosine) recall is near 1,
    on uniform-random vectors it degrades (the neighbors are barely closer
    than everything else)."""
    if bits > 16:
        raise ValueError(f"cosine_topk_ivf: bits={bits}, the hyperplane bucket has 16")
    low = (1 << bits) - 1
    # probe i of a query is its bucket XOR masks[i]: every mask of at most
    # probe_flips set bits, enumerated once here
    masks = [m for m in range(low + 1) if m.bit_count() <= probe_flips]

    c = corpus.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("v"),
        hyperplane_bucket(vec_col).bitwiseAND(low).alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        hyperplane_bucket(vec_col).bitwiseAND(low).alias("home"),
    ).select(
        "query_id", "qv",
        F.explode(F.transform(F.lit(masks), lambda m: F.col("home").bitwiseXOR(m))).alias("bucket"),
    )

    cand = q.join(c, "bucket", "inner")
    if exclude_self:
        cand = cand.filter(F.col("query_id") != F.col("nid"))

    scored = pair_cosine(
        cand.select("query_id", F.col("nid").alias("neighbor_id"), "qv", "v"), "qv", "v"
    ).dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )
