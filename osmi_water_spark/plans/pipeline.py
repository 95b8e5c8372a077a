"""The end-to-end pipeline — the reference's 3-pass ``main()``
(/root/reference/src/waterinspector.cpp:108-153) as a DAG of DataFrame
stages:

  A extract      pages -> nodes/ways/relations          (Arrow UDF scan)
  B locate       J1 equi-join                           (shuffle on node id)
  C assemble     J2 + G2-G4 + O1-O3                     (shuffle on rel id)
  D connectivity J3 + A1-A5 + E1                        (shuffle on node id)
  E passes 3/4   J4 hit-count join + J5 cell PIP join   (shuffles on node id / cell)
                 + E2: one final mask per endpoint node
  F finalize     E5 way-error union + O4 + tiles        (narrow)

The driver runs A and B in line, then the rest as a DAG of run-once
thunks: the way rows (C), the areas and the pass-3 masks (D + E pass 3).
The four output leaves are submitted to a thread pool together, and each
computes or waits for only the thunks it reads, so the way-rows branch
and the areas branch overlap and a resumed leaf computes nothing. The
run's local checkpoints are released once every leaf has settled, on
success and on failure.

Each checkpointable stage can persist to parquet (Iceberg in production)
and is resumable: an existing ``_SUCCESS``-marked output is read back
instead of recomputed, and a ``_lineage`` table records each stage's
output row count + wall time (BASELINE.json:14); a resumed stage keeps
the row of the run that wrote it. A stage's wall time is its own write:
the shared intermediates its build computed or waited for are not in it.
"""

from __future__ import annotations

import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from osmi_water_spark.functions import cells as C
from osmi_water_spark.functions import errors as E
from osmi_water_spark.operators import areas as AR
from osmi_water_spark.operators import assemble as AS
from osmi_water_spark.operators import connectivity as CN
from osmi_water_spark.operators import false_positives as FP
from osmi_water_spark.operators import tiling as TI
from osmi_water_spark.operators.extract import extract_entities, split_entities
from osmi_water_spark.operators.locate import locate_ways, node_locations


@F.arrow_udf(T.BinaryType())
def _point_wkb(lon: pa.Array, lat: pa.Array) -> pa.Array:
    """P12/G1: 21-byte point WKB, built by vectorized scatter into one
    flat binary buffer (functions/wkb_vec.py) instead of per-row
    struct.pack; null iff lon is null/NaN (the previous scalar checked
    only x). Byte-identical — parity-pinned by tests/test_wkb_cells.py."""
    from osmi_water_spark.functions import wkb_vec

    return wkb_vec.point_wkb_array(lon, lat)


class Lineage:
    """Per-stage lineage/metrics collector -> _lineage parquet.

    Row counts come from a ``df.observe()`` aggregation piggybacked on the
    stage's own write action — ZERO extra Spark jobs. (Round 3 ran a
    follow-up ``groupBy(spark_partition_id()).count()`` job over the
    re-read checkpoint per stage: at 100 TB that is a second full read of
    every stage output, and locally it was a measured share of the
    per-stage fixed cost that capped aggregate scaling efficiency. The
    per-partition rows it produced reflected the *re-read's* split, not
    the write's, so only the stage total was ever write-side truth — that
    total is what ``observe`` now records.)"""

    def __init__(self) -> None:
        self.rows: list[dict] = []
        self.resumed: list[str] = []  # stages read back, not written, this run
        self._seq = 0

    def attach(self, stage: str, df: DataFrame):
        """Wrap the stage output with a named Observation; the count is
        collected by the write action itself."""
        from pyspark.sql import Observation

        self._seq += 1
        obs = Observation(f"lineage_{stage}_{self._seq}")
        return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs

    def record(self, stage: str, obs, t0: float) -> None:
        wall = int((time.time() - t0) * 1000)
        self.rows.append(dict(stage=stage, output_rows=int(obs.get["rows"]), wall_ms=wall))

    def write(self, spark: SparkSession, sink: Sink) -> DataFrame:
        """Write ``_lineage``: this run's rows, plus each resumed stage's
        row from the previous ``_lineage`` (collected first — the write
        overwrites the table it is read from)."""
        from osmi_water_spark.schemas import LINEAGE

        rows = list(self.rows)
        if self.resumed and sink.exists(spark, "_lineage"):
            prev = sink.read(spark, "_lineage").where(F.col("stage").isin(self.resumed))
            rows += [r.asDict() for r in prev.collect()]
        sink.write(spark.createDataFrame(rows, LINEAGE), "_lineage")
        return sink.read(spark, "_lineage")


class Sink:
    """Stage-checkpoint writer seam: ``fmt='parquet'`` (this sandbox) or
    ``fmt='iceberg'`` (the production path, BASELINE.json:6 — same code,
    routed through an Iceberg catalog table per stage). The Iceberg branch
    needs the iceberg-spark-runtime jars and a configured catalog
    (``spark.sql.catalog.<name>``), which this environment lacks; the seam
    is exercised with parquet by tests/test_determinism_resume.py and the
    iceberg branch is plain ``writeTo``/``read.table`` calls."""

    def __init__(self, out_dir: str, fmt: str = "parquet", catalog: str | None = None):
        if fmt not in ("parquet", "iceberg"):
            raise ValueError(f"unknown sink format: {fmt}")
        if fmt == "iceberg" and not catalog:
            raise ValueError("iceberg sink needs a catalog (e.g. 'prod.db')")
        self.out_dir, self.fmt, self.catalog = out_dir, fmt, catalog

    def _table(self, name: str) -> str:
        return f"{self.catalog}.{name}"

    def path(self, name: str) -> str:
        return os.path.join(self.out_dir, name)

    def exists(self, spark: SparkSession, name: str) -> bool:
        if self.fmt == "parquet":
            # the path's own Hadoop FileSystem, not os.path: correct on
            # object stores and HDFS too, not only a driver-local POSIX
            # filesystem
            hpath = spark._jvm.org.apache.hadoop.fs.Path(os.path.join(self.path(name), "_SUCCESS"))
            return bool(hpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(hpath))
        return spark.catalog.tableExists(self._table(name))

    def write(self, df: DataFrame, name: str) -> None:
        if self.fmt == "parquet":
            df.write.mode("overwrite").parquet(self.path(name))
        else:
            df.writeTo(self._table(name)).createOrReplace()

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        if self.fmt == "parquet":
            return spark.read.parquet(self.path(name))
        return spark.read.table(self._table(name))


def _checkpoint(df: DataFrame, held: list[DataFrame]) -> DataFrame:
    """Materialize ``df`` now as an eager local checkpoint and add it to
    ``held`` (the run's checkpoints, released by ``_release``).

    Every intermediate with more than one consumer goes through here. A
    downstream plan then reads a ``Scan ExistingRDD`` leaf instead of
    re-embedding the upstream DAG: nested ``.cache()`` plans each carried
    every upstream plan in full (one cold small run rendered ~40 MB of
    plan text, re-rendered by AQE after every query stage), and that
    rendering was the pipeline's fixed cost.

    A local checkpoint lives in executor storage WITHOUT lineage: losing
    an executor that holds a block fails the run instead of recomputing
    it. Checkpointed mode with ``resume=True`` is the durable path."""
    df = df.localCheckpoint(eager=True)
    held.append(df)
    return df


def _release(dfs) -> None:
    """Unpersist local checkpoints made by ``_checkpoint``. They are RDDs
    behind a ``LogicalRDD`` leaf, not CacheManager entries, so
    ``spark.catalog.clearCache()`` does not reach them."""
    for df in dfs:
        df._jdf.logicalPlan().rdd().unpersist(False)


def _stage(sink: Sink | None, name: str, compute, spark: SparkSession,
           lineage: Lineage | None, resume: bool, held: list[DataFrame]) -> DataFrame:
    """One pipeline stage output. With a sink: checkpoint-or-resume, one
    sink table/dir per stage, returned as a read of that table. Without
    one: materialized by ``_checkpoint``, so every consumer reads the
    stored rows. The lineage clock starts once ``compute`` has returned
    the stage's lazy DataFrame: the shared intermediates that ``compute``
    materialized or waited for are not in the stage's ``wall_ms``."""
    if not sink:
        return _checkpoint(compute(), held)
    if resume and sink.exists(spark, name):
        if lineage is not None:
            lineage.resumed.append(name)
        return sink.read(spark, name)
    df = compute()
    t0 = time.time()
    if lineage is not None:
        df, obs = lineage.attach(name, df)
    sink.write(df, name)
    if lineage is not None:
        lineage.record(name, obs, t0)
    return sink.read(spark, name)


def _once(compute):
    """A thread-safe run-once thunk: the first caller runs ``compute``, and
    every later or concurrent caller waits for it and gets the same value
    (or the same exception). The waiters block on a lock held by a running
    thread, never on a queued task."""
    lock = threading.Lock()
    box: list = []

    def get():
        with lock:
            if not box:
                try:
                    box.append((compute(), None))
                except BaseException as e:
                    box.append((None, e))
        value, err = box[0]
        if err is not None:
            raise err
        return value

    return get


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame | None,
    out_dir: str | None = None,
    cell_res: int = C.DEFAULT_RES,
    tile_z: int = 8,
    salt: int = 1,
    resume: bool = False,
    with_lineage: bool = True,
    sink_format: str = "parquet",
    sink_catalog: str | None = None,
    entities: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """pages -> the four output tables + tile tables (+ checkpoints).

    Stages A and B run first, in line. Behind them the run is a DAG of
    run-once thunks (``_once``): ``way_rows`` (C), ``areas`` and
    ``after3`` (D + pass 3). Each is computed by the first consumer that
    needs it; the others wait for it. The four output leaves (ways,
    relations, polygons, nodes) are submitted to a thread pool at once,
    and each pulls only what it reads, so the way-rows branch and the
    areas branch run concurrently. A resumed leaf pulls nothing, so a run
    whose leaves all exist computes no intermediate. The tiles stage reads
    the four leaves.

    Every intermediate that several consumers read (entities, located
    ways, way geometries, areas, pass-3 masks) is materialized once by
    ``_checkpoint`` as a local checkpoint, in both modes. The run releases
    all of them once every leaf has settled, before it returns or raises.
    Without ``out_dir`` (cached mode) the returned tables are materialized
    local checkpoints too, which the caller owns; with ``out_dir`` they
    are reads of the sink tables. Local checkpoints have no lineage, so
    losing an executor mid-run fails the run: checkpointed mode with
    ``resume=True`` is the durable path.

    ``entities``: skip Stage A and run the batch DAG from an
    already-extracted entities table
    (streaming/incremental.py:incremental_pipeline hands over one snapshot
    of the table ``stream_extract``'s file sink has committed)."""
    held: list[DataFrame] = []  # every local checkpoint this run makes
    try:
        sink = Sink(out_dir, sink_format, sink_catalog) if out_dir else None
        lineage = Lineage() if (with_lineage and sink) else None

        # ---- Stage A: extraction (skipped when entities are handed over) ----
        if entities is None:
            if sink and resume and sink.exists(spark, "entities"):
                # contract guard BEFORE the resume-read: a checkpoint written
                # under an older extraction schema must fail loudly here, not
                # null-fill or blow up mid-DAG (ADVICE.md r3)
                from osmi_water_spark.operators.extract import validate_entities_schema

                validate_entities_schema(spark, sink.path("entities"))
            entities = _stage(
                sink, "entities", lambda: extract_entities(pages), spark, lineage, resume, held
            )
        nodes, ways, relations = split_entities(entities)

        # ---- Stage B: locate (J1) ----
        ways_located = _stage(
            sink, "ways_located", lambda: locate_ways(ways, nodes), spark, lineage, resume, held
        )
        locations = node_locations(nodes)

        # ---- Stage C: assembly ----
        way_rows = _once(
            lambda: _checkpoint(AS.build_way_rows(relations, ways_located), held)
        )
        assembled = _once(lambda: AS.assemble_ways(way_rows(), cell_res))
        # areas fan out to the polygons table and the PIP parts; they read
        # only ways_located and relations, so this branch runs beside the
        # way-rows one
        areas = _once(lambda: _checkpoint(AR.build_areas(ways_located, relations), held))

        # ---- Stages D + E pass 3: one mask per endpoint node ----
        # mask-0 nodes ride through both passes unchanged (E4); after3 is
        # read twice by pass 4 (its PIP points and the contained join)
        after3 = _once(lambda: _checkpoint(
            FP.apply_pass3(CN.error_mask(CN.node_stats(assembled()["remembered"])), ways),
            held,
        ))

        def nodes_out() -> DataFrame:
            # ---- Stage E pass 4 + Stage F: the final mask, finalized ----
            # pip_join picks its strategy from an aggregate over the PIP
            # parts (a filter plus an inline of the areas checkpoint): when
            # they fit the broadcast bound, one collect builds a cell index
            # and the points stream through a single mapInArrow probe
            final = FP.apply_pass4(after3(), locations, AR.pip_index(areas()), salt=salt)
            way_error_rows = assembled()["way_errors"].select(
                "node_id", F.lit(E.WAY).alias("final_mask")
            )
            all_nodes = final.unionByName(way_error_rows)
            # location join: normal emission requires a location (handle_node
            # skips unlocated nodes, waterway.hpp:142-147); fixtures locate
            # everything.
            located = all_nodes.join(locations, "node_id", "inner")
            ecols = E.node_output_columns("final_mask")
            return located.select(
                F.col("node_id").cast("string").alias("node_id"),
                *[v.alias(k) for k, v in ecols.items()],
                _point_wkb("lon", "lat").alias("geom_wkb"),
                C.cell_of("lon", "lat", cell_res).alias("h3_cell"),
                "lon",
                "lat",
            )

        leaves = {
            "ways": lambda: assembled()["ways"],
            "relations": lambda: AS.assemble_relations(
                relations, assembled()["geoms"], cell_res
            ),
            "polygons": lambda: AR.polygon_table(areas(), cell_res),
            "nodes": nodes_out,
        }
        # The leaves' stage jobs run CONCURRENTLY (SparkSession is
        # thread-safe). In checkpointed mode this also overlaps four write
        # barriers. One thread per leaf, so no leaf waits in the queue
        # behind a leaf that holds a thunk it needs. Leaving the block
        # waits for every leaf, so the release below runs only after all
        # of them have settled, whether one failed or not.
        out: dict[str, DataFrame] = {}
        with ThreadPoolExecutor(max_workers=len(leaves)) as pool:
            futs = {
                name: pool.submit(_stage, sink, name, compute, spark, lineage, resume, held)
                for name, compute in leaves.items()
            }
            for name, fut in futs.items():
                out[name] = fut.result()

        tv = TI.tile_validation(out["nodes"], tile_z)
        polys_fid = out["polygons"].withColumn(
            "fid", F.when(F.col("way_id") != 0, F.col("way_id")).otherwise(F.col("relation_id"))
        )
        ta = (
            TI.feature_tile_assignment(out["ways"], "ways", "way_id", tile_z)
            .unionByName(TI.feature_tile_assignment(polys_fid, "polygons", "fid", tile_z))
            .unionByName(
                TI.feature_tile_assignment(out["relations"], "relations", "relation_id", tile_z)
            )
        )
        # the two tile tables are FUSED into one stage: a union-with-kind
        # written once, unpartitioned, with the discriminator ``_t`` as a
        # plain column (a partitioned write of an empty table leaves no file
        # to read the schema back from). Round 3 ran them as two
        # jobs with two commits; the per-stage profile showed the small stages
        # at eff 0.4-0.55 — pure fixed cost, halved by the fusion.
        tiles_union = tv.withColumn("_t", F.lit("v")).unionByName(
            ta.withColumn("_t", F.lit("a")), allowMissingColumns=True
        )
        tiles = _stage(sink, "tiles", lambda: tiles_union, spark, lineage, resume, held)
        # every output is now materialized or written: release the checkpoints
        # this run does not return (incremental_pipeline calls it repeatedly)
        returned = {id(tiles), *(id(out[name]) for name in leaves)}
        _release(df for df in held if id(df) not in returned)
        out["tile_validation"] = tiles.filter(F.col("_t") == "v").select(
            "tile_id", "table", "error_class", "n"
        )
        out["tile_assignment"] = tiles.filter(F.col("_t") == "a").select(
            "table", "feature_id", "tile_id"
        )

        if lineage is not None:
            out["_lineage"] = lineage.write(spark, sink)
        return out
    except BaseException:
        # a failed run must not leave its checkpoints behind either
        _release(held)
        raise
