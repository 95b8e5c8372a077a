"""The two workloads, each a closed loop with a single client: one driver
process on ``local[4]`` running one iteration at a time.

A run writes the seeded inputs to parquet and computes the expected
outputs, then starts the Spark session (``setup_s``) and iterates until
``--seconds`` have passed, at least once. An iteration reads its input from
parquet inside the timed window and is checked for correctness outside it.
Every iteration of either workload takes longer than a second on a fresh
session, so with ``--seconds 1`` a run is one cold iteration: the cost a
batch job submitted on its own session pays (JVM code generation and JIT,
Python worker start-up and the work itself).

With ``--trace 1`` the run makes one traced iteration instead and then runs
the per-layer probes.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import checks
import inputs
import layers

MASTER = "local[4]"
HARD_LIMIT_S = 160.0       # no iteration starts after this much process time
STAGE_RUNS_BY_S = 95.0     # traced pipeline: the isolated stage runs and the
CKPT_BY_S = 125.0          # checkpointed iteration start only before this
                           # much process time
PIPELINE_PAGES = 4000      # pipeline_small input size, in pages
ALL_TABLES = checks.PIPELINE_TABLES + checks.TILE_TABLES

# pipeline stage -> the public functions run_pipeline calls for it
STAGES = {
    "extract": ["osmi_water_spark.plans.pipeline.extract_entities"],
    "locate": ["osmi_water_spark.plans.pipeline.locate_ways"],
    "assemble": ["osmi_water_spark.operators.assemble.build_way_rows",
                 "osmi_water_spark.operators.assemble.assemble_ways",
                 "osmi_water_spark.operators.assemble.assemble_relations"],
    "areas": ["osmi_water_spark.operators.areas.build_areas",
              "osmi_water_spark.operators.areas.polygon_table",
              "osmi_water_spark.operators.areas.pip_index"],
    "connectivity": ["osmi_water_spark.operators.connectivity.node_stats",
                     "osmi_water_spark.operators.connectivity.error_mask"],
    "false_positives.pass3": ["osmi_water_spark.operators.false_positives.apply_pass3"],
    "false_positives.pass4": ["osmi_water_spark.operators.false_positives.apply_pass4"],
    "tiling": ["osmi_water_spark.operators.tiling.tile_validation",
               "osmi_water_spark.operators.tiling.feature_tile_assignment"],
}
RUN_PIPELINE = "osmi_water_spark.plans.pipeline.run_pipeline"
PIP_JOIN = "osmi_water_spark.operators.spatial_join.pip_join"
PIP_DECIDE = "osmi_water_spark.operators.spatial_join.should_broadcast_parts"
NP_COVER = "osmi_water_spark.functions.cells.np_cover"
SINK_STAGES = ("entities", "ways_located", "ways", "relations", "polygons", "nodes", "tiles")
STAGE_METRICS = ("exec_s", "tasks", "cpu_s", "gc_s", "shuffle_read_bytes",
                 "shuffle_write_bytes", "spill_bytes")

# operator set: metric name -> (testdata query or operator, oracle key)
OPERATORS = {
    "spatial_join.pip_pinned_s": ("q_j5_pip", "j5_pip"),
    "spatial_join.pip_salted_s": ("q_j5_pip_salted", "j5_pip_salted"),
    "spatial_join.pip_auto_s": ("q_j5_pip_auto", "j5_pip_auto"),
    "connectivity.query_s": ("q_j3_connectivity", "j3_connectivity"),
    "locate.query_s": ("q_j1_locate", "j1_locate"),
    "knn.exact_s": ("q_j6_knn", "j6_knn"),
    "cells.tiles_s": ("q_tiles", "tiles"),
    "testdata_queries.map_layers_s": ("q_map_layers", "map_layers"),
    "testdata_queries.map_layers_relations_s": ("q_map_layers_relations", "map_layers_relations"),
    "testdata_queries.map_layers_nodes_s": ("q_map_layers_nodes", "map_layers_nodes"),
    "testdata_queries.map_layers_polygons_s": ("q_map_layers_polygons", "map_layers_polygons"),
    "dedup.exact_s": ("q_dedup_exact", "dedup_exact"),
    "dedup.minhash_s": ("minhash", None),
    "dedup.simhash_s": ("simhash", None),
    "dedup.embedding_s": ("q_embedding_near_dups", "embedding_near_dups"),
    "similarity.ann_s": ("q_ann_cosine_topk", "ann_cosine_topk"),
    "text.stats_s": ("q_text_stats", "text_stats"),
}
MINHASH_THRESHOLD, SIMHASH_MAX_HAMMING = 0.5, 8
OPERATOR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
                   "documents", "embeddings")


def per_layer_names() -> list[str]:
    """Every per-layer metric either workload reports, in output order."""
    names = [
        "pipeline.construct_s", "pipeline.construct_jobs", "pipeline.py4j_calls",
        "pipeline.jobs", "pipeline.stages", "pipeline.tasks", "pipeline.persisted_after",
        "pipeline.residual_s",
        "spatial_join.pip_join.call_s", "spatial_join.pip_join.call_jobs",
        "spatial_join.parts", "spatial_join.points_in", "spatial_join.pairs_out",
        "spatial_join.hit_ratio", "spatial_join.cover_cells",
    ]
    names += [f"{s}.{m}" for s in STAGES for m in STAGE_METRICS]
    names += ["sink.ckpt_wall_s", "sink.bytes_per_page"] + [f"sink.bytes.{s}" for s in SINK_STAGES]
    names += list(OPERATORS) + ["operators.jobs", "operators.stages", "operators.tasks"]
    names += ["trace.wall_s", "trace.overhead_s", "spark.jvm_peak_rss_mb"]
    return names


# ------------------------------------------------------------------ common

def closed_loop(wl, seconds: float, hard_stop: float):
    """Run ``wl`` iterations back to back until ``seconds`` have passed, at
    least once; no iteration starts after ``hard_stop`` (a perf_counter
    value). Returns (walls of passed iterations, attempted, failed)."""
    walls: list[float] = []
    attempted = failed = 0
    end = time.perf_counter() + seconds
    while True:
        attempted += 1
        failed += not run_checked(wl, walls)
        now = time.perf_counter()
        if now >= end or now >= hard_stop:
            return walls, attempted, failed


def run_checked(wl, walls: list[float], **kw) -> bool:
    """One iteration of ``wl``: ``run_once(**kw)`` returns (wall, output) and
    the iteration passes when it does not raise and ``check(output)`` holds.
    Appends the wall of a passed iteration to ``walls``; clears the caches
    either way."""
    try:
        wall, out = wl.run_once(**kw)
        ok = bool(wl.check(out))
    except Exception:  # noqa: BLE001 - a failed iteration is counted, not fatal
        traceback.print_exc(file=sys.stderr)
        ok = False
    finally:
        wl.after_iteration()
    if ok:
        walls.append(wall)
    return ok


def before(deadline: float, what: str) -> bool:
    """True while ``deadline`` has not passed; says on stderr what is skipped."""
    if time.perf_counter() < deadline:
        return True
    print(f"perfbench: time is up, {what} skipped", file=sys.stderr)
    return False


def median_or_zero(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def start_spark(work: str):
    from osmi_water_spark import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="perfbench", master=MASTER, shuffle_partitions=4,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Duser.timezone=UTC -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - still running: kill and reap
            proc.kill()
            proc.wait(timeout=30)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    return layers.peak_rss_mb(pid)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------- pipeline

class Pipeline:
    def __init__(self, seed: int, work: str):
        self.work = work
        self.groups, self.mix = inputs.pipeline_groups(seed, PIPELINE_PAGES)
        self.pages_dir = os.path.join(work, "pages")
        self.rows = inputs.write_pages(self.groups, self.pages_dir)
        self.want = checks.oracle_tables(self.groups)
        self.want_tiles = checks.tile_expected(self.want)

    def bind(self, spark) -> None:
        self.spark = spark

    def run_once(self, out_dir: str | None = None):
        from osmi_water_spark.plans import pipeline as P

        t0 = time.perf_counter()
        pages = self.spark.read.parquet(self.pages_dir)
        out = P.run_pipeline(self.spark, pages, out_dir=out_dir, with_lineage=False)
        with ThreadPoolExecutor(max_workers=len(ALL_TABLES)) as ex:
            list(ex.map(lambda t: out[t].count(), ALL_TABLES))
        return time.perf_counter() - t0, out

    def check(self, out) -> bool:
        with ThreadPoolExecutor(max_workers=len(ALL_TABLES)) as ex:
            rows = dict(zip(ALL_TABLES, ex.map(lambda t: out[t].collect(), ALL_TABLES)))
        bad = checks.diff_tables(checks.engine_tables(rows), self.want)
        bad += checks.tile_diff(rows["tile_validation"], rows["tile_assignment"], self.want_tiles)
        if bad:
            print(f"perfbench: pipeline tables differ from the oracle: {bad}", file=sys.stderr)
        return not bad

    def after_iteration(self) -> None:
        # CacheManager is plan-keyed: without this, the next iteration would
        # read this one's caches
        self.spark.catalog.clearCache()

    # ---- traced run ----
    def traced(self, t_proc: float) -> tuple[dict, dict, int, int]:
        """One traced iteration, then the isolated stage runs and one
        checkpointed iteration; the last two start only before their
        deadline (seconds after ``t_proc``, the process start) and read 0
        otherwise. Returns (metrics, labels, attempted, failed)."""
        spark = self.spark
        py4j = layers.Py4jCounter(spark.sparkContext)
        counters = layers.SparkCounters(spark.sparkContext, py4j)
        targets = [RUN_PIPELINE, PIP_JOIN, PIP_DECIDE, NP_COVER] + [k for ks in STAGES.values() for k in ks]
        taps = layers.FunctionTaps(targets, py4j, counters)
        labels: dict = {}
        m: dict = {}
        wall, ok = 0.0, False
        try:
            try:
                m0 = counters.mark()
                with taps:
                    wall, out = self.run_once()
                m1 = counters.mark()
                ok = self.check(out)
                m.update(self._iteration_layers(taps, counters, m0, m1, labels))
            except Exception:  # noqa: BLE001 - counted as a failed iteration
                traceback.print_exc(file=sys.stderr)
            m["trace.wall_s"] = wall
            m["trace.overhead_s"] = py4j.overhead_s + counters.overhead_s
            self.after_iteration()
            stages = (self._isolated_stages(taps, counters)
                      if before(t_proc + STAGE_RUNS_BY_S, "stage runs") else {})
            sink, ok_ckpt = (self._checkpointed()
                             if before(t_proc + CKPT_BY_S, "checkpointed iteration") else ({}, None))
        finally:
            py4j.close()
        for stage, vals in stages.items():
            for f in STAGE_METRICS:
                m[f"{stage}.{f}"] = vals[f]
        if stages:
            m["pipeline.residual_s"] = wall - sum(v["exec_s"] for v in stages.values())
        m.update(sink)
        if ok_ckpt is None:
            return m, labels, 1, int(not ok)
        return m, labels, 2, int(not ok) + int(not ok_ckpt)

    def _iteration_layers(self, taps, counters, m0, m1, labels) -> dict:
        rp, pj = taps.stats[RUN_PIPELINE], taps.stats[PIP_JOIN]
        it = counters.stages(m0, m1)
        m = {
            "pipeline.construct_s": rp["call_s"],
            "pipeline.construct_jobs": rp["jobs"],
            "pipeline.py4j_calls": rp["py4j"],
            "pipeline.jobs": it["jobs"],
            "pipeline.stages": it["stages"],
            "pipeline.tasks": it["tasks"],
            "pipeline.persisted_after": counters.persisted_rdds(),
            "spatial_join.pip_join.call_s": pj["call_s"],
            "spatial_join.pip_join.call_jobs": pj["jobs"],
        }
        calls = taps.calls[PIP_JOIN]
        if calls:
            (points, parts, *_), kw, pairs = calls[-1]
            n_pts, n_parts, n_pairs = points.count(), parts.count(), pairs.count()
            m.update({
                "spatial_join.parts": n_parts, "spatial_join.points_in": n_pts,
                "spatial_join.pairs_out": n_pairs,
                "spatial_join.hit_ratio": n_pairs / n_pts if n_pts else 0.0,
            })
            decided = [c[2] for c in taps.calls[PIP_DECIDE]]
            broadcast = kw.get("broadcast_parts")
            broadcast = decided[-1] if broadcast is None and decided else broadcast
            covers = taps.calls[NP_COVER]
            cover_cells = len(covers[-1][2][1]) if covers else 0
            m["spatial_join.cover_cells"] = cover_cells
            from osmi_water_spark.operators import spatial_join as SJ

            labels["pip_join.arm"] = (
                "shuffle" if not broadcast
                else "probe" if cover_cells <= SJ.MAX_PROBE_CELLS else "broadcast_shuffle")
        labels["py4j_calls_definition"] = (
            "py4j send_command round-trips from any driver thread between entry to "
            "and return from run_pipeline()")
        return m

    def _isolated_stages(self, taps, counters) -> dict[str, dict]:
        """Each stage's public functions re-run on cached, materialized
        copies of the arguments they got in the last traced iteration; the
        timed part is the call plus a noop-sink write of every DataFrame it
        returns."""
        from pyspark.sql import DataFrame

        out = {}
        for stage, keys in STAGES.items():
            tot = dict.fromkeys(STAGE_METRICS, 0.0)
            for key in keys:
                fn = taps.originals.get(key)
                for args, kw, _ in taps.calls.get(key, []) if fn else []:
                    try:
                        args = [a.cache() if isinstance(a, DataFrame) else a for a in args]
                        kw = {k: v.cache() if isinstance(v, DataFrame) else v for k, v in kw.items()}
                        for df in layers.dataframes(args) + layers.dataframes(kw):
                            df.count()
                        m0, t0 = counters.mark(), time.perf_counter()
                        for df in layers.dataframes(fn(*args, **kw)):
                            noop(df)
                        tot["exec_s"] += time.perf_counter() - t0
                    except Exception:  # noqa: BLE001 - the stage reads as not measured
                        traceback.print_exc(file=sys.stderr)
                        continue
                    st = counters.stages(m0, counters.mark())
                    for f in STAGE_METRICS[1:]:
                        tot[f] += st[f]
            out[stage] = tot
        self.spark.catalog.clearCache()
        return out

    def _checkpointed(self) -> tuple[dict, bool]:
        """One iteration in checkpointed mode (parquet Sink) for the sink
        layer: bytes written per stage and the iteration's wall."""
        ck = os.path.join(self.work, "ckpt")
        shutil.rmtree(ck, ignore_errors=True)
        ok = False
        wall = 0.0
        try:
            wall, out = self.run_once(out_dir=ck)
            ok = self.check(out)
        except Exception:  # noqa: BLE001 - counted as a failed iteration
            traceback.print_exc(file=sys.stderr)
        self.after_iteration()
        m = {f"sink.bytes.{s}": dir_bytes(os.path.join(ck, s)) for s in SINK_STAGES}
        m["sink.bytes_per_page"] = sum(m.values()) / self.rows
        m["sink.ckpt_wall_s"] = wall
        shutil.rmtree(ck, ignore_errors=True)
        return m, ok


# --------------------------------------------------------------- operators

class Operators:
    def __init__(self, seed: int, work: str):
        from osmi_water_spark.plans import testdata_queries as Q

        self.dir = os.path.join(work, "tables")
        tables = inputs.operator_tables(seed)
        inputs.write_operator_tables(tables, self.dir)
        self.texts = tables["documents"].column("text").to_pylist()
        sql = {op: Q.ORACLES[key] for op, (_, key) in OPERATORS.items() if key}
        self.want = checks.duckdb_expected(self.dir, OPERATOR_TABLES, sql)
        self.mix = {t: tables[t].num_rows for t in OPERATOR_TABLES}
        self.op_walls: dict[str, float] = {}

    def bind(self, spark) -> None:
        self.spark = spark

    def _build(self, op: str):
        from osmi_water_spark.operators.dedup import minhash_near_dups, simhash_near_dups
        from osmi_water_spark.plans import testdata_queries as Q

        fn = OPERATORS[op][0]
        if fn == "minhash":
            docs = self.spark.read.parquet(f"{self.dir}/documents.parquet")
            return minhash_near_dups(docs, threshold=MINHASH_THRESHOLD)
        if fn == "simhash":
            docs = self.spark.read.parquet(f"{self.dir}/documents.parquet")
            return simhash_near_dups(docs, max_hamming=SIMHASH_MAX_HAMMING)
        return getattr(Q, fn)(self.spark, self.dir)

    def run_once(self, counters=None):
        """Every operator query once, result pulled to the driver as Arrow."""
        results = {}
        self.op_walls = {}
        self.op_counts = {}
        t0 = time.perf_counter()
        for op in OPERATORS:
            m0 = counters.mark() if counters else None
            t = time.perf_counter()
            results[op] = self._build(op).toArrow()
            self.op_walls[op] = time.perf_counter() - t
            if counters:
                self.op_counts[op] = (m0, counters.mark())
        return time.perf_counter() - t0, results

    def check(self, results) -> bool:
        bad = []
        for op, (fn, key) in OPERATORS.items():
            tbl = results[op]
            if fn == "minhash":
                ok = checks.check_minhash(tbl, self.texts, MINHASH_THRESHOLD)
            elif fn == "simhash":
                ok = checks.check_simhash(tbl, self.texts, SIMHASH_MAX_HAMMING)
            else:
                ok = checks.arrow_digest(tbl) == self.want[op]
            if not ok:
                bad.append(op)
        if bad:
            print(f"perfbench: operator results differ from the oracle: {bad}", file=sys.stderr)
        return not bad

    def after_iteration(self) -> None:
        self.spark.catalog.clearCache()

    def traced(self, t_proc: float) -> tuple[dict, dict, int, int]:
        """One traced pass: per-query wall and Spark counters."""
        py4j = layers.Py4jCounter(self.spark.sparkContext)
        counters = layers.SparkCounters(self.spark.sparkContext, py4j)
        walls: list[float] = []
        try:
            ok = run_checked(self, walls, counters=counters)
            m = dict(self.op_walls)
            tot = dict.fromkeys(("jobs", "stages", "tasks"), 0)
            for m0, m1 in self.op_counts.values():
                st = counters.stages(m0, m1)
                for k in tot:
                    tot[k] += st[k]
        finally:
            py4j.close()
        m.update({f"operators.{k}": v for k, v in tot.items()})
        m["trace.wall_s"] = walls[0] if walls else 0.0
        m["trace.overhead_s"] = py4j.overhead_s + counters.overhead_s
        return m, {}, 1, int(not ok)


WORKLOADS = {"pipeline_small": Pipeline, "operators": Operators}


def run(workload: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    """One benchmark run; returns the result object the CLI prints."""
    t_proc = time.perf_counter()
    wl = WORKLOADS[workload](seed, work)
    t0 = time.perf_counter()
    spark = start_spark(work)
    try:
        setup_s = time.perf_counter() - t0
        wl.bind(spark)
        hard_stop = t_proc + HARD_LIMIT_S
        if trace:
            metrics, labels, attempted, failed = wl.traced(t_proc)
            metrics["spark.jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)
            out = {k: {"value": metrics.get(k, 0), "unit": u} for k, u in per_layer_units().items()}
            labels.update({"workload": workload, "seed": seed, "input": wl.mix})
            print(json.dumps({"labels": labels}, default=str, sort_keys=True))
        else:
            layers.reset_peak_rss()
            walls, attempted, failed = closed_loop(wl, seconds, hard_stop)
            wall = median_or_zero(walls)
            out = {
                "wall_s": {"value": wall, "unit": "s"},
                "driver_peak_rss_mb": {"value": layers.peak_rss_mb(), "unit": "MB"},
                "setup_s": {"value": setup_s, "unit": "s"},
            }
    finally:
        stop_spark(spark)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}


def per_layer_units() -> dict[str, str]:
    def unit(name: str) -> str:
        if name.endswith("_s"):
            return "s"
        if name.endswith("_bytes") or ".bytes" in name:
            return "bytes" if not name.endswith("per_page") else "bytes/page"
        if name.endswith("_mb"):
            return "MB"
        if name.endswith("ratio"):
            return "ratio"
        return "count"

    return {n: unit(n) for n in per_layer_names()}
