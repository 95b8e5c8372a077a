"""The pipeline's shared intermediates are local checkpoints: plans stay
flat (each downstream plan starts at a ``Scan ExistingRDD`` leaf instead of
embedding every upstream plan), and a run releases every checkpoint it does
not return."""

from __future__ import annotations

import gc
import time

import pytest

from osmi_water_spark.plans import pipeline
from osmi_water_spark.plans.pipeline import run_pipeline
from osmi_water_spark.sources import pages_gen as PG

PLAN_BYTES_MAX = 64 << 10
TABLES = ("ways", "relations", "polygons", "nodes", "tile_validation", "tile_assignment")


def _last_execution_id(store) -> int:
    execs = store.executionsList()
    return int(execs.last().executionId()) if execs.nonEmpty() else -1


def _persisted_rdd_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def _settled_persisted_rdd_ids(spark) -> set[int]:
    """Persisted RDD ids once the outputs earlier tests dropped are gone.
    Spark's ContextCleaner unpersists an RDD only after the JVM collects
    it, so without this such an RDD can vanish at any later moment, e.g.
    between the two reads of an equality check. py4j tells the JVM about
    dropped Python references from a worker thread that polls every
    second, so each round waits before it asks the JVM to collect; the
    ids are settled when two rounds read the same set."""
    gc.collect()
    ids, deadline = None, time.monotonic() + 60.0
    while time.monotonic() < deadline:
        time.sleep(2.0)
        spark.sparkContext._jvm.System.gc()
        now = _persisted_rdd_ids(spark)
        if now == ids:
            break
        ids = now
    return ids


def test_pipeline_plans_stay_flat(spark):
    """Every SQL execution of a cached-mode run (construction plus the
    output counts) and every output table's formatted plan stays under
    64 KB. A nested ``.cache()`` on the pipeline path embeds its whole
    upstream plan in every consumer's plan, which takes these to MBs.
    No execution runs a pandas node: the Python stages are Arrow ones."""
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()
    first = _last_execution_id(store) + 1
    pages = PG.pages_dataframe(spark, PG.pages_rows())
    out = run_pipeline(spark, pages, out_dir=None, with_lineage=False)
    for t in TABLES:
        assert out[t].count() > 0, t
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    last = _last_execution_id(store)
    assert last >= first
    sizes, pandas = {}, {}
    for eid in range(first, last + 1):
        ui = store.execution(eid)
        if ui.isDefined():
            plan = ui.get().physicalPlanDescription()
            sizes[eid] = len(plan.encode())
            pandas[eid] = [n for n in ("FlatMapGroupsInPandas", "MapInPandas") if n in plan]
    assert sizes and max(sizes.values()) <= PLAN_BYTES_MAX, sizes
    assert not any(pandas.values()), pandas
    for t in TABLES:
        plan = sc._jvm.PythonSQLUtils.explainString(out[t]._jdf.queryExecution(), "formatted")
        assert len(plan.encode()) <= PLAN_BYTES_MAX, (t, len(plan))


def test_cached_run_keeps_only_its_outputs(spark):
    """Cached mode: the only RDDs a run leaves persisted are its five
    materialized outputs (ways, relations, polygons, nodes, and the fused
    tiles table behind tile_validation/tile_assignment), and every output
    still reads after the intermediates are released."""
    before = _persisted_rdd_ids(spark)
    pages = PG.pages_dataframe(spark, PG.pages_rows(["w06_rivermouth_pip", "w10_relation"]))
    out = run_pipeline(spark, pages, out_dir=None, with_lineage=False)
    assert len(_persisted_rdd_ids(spark) - before) == 5
    for t in TABLES:
        rows = out[t].collect()
        assert out[t].count() == len(rows) > 0, t
    # reading the outputs persists nothing new (no lazy cache behind them)
    assert len(_persisted_rdd_ids(spark) - before) == 5


def test_checkpointed_run_releases_everything(spark, tmp_path):
    """Checkpointed mode: the outputs are sink reads, so a run leaves no
    persisted RDD behind."""
    before = _persisted_rdd_ids(spark)
    pages = PG.pages_dataframe(spark, PG.pages_rows(["w06_rivermouth_pip", "w10_relation"]))
    out = run_pipeline(spark, pages, out_dir=str(tmp_path / "ck"), with_lineage=False)
    assert _persisted_rdd_ids(spark) - before == set()
    for t in TABLES:
        assert out[t].count() > 0, t


def test_failed_run_releases_its_checkpoints(spark, monkeypatch):
    """A run that raises after its leaves are materialized releases every
    checkpoint it made before the exception propagates."""

    def fail(*args, **kwargs):
        raise RuntimeError("tile stage failed")

    monkeypatch.setattr(pipeline.TI, "tile_validation", fail)
    before = _settled_persisted_rdd_ids(spark)
    pages = PG.pages_dataframe(spark, PG.pages_rows(["w06_rivermouth_pip", "w10_relation"]))
    with pytest.raises(RuntimeError, match="tile stage failed"):
        run_pipeline(spark, pages, out_dir=None, with_lineage=False)
    assert _persisted_rdd_ids(spark) == before


@pytest.mark.parametrize("checkpointed", [False, True], ids=["cached", "checkpointed"])
def test_failed_branch_releases_every_checkpoint(spark, tmp_path, monkeypatch, checkpointed):
    """A leaf that raises while the other branches still run: the run
    re-raises its error, and only after every branch has settled, so the
    checkpoints the other branches made are released too."""

    def fail(*args, **kwargs):
        raise RuntimeError("polygon table failed")

    monkeypatch.setattr(pipeline.AR, "polygon_table", fail)
    before = _persisted_rdd_ids(spark)
    pages = PG.pages_dataframe(spark, PG.pages_rows(["w06_rivermouth_pip", "w10_relation"]))
    out_dir = str(tmp_path / "ck") if checkpointed else None
    with pytest.raises(RuntimeError, match="polygon table failed"):
        run_pipeline(spark, pages, out_dir=out_dir, with_lineage=False)
    assert _persisted_rdd_ids(spark) - before == set()


def test_once_runs_compute_once_under_contention():
    """``pipeline._once`` under more threads than cores and a short switch
    interval: the compute runs once, every caller gets its value, and a
    compute that raises raises the same error to every caller without
    running again."""
    import sys
    import threading
    from concurrent.futures import ThreadPoolExecutor

    runs = []
    start = threading.Barrier(16)

    def slow(value):
        def compute():
            runs.append(value)
            time.sleep(0.05)
            if isinstance(value, Exception):
                raise value
            return value

        return compute

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for value in (object(), RuntimeError("compute failed")):
            runs.clear()
            thunk = pipeline._once(slow(value))

            def call():
                start.wait(timeout=10)
                try:
                    return thunk()
                except RuntimeError as e:
                    return e

            with ThreadPoolExecutor(max_workers=16) as ex:
                got = [f.result(timeout=30) for f in [ex.submit(call) for _ in range(16)]]
            assert runs == [value]
            assert all(g is value for g in got)
    finally:
        sys.setswitchinterval(interval)
