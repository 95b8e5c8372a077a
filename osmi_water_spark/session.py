"""SparkSession factory tuned for this engine.

Defaults are sized for the sandbox (single JVM, local[N]) but every knob is
what we would set on a 1000-executor cluster as well: AQE on (runtime
re-planning, skew-join splitting), Arrow on (driver-side conversions are
Arrow-batched, like every Python stage), UTC session timezone (oracle
comparability), shuffle partitions ~ cores locally (on a cluster: 2-3x
total cores, or let AQE coalesce from a high initial number). PySpark's DataFrame debugging
(call-site capture on every DataFrame/Column call) is off: it made every
expression several py4j round-trips dearer and imported IPython into the
driver, at the price of query errors that no longer name the Python line
that built the failing expression.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "osmi-water-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"
    # local-cluster[n,c,memMB]: Spark's standalone-in-a-box mode — REAL
    # separate executor JVMs (the worker forks one JVM per executor), the
    # closest in-sandbox analogue of an actual cluster. Used by the scaling
    # campaigns to evidence the N->4N criterion with per-executor heaps
    # instead of one shared local[N] heap.
    lc_topo: tuple[int, int, int] | None = None
    if master.startswith("local-cluster["):
        n_exec, exec_cores, worker_mb = (
            int(x) for x in master[master.find("[") + 1 : master.find("]")].split(",")
        )
        lc_topo = (n_exec, exec_cores, worker_mb)
    # local[N] -> N parallel tasks; match shuffle width to it so small-scale
    # runs neither over- nor under-parallelize. On a real cluster this would
    # be set from executor count x cores (and AQE coalesces down).
    if shuffle_partitions is None:
        if lc_topo:
            shuffle_partitions = lc_topo[0] * lc_topo[1]
        else:
            n = master[master.find("[") + 1 : master.find("]")] if "[" in master else str(cpus)
            shuffle_partitions = cpus if n == "*" else int(n)

    # one BLAS/OMP thread per python worker: N workers x M BLAS threads
    # oversubscribes the box quadratically and *inverts* scaling at high N
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        .config("spark.sql.session.timeZone", "UTC")
        # no call-site capture: by default every DataFrame/Column call walks
        # the Python stack, tries an IPython import and sends the call site
        # to the JVM (44 py4j round-trips per small Column expression instead
        # of 9). What is lost: when a query fails, its error no longer names
        # the Python file:line of the DataFrame call that built the failing
        # expression. extra_conf can turn it back on.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
        .config("spark.executor.extraJavaOptions", "-Duser.timezone=UTC")
        # local-mode shuffle spills to tmpfs: the sandbox VM disk is slow and
        # shared; on a real cluster this is the executors' local NVMe
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-local"))
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
    )
    if lc_topo:
        # executor heap fits inside the worker's memory grant; python
        # workers on each executor need the package importable (on a real
        # cluster this is --py-files; locally the repo root suffices)
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        pypath = repo_root + (
            ":" + os.environ["PYTHONPATH"] if os.environ.get("PYTHONPATH") else ""
        )
        builder = (
            builder.config(
                "spark.executor.memory",
                os.environ.get("SPARK_GRAFT_EXEC_MEM", f"{max(1024, lc_topo[2] - 512)}m"),
            )
            .config("spark.executorEnv.PYTHONPATH", pypath)
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if lc_topo:
        # block until every executor has registered: defaultParallelism is
        # CAPTURED at logical-plan creation (spark.range, generators), and
        # before registration it is max(totalCores=0, 2) — a DataFrame
        # built in that window keeps 2 slices forever and silently caps a
        # whole campaign at 2-way parallelism (measured: the 256M-point
        # PIP run's probe stage ran 2 tasks on 8 cores, eff 0.25)
        import time

        want = lc_topo[0] * lc_topo[1]
        deadline = time.time() + float(os.environ.get("SPARK_GRAFT_LC_WAIT", "60"))
        while (
            spark.sparkContext.defaultParallelism < want and time.time() < deadline
        ):
            time.sleep(0.2)
        got = spark.sparkContext.defaultParallelism
        if got < want:
            # falling through silently would hand back a session whose
            # defaultParallelism may still be 2 — the exact silent 2-slice
            # plan-capture bug this wait exists to prevent (ADVICE.md r4).
            # A campaign on a mis-registered cluster is worse than no run.
            spark.stop()
            raise RuntimeError(
                f"local-cluster executors failed to register within the "
                f"deadline: defaultParallelism={got} < {want} "
                f"({lc_topo[0]} executors x {lc_topo[1]} cores). The worker "
                "JVMs may be resource-starved; raise SPARK_GRAFT_LC_WAIT or "
                "free cores/memory and retry."
            )
    return spark
