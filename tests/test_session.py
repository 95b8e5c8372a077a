"""get_spark's local-cluster guarantees (VERDICT.md r4 next #6, ADVICE r4).

The executor-registration wait in session.py is load-bearing for every
scaling campaign: defaultParallelism is CAPTURED at logical-plan creation,
and a session handed back before the executors register plans 2-slice jobs
forever (the measured 256M-point eff-0.25 bug). These tests run in a
SUBPROCESS because the suite's session-scoped local[4] SparkSession would
make ``builder.getOrCreate()`` silently ignore a local-cluster master
in-process.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# one subprocess, two probes (amortizes the worker-JVM launch):
#  1. SPARK_GRAFT_LC_WAIT=0 -> the deadline expires before registration can
#     complete, so get_spark must RAISE (not silently return a 2-slice
#     session). Registration takes seconds; if this box somehow registered
#     within getOrCreate itself, the probe records that instead of failing.
#  2. normal wait -> defaultParallelism equals n_exec*cores at return, and a
#     range planned immediately carries the full width.
_PROBE = r"""
import json, os
os.environ["SPARK_GRAFT_LC_WAIT"] = "0"
from osmi_water_spark.session import get_spark
MASTER = "local-cluster[2,2,1536]"
out = {}
try:
    s0 = get_spark(app_name="lc-reg-deadline", master=MASTER, shuffle_partitions=4)
    out["deadline_error"] = None
    out["registered_within_getOrCreate"] = s0.sparkContext.defaultParallelism
    s0.stop()
except RuntimeError as e:
    out["deadline_error"] = str(e)
os.environ["SPARK_GRAFT_LC_WAIT"] = "120"
s = get_spark(app_name="lc-reg-test", master=MASTER, shuffle_partitions=4)
out["default_parallelism"] = s.sparkContext.defaultParallelism
out["range_slices"] = s.range(1000).rdd.getNumPartitions()
print("PROBE:" + json.dumps(out))
s.stop()
"""


def test_local_cluster_registration_wait():
    env = dict(os.environ)
    env["PYTHONPATH"] = REPO + (
        ":" + env["PYTHONPATH"] if env.get("PYTHONPATH") else ""
    )
    env.pop("SPARK_GRAFT_MASTER", None)
    r = subprocess.run(
        [sys.executable, "-c", _PROBE],
        capture_output=True, text=True, timeout=600, env=env, cwd=REPO,
    )
    lines = [l for l in r.stdout.splitlines() if l.startswith("PROBE:")]
    if r.returncode != 0 or not lines:
        pytest.skip(
            "local-cluster could not start in this env: "
            f"rc={r.returncode} stderr tail: {r.stderr[-500:]}"
        )
    got = json.loads(lines[-1][len("PROBE:"):])
    # the success path: a session returned by get_spark is FULLY registered
    assert got["default_parallelism"] == 4
    assert got["range_slices"] == 4
    # the failure path: an expired deadline raises instead of falling
    # through (skip only if this box registered inside getOrCreate itself)
    if got["deadline_error"] is not None:
        assert "failed to register" in got["deadline_error"]
    else:
        assert got["registered_within_getOrCreate"] == 4


# a fresh driver: PySpark reads the debugging conf once per process, and
# IPython, once imported, stays in sys.modules
_NO_CAPTURE_PROBE = r"""
import json, sys
from pyspark.sql import functions as F
from osmi_water_spark.session import get_spark
s = get_spark(app_name="no-call-site-capture", master="local[1]", shuffle_partitions=1)
cols = [(F.col("id") + F.lit(i)).alias(f"c{i}") for i in range(5)]
rows = s.range(3).select(*cols, F.when(F.col("id") > 1, "big").alias("size")).collect()
print("PROBE:" + json.dumps({
    "conf": s.conf.get("spark.python.sql.dataFrameDebugging.enabled"),
    "ipython": "IPython" in sys.modules,
    "rows": len(rows),
}))
s.stop()
"""


def test_get_spark_captures_no_call_sites():
    """get_spark turns PySpark's DataFrame debugging off: building Column
    expressions and a select walks no Python stack, so IPython (which the
    capture tries to import) never enters the driver."""
    env = dict(os.environ)
    env["PYTHONPATH"] = REPO + (
        ":" + env["PYTHONPATH"] if env.get("PYTHONPATH") else ""
    )
    env.pop("SPARK_GRAFT_MASTER", None)
    r = subprocess.run(
        [sys.executable, "-c", _NO_CAPTURE_PROBE],
        capture_output=True, text=True, timeout=600, env=env, cwd=REPO,
    )
    lines = [l for l in r.stdout.splitlines() if l.startswith("PROBE:")]
    assert r.returncode == 0 and lines, r.stderr[-2000:]
    assert json.loads(lines[-1][len("PROBE:"):]) == {
        "conf": "false", "ipython": False, "rows": 3,
    }
