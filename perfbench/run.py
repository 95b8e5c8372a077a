#!/usr/bin/env python3
"""Repository benchmark: one closed-loop run of one workload.

    python3 perfbench/run.py --workload pipeline_small --seed 1 --seconds 10 --trace 0

Run from the repository root (any directory works: paths are resolved from
this file). The last stdout line is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; ``--trace 0`` gives
the end-to-end metrics, ``--trace 1`` the per-layer ones. Everything the run
writes goes under ``.perfbench_work/`` in the repository root. See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("pipeline_small", "operators"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep Spark's scratch files inside the checkout and make the package
    importable by the Python workers Spark starts. A run may write only
    inside its checkout, so Spark's local dir (shuffle and block files)
    moves there from the session default, tmpfs under /dev/shm; every other
    session setting stays at ``get_spark``'s default."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # no JVM perf-data file under /tmp from spark-submit's launcher JVM (the
    # driver JVM gets the same flag in workloads.start_spark)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    sys.path[:0] = [ROOT, HERE]


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "osmi_water_spark", "__init__.py")):
        print(f"perfbench: no osmi_water_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(work)
    try:
        import workloads

        result = workloads.run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
